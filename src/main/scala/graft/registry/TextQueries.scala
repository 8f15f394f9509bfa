package graft.registry

import org.apache.spark.sql.functions._

import graft.ops.TextOps
import Artifacts._
import OracleSql._

/** Registry queries over [[graft.ops.TextOps]]: language id, quality rules,
  * tokens and vocabularies, n-gram models, PII, BPE and text ranking. Each
  * is declared once, its Spark form beside its DuckDB oracle. */
private[graft] object TextQueries {

  /** Deterministic PII plant for ext128 — one instance of each scrub
    * pattern class (email whose local part carries a 10-digit run the
    * `email` stage consumes before `idnum` looks, phone, ipv4, bare id
    * number), appended identically by both engines. */
  private val PiiPlantSuffix =
    " reach u9123456789@ex4.com or +12345678901 via 10.0.0.1 acct 987654321"

  val queries: Seq[Query] = Seq(
    Query("ext08_text_langid", (s, dir) =>
      TextOps.langScores(docs(s, dir))
        .select("doc_id", "score_en", "score_es", "score_zh", "predicted")
        .orderBy("doc_id"),
      s"""SELECT doc_id,
         |  CAST(len(list_filter(string_split(text, ' '),
         |    t -> t IN (${markerList("en")}))) AS BIGINT) AS score_en,
         |  CAST(len(list_filter(string_split(text, ' '),
         |    t -> t IN (${markerList("es")}))) AS BIGINT) AS score_es,
         |  CAST(len(list_filter(string_split(text, ' '),
         |    t -> t IN (${markerList("zh")}))) AS BIGINT) AS score_zh,
         |  CASE WHEN score_en >= score_es AND score_en >= score_zh THEN 'en'
         |       WHEN score_es >= score_zh THEN 'es'
         |       ELSE 'zh' END AS predicted
         |FROM documents ORDER BY doc_id""".stripMargin),

    Query("ext09_text_quality", (s, dir) =>
      TextOps.quality(docs(s, dir))
        .select("doc_id", "n_words", "n_chars_nospace", "n_stop",
          "stop_ratio", "avg_word_len", "quality_score")
        .orderBy("doc_id"),
      s"""SELECT doc_id,
         |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
         |  CAST(len(replace(text, ' ', '')) AS BIGINT) AS n_chars_nospace,
         |  CAST(len(list_filter(string_split(text, ' '),
         |    t -> t IN ($stopList))) AS BIGINT) AS n_stop,
         |  CAST(n_stop AS DOUBLE) / CAST(n_words AS DOUBLE) AS stop_ratio,
         |  CAST(n_chars_nospace AS DOUBLE) / CAST(n_words AS DOUBLE)
         |    AS avg_word_len,
         |  least(CAST(n_words AS DOUBLE) / 100.0, 1.0) * 0.5 +
         |    (CAST(n_stop AS DOUBLE) / CAST(n_words AS DOUBLE)) * 0.5
         |    AS quality_score
         |FROM documents ORDER BY doc_id""".stripMargin),

    Query("ext10_text_tokens", (s, dir) =>
      TextOps.tokenCounts(docs(s, dir))
        .select("doc_id", "n_ws_tokens", "n_bpe_est")
        .orderBy("doc_id"),
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
        |  CAST(list_sum(list_transform(string_split(text, ' '),
        |    t -> (len(t) + 3) // 4)) AS BIGINT) AS n_bpe_est
        |FROM documents ORDER BY doc_id""".stripMargin),

    Query("ext11_text_fingerprint", (s, dir) =>
      TextOps.fingerprints(docs(s, dir))
        .select("doc_id", "content_fp", "rolling_fp")
        .orderBy("doc_id"),
      s"""WITH tp AS (
         |  SELECT doc_id,
         |         unnest(string_split(text, ' ')) AS tok,
         |         unnest(range(1, len(string_split(text, ' ')) + 1)) AS pos
         |  FROM documents),
         |rf AS (
         |  SELECT doc_id,
         |         CAST(SUM((${hashSql("tok")} * pos) % $P) % $P AS BIGINT)
         |           AS rolling_fp
         |  FROM tp GROUP BY 1)
         |SELECT d.doc_id, substr(md5(lower(d.text)), 1, 16) AS content_fp,
         |       rf.rolling_fp
         |FROM documents d JOIN rf ON rf.doc_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin),

    // Gopher-style repetition quality rules: duplicate-2-gram ratio and
    // dominant-token ratio — the "is this boilerplate/spam" filter of a
    // pretraining pipeline, exact integer counts + one double division.
    Query("ext29_text_repetition", (s, dir) =>
      TextOps.repetition(docs(s, dir))
        .select("doc_id", "n_2grams", "n_distinct_2grams",
          "dup_2gram_ratio", "top_tok_ratio")
        .orderBy("doc_id"),
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |g AS (
        |  -- list-function range follows len(tk) exactly (no fixed cap,
        |  -- so no silent divergence from the uncapped Spark operator)
        |  SELECT doc_id,
        |         unnest(list_transform(range(1, len(tk)),
        |                i -> tk[i] || ' ' || tk[i+1])) AS g
        |  FROM toks),
        |ga AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_2grams,
        |         CAST(count(DISTINCT g) AS BIGINT) AS n_distinct_2grams
        |  FROM g GROUP BY 1),
        |t AS (SELECT doc_id, unnest(tk) AS t FROM toks),
        |tc AS (SELECT doc_id, t, count(*) AS c FROM t GROUP BY 1, 2),
        |ta AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_toks,
        |              CAST(MAX(c) AS BIGINT) AS top_tok
        |       FROM tc GROUP BY 1)
        |SELECT d.doc_id,
        |       coalesce(ga.n_2grams, 0) AS n_2grams,
        |       coalesce(ga.n_distinct_2grams, 0) AS n_distinct_2grams,
        |       CASE WHEN coalesce(ga.n_2grams, 0) = 0 THEN 0.0
        |            ELSE 1.0 - CAST(ga.n_distinct_2grams AS DOUBLE)
        |                       / CAST(ga.n_2grams AS DOUBLE)
        |       END AS dup_2gram_ratio,
        |       CAST(ta.top_tok AS DOUBLE) / CAST(ta.n_toks AS DOUBLE)
        |         AS top_tok_ratio
        |FROM documents d LEFT JOIN ga ON ga.doc_id = d.doc_id
        |     LEFT JOIN ta ON ta.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin),

    // Gopher-style rule FLAGS (vs ext09's blended score): each quality
    // rule is an auditable 0/1 column and keep is their conjunction —
    // all-integer, stateless codegen projection.
    Query("ext71_gopher_rules", (s, dir) =>
      TextOps.gopherRules(docs(s, dir))
        .select("doc_id", "n_toks", "mwl_q", "stop_hits",
          "r_len", "r_mwl", "r_stop", "keep")
        .orderBy("doc_id"),
      s"""WITH m AS (
         |  SELECT doc_id,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
         |    (CAST(len(replace(text, ' ', '')) AS BIGINT) * 1000)
         |      // CAST(len(string_split(text, ' ')) AS BIGINT) AS mwl_q,
         |    CAST(len(list_filter(string_split(text, ' '),
         |      t -> t IN ($stopList))) AS BIGINT) AS stop_hits
         |  FROM documents),
         |f AS (
         |  SELECT doc_id, n_toks, mwl_q, stop_hits,
         |    CAST(CASE WHEN n_toks BETWEEN ${TextOps.GopherMinToks}
         |      AND ${TextOps.GopherMaxToks} THEN 1 ELSE 0 END AS BIGINT)
         |      AS r_len,
         |    CAST(CASE WHEN mwl_q BETWEEN ${TextOps.GopherMinMwlQ}
         |      AND ${TextOps.GopherMaxMwlQ} THEN 1 ELSE 0 END AS BIGINT)
         |      AS r_mwl,
         |    CAST(CASE WHEN stop_hits >= ${TextOps.GopherMinStop}
         |      THEN 1 ELSE 0 END AS BIGINT) AS r_stop
         |  FROM m)
         |SELECT doc_id, n_toks, mwl_q, stop_hits, r_len, r_mwl, r_stop,
         |       r_len * r_mwl * r_stop AS keep
         |FROM f ORDER BY doc_id""".stripMargin),

    // Heaps'-law vocabulary growth: distinct/total tokens at doc_id-
    // ordered 10%/50%/100% prefixes — one explode, token-first-doc
    // aggregate, |pcts| output rows.
    Query("ext72_vocab_growth", (s, dir) =>
      TextOps.vocabGrowth(docs(s, dir)).orderBy("pct"),
      """WITH mx AS (SELECT max(doc_id) AS max_id FROM documents),
        |p AS (SELECT unnest([10, 50, 100]) AS pct),
        |tok AS (SELECT doc_id,
        |               unnest(string_split(text, ' ')) AS tok
        |        FROM documents),
        |fd AS (SELECT tok, min(doc_id) AS first_doc FROM tok GROUP BY 1),
        |va AS (SELECT pct, CAST(count(*) AS BIGINT) AS n_vocab
        |       FROM fd, mx, p
        |       WHERE first_doc * 100 <= max_id * pct GROUP BY 1),
        |ta AS (SELECT pct,
        |              CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
        |                AS n_tokens
        |       FROM documents, mx, p
        |       WHERE doc_id * 100 <= max_id * pct GROUP BY 1)
        |SELECT CAST(pct AS BIGINT) AS pct, n_tokens, n_vocab
        |FROM ta JOIN va USING (pct) ORDER BY pct""".stripMargin),

    // Zipf head coverage: token mass (ppm) under the top-k tokens for
    // k in {10,100,1000}; head cut via distributed TakeOrdered, rank
    // window only on the <= max(k)-row head.
    Query("ext73_zipf_head", (s, dir) =>
      TextOps.zipfHeadCoverage(docs(s, dir)).orderBy("k"),
      """WITH tc AS (
        |  SELECT tok, count(*) AS c
        |  FROM (SELECT unnest(string_split(text, ' ')) AS tok
        |        FROM documents) GROUP BY 1),
        |tot AS (SELECT SUM(c) AS total FROM tc),
        |rk AS (SELECT c,
        |              row_number() OVER (ORDER BY c DESC, tok ASC) AS rank
        |       FROM tc),
        |ks AS (SELECT unnest([10, 100, 1000]) AS k)
        |SELECT CAST(k AS BIGINT) AS k,
        |       CAST(count(*) AS BIGINT) AS n_head,
        |       CAST(SUM(c) AS BIGINT) AS covered,
        |       (CAST(SUM(c) AS BIGINT) * 1000000)
        |         // (SELECT CAST(total AS BIGINT) FROM tot) AS coverage_q
        |FROM rk, ks WHERE rank <= k GROUP BY k ORDER BY k""".stripMargin),

    // Per-language tokenizer fertility: model-token cost multiplier
    // (bpe-estimate vs whitespace tokens, ppm) per lang.
    Query("ext75_token_fertility", (s, dir) =>
      TextOps.tokenFertility(docs(s, dir)).orderBy("lang"),
      """WITH g AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS ws_tokens,
        |    CAST(SUM(list_sum(list_transform(string_split(text, ' '),
        |      t -> (len(t) + 3) // 4))) AS BIGINT) AS bpe_tokens
        |  FROM documents GROUP BY lang)
        |SELECT lang, n_docs, ws_tokens, bpe_tokens,
        |       (bpe_tokens * 1000000) // ws_tokens AS fertility_q
        |FROM g ORDER BY lang""".stripMargin),

    // PII scrub audit card per source: per-pattern hit counts on raw
    // text, docs flagged by any pattern, chars before/after the
    // ordered scrub chain. The synthetic corpus carries no PII, so the
    // hit columns legitimately read zero here — the planted-fixture
    // spec (OpsSpec) carries the behavioral test; the oracle checks
    // the full card (volumes + zero hits + scrub identity) honestly.
    Query("ext92_pii_audit", (s, dir) =>
      TextOps.piiAudit(docs(s, dir)).orderBy("source"),
      // Twin of TextOps.piiAudit: hit counts per pattern on the raw text,
      // the ordered regexp_replace scrub chain, per-source card. The
      // pattern strings interpolate from TextOps.PiiPatterns — one source
      // of truth for both engines (Java-regex ∩ RE2 subset).
      {
        val hitCols = TextOps.PiiPatterns.map { case (name, pat) =>
          s"CAST(SUM(len(regexp_extract_all(text, '$pat'))) AS BIGINT)" +
            s" AS hits_$name"
        }.mkString(",\n       |       ")
        val anyHit = TextOps.PiiPatterns
          .map { case (_, pat) => s"regexp_matches(text, '$pat')" }
          .mkString("\n       |              OR ")
        val scrubbed = TextOps.PiiPatterns.foldLeft("text") {
          case (e, (name, pat)) =>
            s"regexp_replace($e, '$pat', '<${name.toUpperCase}>', 'g')"
        }
        s"""SELECT source,
           |       CAST(count(*) AS BIGINT) AS n_docs,
           |       $hitCols,
           |       CAST(SUM(CASE WHEN $anyHit
           |                THEN 1 ELSE 0 END) AS BIGINT) AS docs_flagged,
           |       CAST(SUM(length(text)) AS BIGINT) AS n_chars_raw,
           |       CAST(SUM(length($scrubbed)) AS BIGINT) AS n_chars_scrubbed
           |FROM documents GROUP BY source ORDER BY source""".stripMargin
      }),

    // PII redaction SURGERY (r10 verdict item 3 — the APPLY side of
    // ext92's audit): the ordered scrub chain per document with
    // per-stage applied-redaction counts, reassembled clean text, and
    // before/after lengths. The synthetic corpus carries no PII, so
    // the query PLANTS a deterministic PII suffix on every 7th doc in
    // BOTH engines — the oracle then exercises the real cross-engine
    // redaction chain (nonzero counts, placeholder substitution, the
    // email-consumes-digits ordering), not just the identity path;
    // untouched docs assert the byte-identical pass-through.
    Query("ext128_pii_redaction", (s, dir) => {
      val planted = docs(s, dir).withColumn("text",
        when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(PiiPlantSuffix)))
          .otherwise(col("text")))
      TextOps.redactPii(planted).orderBy("doc_id")
    },
      // Twin of TextOps.redactPii over the same planted corpus: a staged
      // CTE chain — stage i counts pattern i's matches on the text AS
      // ALREADY REDACTED by stages < i, then replaces globally. Pattern
      // strings interpolate from TextOps.PiiPatterns (one source of
      // truth; Java-regex ∩ RE2 subset).
      {
        val stages = TextOps.PiiPatterns.zipWithIndex.map {
          case ((name, pat), i) =>
            s"""s${i + 1} AS (
               |  SELECT * EXCLUDE (t),
               |         CAST(len(regexp_extract_all(t, '$pat')) AS BIGINT)
               |           AS n_redact_$name,
               |         regexp_replace(t, '$pat', '<${name.toUpperCase}>', 'g')
               |           AS t
               |  FROM s$i)""".stripMargin
        }
        val last = s"s${TextOps.PiiPatterns.length}"
        val counts = TextOps.PiiPatterns.map(p => s"n_redact_${p._1}")
        s"""WITH planted AS (
           |  SELECT doc_id,
           |         CASE WHEN doc_id % 7 = 0 THEN text || '$PiiPlantSuffix'
           |              ELSE text END AS t
           |  FROM documents),
           |s0 AS (
           |  SELECT doc_id, t, CAST(length(t) AS BIGINT) AS len_raw
           |  FROM planted),
           |${stages.mkString(",\n")}
           |SELECT doc_id, ${counts.mkString(", ")},
           |       ${counts.mkString(" + ")} AS n_redactions, len_raw,
           |       CAST(length(t) AS BIGINT) AS len_clean, t AS clean_text
           |FROM $last ORDER BY doc_id""".stripMargin
      }),

    // Per-doc rare-token (OOV-proxy) rate vs the corpus frequency
    // tail: instances of token types under a tenth of the mean type
    // frequency, as ppm of the doc's tokens — the "mostly unseen
    // vocabulary" quality flag, and ext69-novelty's counterweight.
    Query("ext80_oov_rate", (s, dir) =>
      TextOps.oovRate(docs(s, dir)).orderBy("doc_id"),
      """WITH inst AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |c AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt
        |      FROM inst GROUP BY 1),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n_types,
        |             CAST(sum(cnt) AS BIGINT) AS n_instances FROM c),
        |r AS (SELECT c.tok FROM c, t
        |      WHERE c.cnt < n_instances // (10 * n_types))
        |SELECT i.doc_id, CAST(count(*) AS BIGINT) AS n_toks,
        |       CAST(sum(CASE WHEN r.tok IS NOT NULL THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_rare,
        |       CAST((sum(CASE WHEN r.tok IS NOT NULL THEN 1 ELSE 0 END)
        |           * 1000000) // count(*) AS BIGINT) AS oov_ppm
        |FROM inst i LEFT JOIN r ON i.tok = r.tok
        |GROUP BY 1 ORDER BY doc_id""".stripMargin),

    // Per-source Gopher-rule pass rates: which sources fail which
    // rule, at what rate — the "is this feed garbage" triage table a
    // crawl operator reads before pulling a source; one aggregate
    // over ext71's flag projection.
    Query("ext84_gopher_pass_rates", (s, dir) =>
      TextOps.gopherPassRatesFromCounts(
          TextOps.gopherPassPartials(docs(s, dir)))
        .orderBy("source"),
      // ext71's rule CTEs, folded per source.
      s"""WITH m AS (
         |  SELECT source,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
         |    (CAST(len(replace(text, ' ', '')) AS BIGINT) * 1000)
         |      // CAST(len(string_split(text, ' ')) AS BIGINT) AS mwl_q,
         |    CAST(len(list_filter(string_split(text, ' '),
         |      t -> t IN ($stopList))) AS BIGINT) AS stop_hits
         |  FROM documents),
         |f AS (
         |  SELECT source,
         |    CAST(CASE WHEN n_toks BETWEEN ${TextOps.GopherMinToks}
         |      AND ${TextOps.GopherMaxToks} THEN 1 ELSE 0 END AS BIGINT)
         |      AS r_len,
         |    CAST(CASE WHEN mwl_q BETWEEN ${TextOps.GopherMinMwlQ}
         |      AND ${TextOps.GopherMaxMwlQ} THEN 1 ELSE 0 END AS BIGINT)
         |      AS r_mwl,
         |    CAST(CASE WHEN stop_hits >= ${TextOps.GopherMinStop}
         |      THEN 1 ELSE 0 END AS BIGINT) AS r_stop
         |  FROM m)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(r_len) AS BIGINT) AS pass_len,
         |  CAST(sum(r_mwl) AS BIGINT) AS pass_mwl,
         |  CAST(sum(r_stop) AS BIGINT) AS pass_stop,
         |  CAST(sum(r_len * r_mwl * r_stop) AS BIGINT) AS pass_all,
         |  CAST((CAST(sum(r_len * r_mwl * r_stop) AS BIGINT) * 1000000)
         |    // CAST(count(*) AS BIGINT) AS BIGINT) AS keep_ppm
         |FROM f GROUP BY 1 ORDER BY source""".stripMargin),

    // Per-stratum quality quantiles — the "pick the filter threshold"
    // step of corpus curation. Exact `percentile` (sort-based) — at
    // 100 TB swap for approx_percentile; the exact form is what the
    // oracle can replay.
    Query("ext24_quality_quantiles", (s, dir) =>
      TextOps.quality(docs(s, dir))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          expr("percentile(quality_score, array(0.25D, 0.5D, 0.9D))")
            .as("qs"))
        .select(col("lang"), col("n_docs"), col("qs")(0).as("p25"),
          col("qs")(1).as("p50"), col("qs")(2).as("p90"))
        .orderBy("lang"),
      s"""WITH q AS (
         |  SELECT lang,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
         |    CAST(len(list_filter(string_split(text, ' '),
         |      t -> t IN ($stopList))) AS BIGINT) AS n_stop,
         |    least(CAST(n_words AS DOUBLE) / 100.0, 1.0) * 0.5 +
         |      (CAST(n_stop AS DOUBLE) / CAST(n_words AS DOUBLE)) * 0.5
         |      AS quality_score
         |  FROM documents)
         |SELECT lang, count(*) AS n_docs,
         |       quantile_cont(quality_score, 0.25) AS p25,
         |       quantile_cont(quality_score, 0.5) AS p50,
         |       quantile_cont(quality_score, 0.9) AS p90
         |FROM q GROUP BY 1 ORDER BY 1""".stripMargin),

    // Quantile-threshold curation: keep each language's upper half by
    // quality — the ADAPTIVE per-stratum cutoff (a fixed global
    // threshold over-filters small languages and under-filters big
    // ones). The scored relation is materialized once (production
    // stores quality as a column; at 100 TB that's a written column,
    // not a checkpoint); the threshold table is |langs| rows ->
    // broadcast; the keep-pass is a scan + filter.
    Query("ext67_quantile_filter", (s, dir) => {
      val q = graft.ops.Reuse.shared(
        TextOps.quality(docs(s, dir))
          .select(col("doc_id"), col("lang"), col("quality_score")))
      val thr = q.groupBy("lang")
        .agg(expr("percentile(quality_score, 0.5D)").as("p50"))
      TextOps.quantileKeep(q, thr)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    },
      // Same score/quantile math as ext24 (proven interpolation parity);
      // the filter compares two identically-derived doubles.
      s"""WITH q AS (
         |  SELECT doc_id, lang,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
         |    CAST(len(list_filter(string_split(text, ' '),
         |      t -> t IN ($stopList))) AS BIGINT) AS n_stop,
         |    least(CAST(n_words AS DOUBLE) / 100.0, 1.0) * 0.5 +
         |      (CAST(n_stop AS DOUBLE) / CAST(n_words AS DOUBLE)) * 0.5
         |      AS quality_score
         |  FROM documents),
         |t AS (SELECT lang, quantile_cont(quality_score, 0.5) AS p50
         |      FROM q GROUP BY 1)
         |SELECT q.doc_id, q.lang
         |FROM q JOIN t USING (lang)
         |WHERE q.quality_score >= t.p50
         |ORDER BY q.doc_id""".stripMargin),

    // TF-IDF top terms per document — division-form idf (portable where
    // ln is not; order-equivalent for ranking), exact int64 scores,
    // WindowGroupLimit-bounded per-doc top-k.
    Query("ext38_tfidf_topk", (s, dir) =>
      TextOps.tfidfTopK(docs(s, dir), 5)
        .orderBy("doc_id", "rank"),
      """WITH tfc AS (
        |  SELECT doc_id, term, count(*) AS tf
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |        FROM documents)
        |  GROUP BY 1, 2),
        |dfc AS (SELECT term, count(*) AS df FROM tfc GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |sc AS (
        |  SELECT t.doc_id, t.term, t.tf,
        |         t.tf * CAST(floor(1000000.0 * (CAST(n.n_docs AS DOUBLE)
        |                / CAST(d.df AS DOUBLE))) AS BIGINT) AS score
        |  FROM tfc t JOIN dfc d USING (term) CROSS JOIN n),
        |r AS (SELECT *, row_number() OVER (
        |        PARTITION BY doc_id ORDER BY score DESC, term ASC)
        |        AS rank FROM sc)
        |SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, score,
        |       CAST(rank AS BIGINT) AS rank
        |FROM r WHERE rank <= 5 ORDER BY doc_id, rank""".stripMargin),

    // Inverted index: term -> exact df + bounded ascending posting list
    // in ONE keyed shuffle (doc-local array_distinct, TopKIds-bounded
    // postings).
    Query("ext40_inverted_index", (s, dir) =>
      TextOps.invertedIndex(docs(s, dir), 20)
        .orderBy("term"),
      """WITH pr0 AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |pairs AS (SELECT DISTINCT doc_id, term FROM pr0)
        |SELECT term, count(*) AS df,
        |       array_to_string(list_sort(list(doc_id))[1:20], ',')
        |         AS postings
        |FROM pairs GROUP BY 1 ORDER BY term""".stripMargin),

    // Bigram LM statistics: adjacent-pair counts + quantized conditional
    // probability, global top-200 via TakeOrderedAndProject.
    Query("ext41_bigram_stats", (s, dir) =>
      TextOps.bigramStats(docs(s, dir), 200),
      """WITH bg0 AS (
        |  SELECT unnest(tk[1:len(tk)-1]) AS t1, unnest(tk[2:len(tk)]) AS t2
        |  FROM (SELECT string_split(text, ' ') AS tk FROM documents)),
        |c AS (SELECT t1, t2, count(*) AS c FROM bg0 GROUP BY 1, 2),
        |p AS (SELECT t1, CAST(SUM(c) AS BIGINT) AS ct FROM c GROUP BY 1)
        |SELECT c.t1, c.t2, c.c,
        |       CAST(floor(1000000.0 * (CAST(c.c AS DOUBLE)
        |            / CAST(p.ct AS DOUBLE))) AS BIGINT) AS p_q
        |FROM c JOIN p USING (t1)
        |ORDER BY c.c DESC, c.t1, c.t2 LIMIT 200""".stripMargin),

    // LM-based quality filter: per-doc floor-mean quantized bigram
    // conditional probability against the self-built corpus LM
    // (CCNet-shape fluency scoring, exact int64 — no libm log).
    Query("ext42_lm_quality", (s, dir) =>
      TextOps.lmQuality(docs(s, dir))
        .orderBy("doc_id"),
      """WITH bg AS (
        |  SELECT doc_id, unnest(tk[1:len(tk)-1]) AS t1,
        |         unnest(tk[2:len(tk)]) AS t2
        |  FROM (SELECT doc_id, string_split(text, ' ') AS tk
        |        FROM documents)),
        |c AS (SELECT t1, t2, count(*) AS c FROM bg GROUP BY 1, 2),
        |p AS (SELECT t1, CAST(SUM(c) AS BIGINT) AS ct FROM c GROUP BY 1),
        |lm AS (
        |  SELECT c.t1, c.t2,
        |         CAST(floor(1000000.0 * (CAST(c.c AS DOUBLE)
        |              / CAST(p.ct AS DOUBLE))) AS BIGINT) AS p_q
        |  FROM c JOIN p USING (t1)),
        |s AS (
        |  SELECT bg.doc_id, count(*) AS n_bigrams,
        |         CAST(SUM(lm.p_q) AS BIGINT) AS sum_pq
        |  FROM bg JOIN lm USING (t1, t2) GROUP BY 1)
        |SELECT d.doc_id,
        |       COALESCE(s.n_bigrams, 0) AS n_bigrams,
        |       COALESCE(s.sum_pq // s.n_bigrams, 0) AS lm_q,
        |       CAST(CASE WHEN COALESCE(s.sum_pq // s.n_bigrams, 0) >= 34500
        |            THEN 1 ELSE 0 END AS BIGINT) AS fluent
        |FROM documents d LEFT JOIN s USING (doc_id)
        |ORDER BY doc_id""".stripMargin),

    // T5-style span corruption: deterministic masked-span training
    // pairs (sentinel input + span targets) — the hash draw makes the
    // corruption reproducible across engines, so even the generated
    // training text is oracle-checked.
    Query("ext46_span_corruption", (s, dir) =>
      TextOps.spanCorruption(docs(s, dir))
        .orderBy("doc_id"),
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(tk) AS tok, unnest(range(len(tk))) AS pos
         |  FROM (SELECT doc_id, string_split(text, ' ') AS tk
         |        FROM documents)),
         |f AS (
         |  SELECT doc_id, pos, tok,
         |         (${hashSql("'mask:' || CAST(doc_id AS VARCHAR) || ':' || CAST(pos AS VARCHAR)")} % 1000) < 150 AS m
         |  FROM toks),
         |mk AS (
         |  SELECT doc_id, pos, tok,
         |         pos - row_number() OVER (PARTITION BY doc_id
         |                                  ORDER BY pos) AS grp
         |  FROM f WHERE m),
         |sp AS (
         |  SELECT doc_id, pos, tok, grp,
         |         dense_rank() OVER (PARTITION BY doc_id ORDER BY grp) - 1
         |           AS span,
         |         row_number() OVER (PARTITION BY doc_id, grp
         |                            ORDER BY pos) = 1 AS first
         |  FROM mk),
         |inrows AS (
         |  SELECT doc_id, pos, 0 AS sub, tok AS out FROM f WHERE NOT m
         |  UNION ALL
         |  SELECT doc_id, pos, 0, '<X' || CAST(span AS VARCHAR) || '>'
         |  FROM sp WHERE first),
         |trows AS (
         |  SELECT doc_id, pos, 0 AS sub,
         |         '<X' || CAST(span AS VARCHAR) || '>' AS out
         |  FROM sp WHERE first
         |  UNION ALL
         |  SELECT doc_id, pos, 1, tok FROM sp),
         |inp AS (SELECT doc_id, string_agg(out, ' ' ORDER BY pos, sub)
         |          AS input_text FROM inrows GROUP BY 1),
         |tgt AS (SELECT doc_id, string_agg(out, ' ' ORDER BY pos, sub)
         |          AS target_text FROM trows GROUP BY 1),
         |st AS (SELECT doc_id, count(*) AS n_tokens,
         |              CAST(SUM(CASE WHEN m THEN 1 ELSE 0 END) AS BIGINT)
         |                AS n_masked
         |       FROM f GROUP BY 1),
         |ns AS (SELECT doc_id, count(*) AS n_spans FROM sp
         |       WHERE first GROUP BY 1)
         |SELECT d.doc_id,
         |       COALESCE(inp.input_text, '') AS input_text,
         |       COALESCE(tgt.target_text, '') AS target_text,
         |       COALESCE(st.n_tokens, 0) AS n_tokens,
         |       COALESCE(st.n_masked, 0) AS n_masked,
         |       COALESCE(ns.n_spans, 0) AS n_spans
         |FROM documents d
         |LEFT JOIN inp USING (doc_id) LEFT JOIN tgt USING (doc_id)
         |LEFT JOIN st USING (doc_id) LEFT JOIN ns USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin),

    // Corpus-wide vocabulary: global term top-k by frequency — the seed
    // step of tokenizer/vocab construction. Partial-combined hash
    // aggregate, then TakeOrderedAndProject (per-partition top-k +
    // driver merge, no global sort); ties broken by term ASC.
    Query("ext34_vocab_topk", (s, dir) =>
      docs(s, dir)
        .select(explode(TextOps.tokens(col("text"))).as("term"))
        .groupBy("term").agg(count(lit(1)).as("tf"))
        .orderBy(col("tf").desc, col("term").asc)
        .limit(500),
      """SELECT term, count(*) AS tf
        |FROM (SELECT unnest(string_split(text, ' ')) AS term
        |      FROM documents)
        |GROUP BY 1 ORDER BY tf DESC, term ASC LIMIT 500""".stripMargin),

    // Sliding-window chunking with overlap (32-token chunks, 8 shared):
    // the context-window splitter for RAG indexing / fixed-window
    // pretraining; explode-first, all-codegen like the shingle pipeline.
    Query("ext53_chunk_overlap", (s, dir) =>
      TextOps.chunkWithOverlap(docs(s, dir), 32, 8)
        .orderBy("doc_id", "chunk_id"),
      // chunk k covers [k*24 + 1, k*24 + 32] (stride 24 = 32 - 8 overlap);
      // both engines' slices are 1-based and clamp at the array end.
      // range(0, MaxChunksPerDoc) mirrors the operator-side per-doc chunk
      // cap — the bound lives on BOTH sides (r5 ADVICE).
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk
        |             FROM documents)
        |SELECT doc_id, CAST(k AS BIGINT) AS chunk_id,
        |       CAST(k * 24 + 1 AS BIGINT) AS tok_start,
        |       CAST(least(k * 24 + 32, len(tk)) AS BIGINT) AS tok_end,
        |       CAST(len(tk) AS BIGINT) AS n_toks,
        |       array_to_string(tk[k * 24 + 1 : k * 24 + 32], ' ')
        |         AS chunk_text
        |FROM toks JOIN range(0, ${TextOps.MaxChunksPerDoc}) g(k)
        |  ON len(tk) > 0
        | AND k <= CAST(ceil(CAST(greatest(len(tk) - 32, 0) AS DOUBLE)
        |                    / 24) AS BIGINT)
        |ORDER BY doc_id, chunk_id""".stripMargin),

    // Winnowing fingerprints (MOSS): min k-gram hash per sliding window
    // of w=4 — any shared >= k+w-1-token substring shares a fingerprint
    // while only ~2/(w+1) of position hashes are stored.
    Query("ext55_winnowing", (s, dir) =>
      TextOps.winnowingFingerprints(docs(s, dir))
        .orderBy("doc_id", "fp"),
      // Same position hashes and 4000-position cap as the ext50 oracle;
      // tail windows dropped via the per-doc position count.
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk
         |             FROM documents),
         |ph AS (
         |  SELECT doc_id, i AS p,
         |         ${hashSql("tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]")} AS h
         |  FROM toks JOIN range(1, 4001) g(i) ON i <= len(tk) - 2),
         |wmin AS (
         |  SELECT doc_id, p,
         |         min(h) OVER (PARTITION BY doc_id ORDER BY p
         |           ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
         |         count(*) OVER (PARTITION BY doc_id) AS m
         |  FROM ph)
         |SELECT DISTINCT doc_id, fp
         |FROM wmin WHERE p <= greatest(1, m - 3)
         |ORDER BY doc_id, fp""".stripMargin),

    // Cross-doc boilerplate span removal (C4/CCNet "repeated paragraph"
    // stage): 16-token spans whose hash appears in >1 distinct docs are
    // dropped; each doc's clean text is its survivors re-joined in order.
    Query("ext59_boilerplate", (s, dir) =>
      TextOps.boilerplateRemoval(docs(s, dir))
        .orderBy("doc_id"),
      // string_agg skips the NULLed-out hot chunks and orders by position;
      // a fully-boilerplate doc keeps its row with '' text.
      // range(0, MaxChunksPerDoc) mirrors the operator-side chunk cap
      // (shared constant; r5 ADVICE).
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk
         |             FROM documents),
         |c AS (
         |  SELECT doc_id, k,
         |         least(k * 16 + 16, len(tk)) AS tok_end, len(tk) AS n_toks,
         |         array_to_string(tk[k * 16 + 1 : k * 16 + 16], ' ')
         |           AS chunk
         |  FROM toks JOIN range(0, ${TextOps.MaxChunksPerDoc}) g(k)
         |    ON len(tk) > 0
         |   AND k <= CAST(ceil(CAST(greatest(len(tk) - 16, 0) AS DOUBLE)
         |                      / 16) AS BIGINT)),
         |ch AS (SELECT doc_id, k, chunk, tok_end, n_toks,
         |              ${hashSql("chunk")} AS h FROM c),
         |hot AS (SELECT h FROM (
         |  SELECT h, count(DISTINCT doc_id) AS df FROM ch GROUP BY 1)
         |  WHERE df > 1),
         |m AS (
         |  SELECT doc_id, k, chunk, tok_end, n_toks,
         |         CASE WHEN h IN (SELECT h FROM hot) THEN 1 ELSE 0 END
         |           AS hot
         |  FROM ch)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
         |       CAST(SUM(hot) AS BIGINT) AS n_dropped,
         |       CAST(max(n_toks) - max(tok_end) AS BIGINT)
         |         AS n_toks_dropped,
         |       COALESCE(string_agg(CASE WHEN hot = 0 THEN chunk END,
         |                           ' ' ORDER BY k), '') AS clean_text
         |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // Corpus stats cube: docs + token totals over GROUPING SETS of
    // (lang, source) — the one relational operator class (cube/rollup)
    // absent from the reference, exercised over the documents table.
    // No NULL langs/sources exist, so '(all)' unambiguously marks the
    // rolled-up levels in both engines.
    Query("ext48_corpus_cube", (s, dir) =>
      docs(s, dir)
        .cube(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(TextOps.tokens(col("text"))).cast("long"))
            .as("n_tokens"))
        .select(coalesce(col("lang"), lit("(all)")).as("lang"),
          coalesce(col("source"), lit("(all)")).as("source"),
          col("n_docs"), col("n_tokens"))
        .orderBy("lang", "source"),
      """SELECT COALESCE(lang, '(all)') AS lang,
        |       COALESCE(source, '(all)') AS source,
        |       count(*) AS n_docs,
        |       CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
        |         AS n_tokens
        |FROM documents
        |GROUP BY CUBE (lang, source)
        |ORDER BY 1, 2""".stripMargin),

    // Normalization-sensitive duplication: distinct docs by raw md5
    // identity vs by normalized (lower/punct/whitespace) identity, per
    // source — the dup mass a C4-style normalized dedup reclaims over
    // ext01's raw-identity pass. The synthetic corpus is already
    // normalized, so the gap column reads an HONEST zero (the ext92
    // discipline); the planted-fixture spec carries the behavior.
    Query("ext104_normalization_dups", (s, dir) =>
      TextOps.normalizationDupCard(docs(s, dir)).orderBy("source"),
      // Twin of TextOps.normalizeText: lower → non-alnum to space →
      // collapse runs → trim (DuckDB regexp_replace needs the 'g' flag
      // for replace-all; Spark replaces all by default).
      """SELECT source,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(count(DISTINCT md5(text)) AS BIGINT) AS distinct_raw,
        |       CAST(count(DISTINCT md5(trim(regexp_replace(
        |           regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
        |           ' +', ' ', 'g')))) AS BIGINT) AS distinct_norm,
        |       CAST(count(DISTINCT md5(text))
        |            - count(DISTINCT md5(trim(regexp_replace(
        |           regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
        |           ' +', ' ', 'g')))) AS BIGINT) AS norm_gain,
        |       CAST(((count(DISTINCT md5(text))
        |            - count(DISTINCT md5(trim(regexp_replace(
        |           regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
        |           ' +', ' ', 'g'))))) * 1000000)
        |           // count(DISTINCT md5(text)) AS BIGINT) AS gain_ppm
        |FROM documents GROUP BY 1 ORDER BY source""".stripMargin),

    // Content drift between language subcorpora: pairwise total-
    // variation overlap of unigram distributions, ppm-quantized before
    // the min/sum (exact int64; flooring bias < 1 ppm per shared
    // type). ext82 measures share drift; this measures what the
    // content itself says.
    Query("ext105_vocab_overlap", (s, dir) =>
      TextOps.vocabOverlap(docs(s, dir)).orderBy("g_a", "g_b"),
      """WITH inst AS (
        |  SELECT lang AS g, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |cnt AS (SELECT g, tok, CAST(count(*) AS BIGINT) AS cnt
        |        FROM inst GROUP BY 1, 2),
        |tot AS (SELECT g, CAST(SUM(cnt) AS BIGINT) AS tot
        |        FROM cnt GROUP BY 1),
        |p AS (SELECT c.g, c.tok, (c.cnt * 1000000) // t.tot AS ppm
        |      FROM cnt c JOIN tot t USING (g))
        |SELECT a.g AS g_a, b.g AS g_b,
        |       CAST(count(*) AS BIGINT) AS shared_types,
        |       CAST(SUM(LEAST(a.ppm, b.ppm)) AS BIGINT) AS overlap_ppm,
        |       CAST(1000000 - SUM(LEAST(a.ppm, b.ppm)) AS BIGINT)
        |         AS tv_ppm
        |FROM p a JOIN p b ON a.tok = b.tok AND a.g < b.g
        |GROUP BY 1, 2 ORDER BY g_a, g_b""".stripMargin),

    // The full Gopher repetition block per doc: top-{2,3,4}-gram
    // position coverage and duplicate-{5..10}-gram distinct-position
    // coverage, ppm of doc tokens — completes ext29's two signals to
    // the paper's nine. Doc-local everywhere: one tokenization, one
    // bounded 9-way explode, doc-keyed count + join-back.
    Query("ext106_gopher_repetition", (s, dir) =>
      TextOps.gopherRepetitionCard(docs(s, dir)).orderBy("doc_id"),
      // Gopher repetition block: hash-identified n-grams for n in 2..10
      // under the shingle cap; top coverage = max count × n, dup
      // coverage = distinct positions under any ≥2-count n-gram.
      {
        val wideCols = (2 to 10).map(n =>
          s"max(CASE WHEN n = $n THEN cov END) AS c$n").mkString(",\n  |  ")
        val outCols = ((2 to 4).map(n => n -> s"top${n}_ppm") ++
          (5 to 10).map(n => n -> s"dup${n}_ppm")).map { case (n, name) =>
          s"CAST((COALESCE(w.c$n, 0) * 1000000) // len(string_split(d.text, ' ')) AS BIGINT) AS $name"
        }.mkString(",\n  |  ")
        s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk
           |             FROM documents),
           |inst AS (
           |  SELECT doc_id, n.n, g.i,
           |         ${hashSql("array_to_string(tk[g.i:g.i+n.n-1], ' ')")} AS h
           |  FROM toks, range(2, 11) n(n), range(1, 4001) g(i)
           |  WHERE g.i <= len(tk) - n.n + 1),
           |cnts AS (SELECT doc_id, n, h, count(*) AS c
           |         FROM inst GROUP BY 1, 2, 3),
           |top AS (SELECT doc_id, n, max(c) * n AS cov
           |        FROM cnts WHERE n <= 4 GROUP BY 1, 2),
           |dupp AS (
           |  SELECT DISTINCT i.doc_id, i.n, i.i + o.o AS p
           |  FROM inst i, cnts c, range(0, 10) o(o)
           |  WHERE c.doc_id = i.doc_id AND c.n = i.n AND c.h = i.h
           |    AND i.n >= 5 AND c.c >= 2 AND o.o < i.n),
           |dupc AS (SELECT doc_id, n, count(*) AS cov
           |         FROM dupp GROUP BY 1, 2),
           |covs AS (SELECT * FROM top UNION ALL SELECT * FROM dupc),
           |wide AS (
           |  SELECT doc_id,
           |  $wideCols
           |  FROM covs GROUP BY 1)
           |SELECT d.doc_id,
           |  CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_toks,
           |  $outCols
           |FROM documents d LEFT JOIN wide w USING (doc_id)
           |ORDER BY d.doc_id""".stripMargin
      }),

    // Stupid-backoff bigram LM document scoring over the corpus-built
    // PRUNED LM — the count-based perplexity filter (CCNet's KenLM
    // analog): kept bigrams score c(w1 w2)/c(w1), pruned transitions
    // back off to 0.4*c(w2)/N, every position contributing its
    // debiased octave (bitlen(ppm)-21); the integer log2-likelihood a
    // curation pipeline thresholds on, where ext42's lm_q is a mean
    // conditional probability with no backoff path.
    Query("ext148_lm_backoff", (s, dir) =>
      TextOps.stupidBackoffScores(docs(s, dir)).orderBy("doc_id"),
      // Stupid-backoff replay: pruned bigram LM (HAVING >= minCount),
      // unigram table, 1-row total; kept positions (1e6*cb)//cu(t1),
      // backoff (4e5*cu(t2))//N, octave = bitlen(ppm)-21 — all int64.
      """WITH bg AS (
        |  SELECT doc_id, unnest(tk[1:len(tk)-1]) AS t1,
        |         unnest(tk[2:len(tk)]) AS t2
        |  FROM (SELECT doc_id, string_split(text, ' ') AS tk
        |        FROM documents)),
        |lm AS (SELECT t1, t2, CAST(count(*) AS BIGINT) AS cb
        |       FROM bg GROUP BY 1, 2 HAVING count(*) >= 2),
        |uni AS (SELECT t, CAST(count(*) AS BIGINT) AS cu FROM (
        |          SELECT unnest(string_split(text, ' ')) AS t
        |          FROM documents) GROUP BY 1),
        |tot AS (SELECT CAST(SUM(cu) AS BIGINT) AS n_total FROM uni),
        |sp AS (
        |  SELECT bg.doc_id,
        |         CASE WHEN lm.cb IS NOT NULL AND u1.cu IS NOT NULL
        |              THEN (1000000 * lm.cb) // u1.cu
        |              ELSE (400000 * COALESCE(u2.cu, 0)) // tot.n_total
        |         END AS ppm,
        |         CASE WHEN lm.cb IS NULL THEN 1 ELSE 0 END AS bo
        |  FROM bg LEFT JOIN lm USING (t1, t2)
        |       LEFT JOIN uni u1 ON u1.t = bg.t1
        |       LEFT JOIN uni u2 ON u2.t = bg.t2, tot),
        |s AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |             CAST(SUM(bo) AS BIGINT) AS n_backoff,
        |             CAST(SUM(CAST(length(bin(greatest(ppm, 1)))
        |                  AS BIGINT) - 21) AS BIGINT) AS lm_log2q
        |      FROM sp GROUP BY 1)
        |SELECT d.doc_id, COALESCE(s.n_bigrams, 0) AS n_bigrams,
        |       COALESCE(s.n_backoff, 0) AS n_backoff,
        |       COALESCE(s.lm_log2q, 0) AS lm_log2q
        |FROM documents d LEFT JOIN s USING (doc_id)
        |ORDER BY doc_id""".stripMargin),

    // The ENCODE side of the tokenizer as a first-class card: one-pass
    // per-word replay of the stored ext111 merge table (rank-map floor
    // scan — O(achievable merges) per word, table-depth-independent;
    // r13 verdict closed: the old replay chained one Spark stage per
    // rank). Output = the full (word, cnt, n_syms) vocabulary.
    Query("ext153_bpe_encode", (s, dir) =>
      TextOps.bpeApplyCounts(docs(s, dir), bpeMergesIdx(s, dir), 3)
        .where(length(col("word")) > 0).orderBy("word"),
      // Encode-side replay: the ext111/112 bpeCtes chain ends at the
      // post-merge state s3; the vocabulary card is one GROUP BY word
      // (+ over-cap chars as single symbols, the ext112 wc shape).
      materializeCtes(
        s"""$bpeCtes
           |SELECT word, CAST(MAX(cnt) AS BIGINT) AS cnt,
           |       CAST(count(*) + greatest(length(word)
           |         - ${TextOps.BpeMaxWordLen}, 0) AS BIGINT) AS n_syms
           |FROM s3 WHERE length(word) > 0
           |GROUP BY word ORDER BY word""".stripMargin)),

    // Moore-Lewis contrastive selection: per-doc octave log-likelihood
    // under the in-domain (lang='en') stupid-backoff LM minus the
    // general-corpus LM — the classical cross-entropy-difference data
    // selector; gain >= 0 selects. One bigram explode feeds all four
    // count tables.
    Query("ext154_moore_lewis", (s, dir) =>
      TextOps.mooreLewisScores(docs(s, dir), col("lang") === "en")
        .orderBy("doc_id"),
      // Moore-Lewis: the ext148 stupid-backoff chain TWICE — general LM
      // from all documents, in-domain LM from lang='en' — then the
      // per-doc octave difference; selected = sign(gain).
      """WITH bg AS (
        |  SELECT doc_id, lang, unnest(tk[1:len(tk)-1]) AS t1,
        |         unnest(tk[2:len(tk)]) AS t2
        |  FROM (SELECT doc_id, lang, string_split(text, ' ') AS tk
        |        FROM documents)),
        |lmg AS (SELECT t1, t2, CAST(count(*) AS BIGINT) AS cb
        |        FROM bg GROUP BY 1, 2 HAVING count(*) >= 2),
        |lmi AS (SELECT t1, t2, CAST(count(*) AS BIGINT) AS cb
        |        FROM bg WHERE lang = 'en'
        |        GROUP BY 1, 2 HAVING count(*) >= 2),
        |ung AS (SELECT t, CAST(count(*) AS BIGINT) AS cu FROM (
        |          SELECT unnest(string_split(text, ' ')) AS t
        |          FROM documents) GROUP BY 1),
        |uin AS (SELECT t, CAST(count(*) AS BIGINT) AS cu FROM (
        |          SELECT unnest(string_split(text, ' ')) AS t
        |          FROM documents WHERE lang = 'en') GROUP BY 1),
        |tg AS (SELECT CAST(SUM(cu) AS BIGINT) AS n_total FROM ung),
        |ti AS (SELECT CAST(SUM(cu) AS BIGINT) AS n_total FROM uin),
        |spg AS (
        |  SELECT bg.doc_id,
        |         CASE WHEN lm.cb IS NOT NULL AND u1.cu IS NOT NULL
        |              THEN (1000000 * lm.cb) // u1.cu
        |              ELSE (400000 * COALESCE(u2.cu, 0)) // tg.n_total
        |         END AS ppm,
        |         CASE WHEN lm.cb IS NULL THEN 1 ELSE 0 END AS bo
        |  FROM bg LEFT JOIN lmg lm USING (t1, t2)
        |       LEFT JOIN ung u1 ON u1.t = bg.t1
        |       LEFT JOIN ung u2 ON u2.t = bg.t2, tg),
        |spi AS (
        |  SELECT bg.doc_id,
        |         CASE WHEN lm.cb IS NOT NULL AND u1.cu IS NOT NULL
        |              THEN (1000000 * lm.cb) // u1.cu
        |              ELSE (400000 * COALESCE(u2.cu, 0)) // ti.n_total
        |         END AS ppm,
        |         CASE WHEN lm.cb IS NULL THEN 1 ELSE 0 END AS bo
        |  FROM bg LEFT JOIN lmi lm USING (t1, t2)
        |       LEFT JOIN uin u1 ON u1.t = bg.t1
        |       LEFT JOIN uin u2 ON u2.t = bg.t2, ti),
        |sg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |              CAST(SUM(bo) AS BIGINT) AS n_backoff,
        |              CAST(SUM(CAST(length(bin(greatest(ppm, 1)))
        |                   AS BIGINT) - 21) AS BIGINT) AS lmq
        |       FROM spg GROUP BY 1),
        |si AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |              CAST(SUM(bo) AS BIGINT) AS n_backoff,
        |              CAST(SUM(CAST(length(bin(greatest(ppm, 1)))
        |                   AS BIGINT) - 21) AS BIGINT) AS lmq
        |       FROM spi GROUP BY 1)
        |SELECT d.doc_id,
        |       COALESCE(si.n_bigrams, 0) AS n_bigrams,
        |       COALESCE(si.n_backoff, 0) AS n_backoff_in,
        |       COALESCE(si.lmq, 0) AS lm_in,
        |       COALESCE(sg.n_backoff, 0) AS n_backoff_gen,
        |       COALESCE(sg.lmq, 0) AS lm_gen,
        |       COALESCE(si.lmq, 0) - COALESCE(sg.lmq, 0) AS gain_oct,
        |       CAST(CASE WHEN COALESCE(si.lmq, 0)
        |                      - COALESCE(sg.lmq, 0) >= 0
        |            THEN 1 ELSE 0 END AS BIGINT) AS selected
        |FROM documents d LEFT JOIN sg USING (doc_id)
        |     LEFT JOIN si USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin),

    // Per-doc character-distribution entropy in integer octaves — the
    // vocabulary-free garbage detector (binary/base64 reads high, spam
    // floods read low); share_ppm surprise = 21 - bitlen, ent_oct =
    // sum(n_c * surprise), mean x1000 — all-positive int64 end to end.
    Query("ext155_char_entropy", (s, dir) =>
      TextOps.charEntropy(docs(s, dir)).orderBy("doc_id"),
      // Char entropy: per-(doc, code point) counts, ppm share floored at
      // 1, surprise = 21 - bitlen(share), ent = sum(nc * surprise) — the
      // same all-positive octave algebra, so trunc-vs-floor DIV never
      // diverges.
      """WITH pc AS (
        |  SELECT doc_id, ch, CAST(count(*) AS BIGINT) AS nc
        |  FROM (SELECT doc_id, unnest(string_split(text, '')) AS ch
        |        FROM documents)
        |  WHERE length(ch) > 0 GROUP BY 1, 2),
        |wd AS (SELECT doc_id, nc,
        |              SUM(nc) OVER (PARTITION BY doc_id) AS n FROM pc),
        |sc AS (SELECT doc_id, nc, n,
        |              greatest((nc * 1000000) // n, 1) AS share_ppm
        |       FROM wd),
        |card AS (
        |  SELECT doc_id, CAST(MAX(n) AS BIGINT) AS n_chars_used,
        |         CAST(count(*) AS BIGINT) AS n_distinct_chars,
        |         CAST(SUM(nc * (21 - length(bin(share_ppm))))
        |           AS BIGINT) AS ent_oct
        |  FROM sc GROUP BY 1)
        |SELECT d.doc_id,
        |       COALESCE(c.n_chars_used, 0) AS n_chars_used,
        |       COALESCE(c.n_distinct_chars, 0) AS n_distinct_chars,
        |       COALESCE(c.ent_oct, 0) AS ent_oct,
        |       COALESCE(CAST((c.ent_oct * 1000) // c.n_chars_used
        |         AS BIGINT), 0) AS mean_millioct
        |FROM documents d LEFT JOIN card c USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin),

    // CCNet head/middle/tail perplexity buckets per language: docs
    // ranked by length-normalized stupid-backoff penalty (negated
    // octaves x1000 DIV n_bigrams — strictly positive, sign-free DIV),
    // cut into terciles over a deterministic (penalty, doc_id) order;
    // zero-bigram docs land in an explicit 'unscored' bucket.
    Query("ext156_ccnet_buckets", (s, dir) =>
      TextOps.ccnetBuckets(docs(s, dir)).orderBy("doc_id"),
      // CCNet buckets: the ext148 backoff chain, negated-octave penalty
      // per position x1000 (strictly positive — sign-free DIV), per-lang
      // tercile cut over the (penalty, doc_id) total order; zero-bigram
      // docs in an explicit 'unscored' bucket.
      """WITH bg AS (
        |  SELECT doc_id, unnest(tk[1:len(tk)-1]) AS t1,
        |         unnest(tk[2:len(tk)]) AS t2
        |  FROM (SELECT doc_id, string_split(text, ' ') AS tk
        |        FROM documents)),
        |lm AS (SELECT t1, t2, CAST(count(*) AS BIGINT) AS cb
        |       FROM bg GROUP BY 1, 2 HAVING count(*) >= 2),
        |uni AS (SELECT t, CAST(count(*) AS BIGINT) AS cu FROM (
        |          SELECT unnest(string_split(text, ' ')) AS t
        |          FROM documents) GROUP BY 1),
        |tot AS (SELECT CAST(SUM(cu) AS BIGINT) AS n_total FROM uni),
        |sp AS (
        |  SELECT bg.doc_id,
        |         CASE WHEN lm.cb IS NOT NULL AND u1.cu IS NOT NULL
        |              THEN (1000000 * lm.cb) // u1.cu
        |              ELSE (400000 * COALESCE(u2.cu, 0)) // tot.n_total
        |         END AS ppm
        |  FROM bg LEFT JOIN lm USING (t1, t2)
        |       LEFT JOIN uni u1 ON u1.t = bg.t1
        |       LEFT JOIN uni u2 ON u2.t = bg.t2, tot),
        |s AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |             CAST(SUM(CAST(length(bin(greatest(ppm, 1)))
        |                  AS BIGINT) - 21) AS BIGINT) AS lm
        |      FROM sp GROUP BY 1),
        |sc AS (SELECT d.doc_id, d.lang,
        |              COALESCE(s.n_bigrams, 0) AS n_bigrams,
        |              COALESCE(s.lm, 0) AS lm
        |       FROM documents d LEFT JOIN s USING (doc_id)),
        |r AS (SELECT doc_id, lang, n_bigrams,
        |        ((0 - lm) * 1000) // n_bigrams AS penalty_mppm,
        |        row_number() OVER (PARTITION BY lang
        |          ORDER BY ((0 - lm) * 1000) // n_bigrams, doc_id) AS rk,
        |        count(*) OVER (PARTITION BY lang) AS n
        |      FROM sc WHERE n_bigrams > 0)
        |SELECT doc_id, lang, CAST(n_bigrams AS BIGINT) AS n_bigrams,
        |       CAST(penalty_mppm AS BIGINT) AS penalty_mppm,
        |       CASE ((rk - 1) * 3) // n WHEN 0 THEN 'head'
        |            WHEN 1 THEN 'middle' ELSE 'tail' END AS bucket
        |FROM r
        |UNION ALL
        |SELECT doc_id, lang, CAST(0 AS BIGINT), CAST(0 AS BIGINT),
        |       'unscored'
        |FROM sc WHERE n_bigrams = 0
        |ORDER BY doc_id""".stripMargin),

    // Language-ID confidence margin: best minus runner-up marker score
    // (runner-up = total - max - min, no sort), per-token margin in
    // ppm, confident flag at 1000 ppm — the routing threshold ext08's
    // argmax alone can't express. Stateless codegen projection.
    Query("ext157_langid_margin", (s, dir) =>
      TextOps.langidMargin(docs(s, dir)).orderBy("doc_id"),
      // Langid margin: the ext08 marker scores + best/runner-up
      // arithmetic (runner-up = total - max - min), per-token ppm margin
      // and the 1000-ppm confident flag.
      s"""WITH s AS (
         |  SELECT doc_id,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
         |    CAST(len(list_filter(string_split(text, ' '),
         |      t -> t IN (${markerList("en")}))) AS BIGINT) AS score_en,
         |    CAST(len(list_filter(string_split(text, ' '),
         |      t -> t IN (${markerList("es")}))) AS BIGINT) AS score_es,
         |    CAST(len(list_filter(string_split(text, ' '),
         |      t -> t IN (${markerList("zh")}))) AS BIGINT) AS score_zh
         |  FROM documents),
         |m AS (
         |  SELECT doc_id, n_toks,
         |    CASE WHEN score_en >= score_es AND score_en >= score_zh
         |         THEN 'en'
         |         WHEN score_es >= score_zh THEN 'es'
         |         ELSE 'zh' END AS predicted,
         |    greatest(score_en, score_es, score_zh) AS best,
         |    score_en + score_es + score_zh
         |      - greatest(score_en, score_es, score_zh)
         |      - least(score_en, score_es, score_zh) AS second
         |  FROM s)
         |SELECT doc_id, predicted, n_toks, best, second,
         |       best - second AS margin,
         |       CAST(CASE WHEN n_toks = 0 THEN 0
         |            ELSE ((best - second) * 1000000) // n_toks
         |       END AS BIGINT) AS margin_ppm,
         |       CAST(CASE WHEN (CASE WHEN n_toks = 0 THEN 0
         |                 ELSE ((best - second) * 1000000) // n_toks
         |                 END) >= 1000
         |            THEN 1 ELSE 0 END AS BIGINT) AS confident
         |FROM m ORDER BY doc_id""".stripMargin),

    // PMI collocations: the symmetric above-chance association measure
    // (ext41 ranks raw count / conditional prob) — decimal ratio_ppm,
    // debiased bit-length octave, minCount-floored (hapax-pair
    // degeneracy), top-k by the deterministic (ratio, t1, t2) order.
    Query("ext160_pmi_collocations", (s, dir) =>
      TextOps.pmiCollocations(docs(s, dir), 100)
        .orderBy(col("ratio_ppm").desc, col("t1"), col("t2")),
      // PMI: pair/unigram counts, HUGEINT ratio_ppm, debiased octave,
      // deterministic top-k head.
      s"""WITH uni AS (
         |  SELECT t, CAST(count(*) AS BIGINT) AS cu FROM (
         |    SELECT unnest(string_split(text, ' ')) AS t
         |    FROM documents) GROUP BY 1),
         |nu AS (SELECT CAST(SUM(cu) AS BIGINT) AS nu FROM uni),
         |bg AS (
         |  SELECT unnest(tk[1:len(tk)-1]) AS t1,
         |         unnest(tk[2:len(tk)]) AS t2
         |  FROM (SELECT string_split(text, ' ') AS tk FROM documents)),
         |nb AS (SELECT CAST(count(*) AS BIGINT) AS nb FROM bg),
         |pairs AS (SELECT t1, t2, CAST(count(*) AS BIGINT) AS c
         |          FROM bg GROUP BY 1, 2 HAVING count(*) >= 5),
         |scored AS (
         |  SELECT t1, t2, c AS c_ab, ua.cu AS ca, ub.cu AS cb,
         |         CAST((CAST(c AS HUGEINT) * nu.nu * nu.nu * 1000000)
         |              // (CAST(nb.nb AS HUGEINT) * ua.cu * ub.cu)
         |           AS BIGINT) AS ratio_ppm
         |  FROM pairs JOIN uni ua ON ua.t = pairs.t1
         |       JOIN uni ub ON ub.t = pairs.t2, nu, nb)
         |SELECT t1, t2, c_ab, ca, cb, ratio_ppm,
         |       CAST(length(bin(greatest(ratio_ppm, 1))) AS BIGINT)
         |         - 20 AS pmi_oct
         |FROM scored
         |ORDER BY ratio_ppm DESC, t1, t2 LIMIT 100""".stripMargin),

    // Frequency-of-frequencies spectrum: N_r type classes for r<=10 +
    // folded tail, token mass per class, Good-Turing adjusted count
    // ppm — the Good-Turing/OOV-mass/vocab-planning relation.
    Query("ext162_freq_spectrum", (s, dir) =>
      TextOps.freqSpectrum(docs(s, dir)).orderBy("r"),
      // Frequency spectrum: count classes with folded tail, token mass,
      // Good-Turing adjusted ppm via the r+1 self-join.
      """WITH c AS (
        |  SELECT t, CAST(count(*) AS BIGINT) AS c FROM (
        |    SELECT unnest(string_split(text, ' ')) AS t
        |    FROM documents) GROUP BY 1),
        |cls AS (
        |  SELECT CASE WHEN c <= 10 THEN c ELSE -1 END AS r,
        |         CAST(count(*) AS BIGINT) AS n_types,
        |         CAST(SUM(c) AS BIGINT) AS token_mass
        |  FROM c GROUP BY 1)
        |SELECT a.r, a.n_types, a.token_mass,
        |       CAST(CASE WHEN a.r > 0 AND b.n_types IS NOT NULL
        |            THEN ((a.r + 1) * b.n_types * 1000000) // a.n_types
        |            ELSE 0 END AS BIGINT) AS gt_rstar_ppm
        |FROM cls a LEFT JOIN cls b ON b.r = a.r + 1
        |ORDER BY a.r""".stripMargin),

    // BM25 lexical top-k: integer Robertson ranking (odds-ratio idf in
    // ppm, milli tf-normalization), the sparse leg of hybrid search —
    // terms filtered before the shuffle, TakeOrdered head.
    Query("ext165_bm25_topk", (s, dir) =>
      TextOps.bm25TopK(docs(s, dir), Seq("spark", "window", "join")),
      // BM25: same integer pipeline — ppm odds-ratio idf, milli length
      // normalization, HUGEINT product sum, // 1e6 at the end.
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS tk
        |           FROM documents),
        |st AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |              CAST(sum(len(tk)) * 1000 // count(*) AS BIGINT)
        |                AS avgdl_milli FROM d),
        |h AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl,
        |             unnest(tk) AS t FROM d),
        |hits AS (SELECT doc_id, dl, t, CAST(count(*) AS BIGINT) AS tf
        |         FROM h WHERE t IN ('spark', 'window', 'join')
        |         GROUP BY 1, 2, 3),
        |dfr AS (SELECT t, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
        |        FROM hits GROUP BY 1),
        |sc AS (SELECT doc_id,
        |         CAST((2 * CAST(st.n AS HUGEINT) + 2) * 1000000
        |              // (2 * df + 1) AS BIGINT) AS idf_ppm,
        |         tf,
        |         tf * 1000 + (1200 * (250 +
        |           (750 * (dl * 1000000 // st.avgdl_milli)) // 1000))
        |           // 1000 AS den_milli
        |       FROM hits JOIN dfr USING (t), st)
        |SELECT doc_id,
        |       CAST(sum(CAST(idf_ppm AS HUGEINT) *
        |                (tf * 2200000 // den_milli)) // 1000000
        |         AS BIGINT) AS score
        |FROM sc GROUP BY doc_id
        |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin),

    // Token-label association (shortcut/label-leakage audit): count-
    // weighted presence PMI per (token, label) cell — decimal ratio,
    // octave, minCount floor, deterministic top-k.
    Query("ext167_label_assoc", (s, dir) =>
      TextOps.labelAssociation(docs(s, dir), col("lang")),
      // Label association: distinct presence explode, vocab x label cell
      // table, HUGEINT ratio, bit-length octave, top-k.
      """WITH pres AS (
        |  SELECT DISTINCT doc_id, lang AS label,
        |         unnest(string_split(text, ' ')) AS token
        |  FROM documents),
        |cells AS (SELECT token, label, CAST(count(*) AS BIGINT) AS a
        |          FROM pres GROUP BY 1, 2 HAVING count(*) >= 5),
        |tt AS (SELECT token, CAST(count(*) AS BIGINT) AS n_tok
        |       FROM pres GROUP BY 1),
        |lt AS (SELECT lang AS label, CAST(count(*) AS BIGINT) AS n_lab
        |       FROM documents GROUP BY 1),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents)
        |SELECT token, label, a, n_tok, n_lab,
        |       CAST(CAST(a AS HUGEINT) * n * 1000000
        |            // (CAST(n_tok AS HUGEINT) * n_lab) AS BIGINT)
        |         AS ratio_ppm,
        |       CAST(length(bin(greatest(
        |         CAST(CAST(a AS HUGEINT) * n * 1000000
        |              // (CAST(n_tok AS HUGEINT) * n_lab) AS BIGINT),
        |         1))) AS BIGINT) - 20 AS pmi_oct
        |FROM cells JOIN tt USING (token) JOIN lt USING (label), nn
        |ORDER BY ratio_ppm DESC, token, label LIMIT 50""".stripMargin),

    // TextRank keyword extraction: damped weighted power iteration
    // over the corpus word-adjacency graph, all fixed-point int64
    // (per-edge DIV truncation, damping blend DIV 100) — PageRank's
    // algebra as a relational loop, top-20 salient tokens.
    Query("ext145_textrank", (s, dir) =>
      TextOps.textRank(docs(s, dir))
        .orderBy(col("rank_q6").desc, col("token")),
      // Same symmetrized adjacency graph, vertex floor, and three
      // unrolled power-iteration rounds with identical integer
      // truncation points.
      {
        val iters = 3
        val damp = 85
        val rounds = (1 to iters).map { i =>
          val p = s"r${i - 1}"
          s"""c$i AS (SELECT ew.dst,
             |         CAST(SUM((${p}.r * ew.w) // ew.wout) AS BIGINT) AS cs
             |       FROM ew JOIN $p ON ${p}.v = ew.src GROUP BY 1),
             |r$i AS (SELECT ${p}.v,
             |         CAST((${100 - damp} * 1000000 +
             |               $damp * COALESCE(c$i.cs, 0)) // 100 AS BIGINT)
             |           AS r
             |       FROM $p LEFT JOIN c$i ON c$i.dst = ${p}.v),
             |""".stripMargin
        }.mkString
        s"""WITH bg AS (
           |  SELECT unnest(tk[1:len(tk)-1]) AS t1,
           |         unnest(tk[2:len(tk)]) AS t2
           |  FROM (SELECT string_split(text, ' ') AS tk FROM documents)),
           |pr AS (SELECT t1 AS src, t2 AS dst FROM bg WHERE t1 <> t2
           |       UNION ALL
           |       SELECT t2 AS src, t1 AS dst FROM bg WHERE t1 <> t2),
           |aw AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS w
           |       FROM pr GROUP BY 1, 2),
           |kp AS (SELECT src FROM (SELECT src, SUM(w) AS w0 FROM aw
           |                        GROUP BY 1) WHERE w0 >= 5),
           |e2 AS (SELECT aw.src, aw.dst, aw.w
           |       FROM aw JOIN kp USING (src)
           |            JOIN kp k2 ON k2.src = aw.dst),
           |dg AS (SELECT src, CAST(SUM(w) AS BIGINT) AS wout
           |       FROM e2 GROUP BY 1),
           |ew AS (SELECT e2.src, e2.dst, e2.w, dg.wout
           |       FROM e2 JOIN dg USING (src)),
           |r0 AS (SELECT src AS v, CAST(1000000 AS BIGINT) AS r FROM dg),
           |${rounds.stripSuffix(",\n")}
           |SELECT v AS token, r AS rank_q6 FROM r$iters
           |ORDER BY r DESC, v LIMIT 20""".stripMargin
      }),

    // Code-switch segmentation: 16-token windows language-ID'd with
    // the ext08 marker scoring, consecutive same-language windows
    // merged gaps-and-islands — per-doc language STRUCTURE where ext08
    // gives one label; segment count − 1 = code-switch count.
    Query("ext144_lang_segments", (s, dir) =>
      TextOps.langSegments(docs(s, dir))
        .orderBy("doc_id", "seg_idx"),
      // Same windowing (pos // 16 over the split token list), ext08's
      // marker scoring + tie chain per window, islands via the
      // win − row_number trick, per-doc segment reindex.
      s"""WITH tku AS (
         |  SELECT doc_id,
         |         unnest(string_split(text, ' ')) AS tok,
         |         unnest(range(0, len(string_split(text, ' ')))) AS pos
         |  FROM documents),
         |w AS (SELECT doc_id, pos // 16 AS win,
         |        CAST(SUM(CASE WHEN tok IN (${markerList("en")})
         |             THEN 1 ELSE 0 END) AS BIGINT) AS score_en,
         |        CAST(SUM(CASE WHEN tok IN (${markerList("es")})
         |             THEN 1 ELSE 0 END) AS BIGINT) AS score_es,
         |        CAST(SUM(CASE WHEN tok IN (${markerList("zh")})
         |             THEN 1 ELSE 0 END) AS BIGINT) AS score_zh
         |      FROM tku GROUP BY 1, 2),
         |p AS (SELECT doc_id, win,
         |        CASE WHEN score_en >= score_es AND score_en >= score_zh
         |             THEN 'en'
         |             WHEN score_es >= score_zh THEN 'es'
         |             ELSE 'zh' END AS lang
         |      FROM w),
         |isl AS (SELECT *, win - row_number() OVER (
         |          PARTITION BY doc_id, lang ORDER BY win) AS i
         |        FROM p),
         |seg AS (SELECT doc_id, lang, i, min(win) AS seg_start,
         |          CAST(count(*) AS BIGINT) AS n_windows
         |        FROM isl GROUP BY 1, 2, 3)
         |SELECT doc_id,
         |       CAST(row_number() OVER (PARTITION BY doc_id
         |         ORDER BY seg_start) AS BIGINT) AS seg_idx,
         |       lang, CAST(seg_start AS BIGINT) AS seg_start, n_windows
         |FROM seg ORDER BY doc_id, seg_idx""".stripMargin),

    // BPE merge-table LEARNING (Sennrich et al.): tokenizer vocabulary
    // induction as an iterative relational algorithm — one corpus pass
    // builds the word-frequency table, then every round iterates on
    // the vocab-bounded positional symbol state (argmax pair →
    // run-parity greedy merge). The missing third of the tokenizer
    // stack: ext10 applies a tokenizer, ext34 counts a vocab, this
    // LEARNS one. Output = the 3-row merge table artifact.
    Query("ext111_bpe_merges", (s, dir) =>
      bpeMergesIdx(s, dir).orderBy("merge_rank"),
      // BPE: the same three unrolled rounds — pair counts (overlapping
      // adjacencies count), (count DESC, a, b) argmax, run-parity greedy
      // merge via two windows, anti-join of absorbed positions, dense
      // renumber.
      // MATERIALIZED (r14): each round's p$r references s$(r-1) twice and
      // s$r references p/mg/t chains again — default inlining re-derives
      // the previous state ~2x per round (2^depth work).
      materializeCtes(
        s"""$bpeCtes
           |${(1 to 3).map(r =>
              s"SELECT CAST($r AS BIGINT) AS merge_rank, a AS left_sym, " +
              s"b AS right_sym, pair_count FROM t$r")
            .mkString("\nUNION ALL\n")}
           |ORDER BY merge_rank""".stripMargin)),

    // The ENCODE side + estimator pricing: true BPE token counts under
    // the ext111-learned vocabulary vs the chars/4 heuristic that
    // prices token budgets everywhere (ext62/75/78), per language —
    // how far off those budgets run, re-priced as the table deepens.
    Query("ext112_bpe_estimate_audit", (s, dir) =>
      TextOps.bpeEstimateAuditFrom(docs(s, dir), bpeMergesIdx(s, dir), 3)
        .orderBy("lang"),
      // Estimator audit: per-word symbol counts off the post-merge state
      // s3 (+ over-cap chars as single symbols), joined to per-lang word
      // instance counts; the heuristic is (len+3) DIV 4 per word.
      materializeCtes(
        s"""$bpeCtes,
           |wc AS (
           |  SELECT word,
           |         CAST(count(*) + greatest(length(word)
           |           - ${TextOps.BpeMaxWordLen}, 0) AS BIGINT) AS n_syms
           |  FROM s3 GROUP BY word),
           |lw AS (
           |  SELECT lang, tok AS word, CAST(count(*) AS BIGINT) AS n
           |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS tok
           |        FROM documents) GROUP BY 1, 2),
           |card AS (
           |  SELECT lang,
           |         CAST(SUM(l.n) AS BIGINT) AS ws_tokens,
           |         CAST(SUM(l.n * wc.n_syms) AS BIGINT)
           |           AS bpe_tokens_true,
           |         CAST(SUM(l.n * ((length(l.word) + 3) // 4)) AS BIGINT)
           |           AS bpe_tokens_est
           |  FROM lw l JOIN wc USING (word) GROUP BY 1)
           |SELECT lang, ws_tokens, bpe_tokens_true, bpe_tokens_est,
           |       CAST(CASE WHEN bpe_tokens_true = 0 THEN 0
           |            ELSE (abs(bpe_tokens_est - bpe_tokens_true)
           |                  * 1000000) // bpe_tokens_true END AS BIGINT)
           |         AS est_err_ppm
           |FROM card ORDER BY lang""".stripMargin))
  )
}
