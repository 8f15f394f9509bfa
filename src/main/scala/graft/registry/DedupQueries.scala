package graft.registry

import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Splits, TextOps}
import Artifacts._
import OracleSql._

/** Registry queries over [[graft.ops.Dedup]] and [[graft.ops.Components]]:
  * exact and near-duplicate detectors, their recall audits, clusters, spans
  * and decontamination. Each is declared once, its Spark form beside its
  * DuckDB oracle. */
private[graft] object DedupQueries {

  val queries: Seq[Query] = Seq(
    Query("ext01_dedup_exact", (s, dir) =>
      Dedup.exact(docs(s, dir)).orderBy("content_hash"),
      """SELECT md5(text) AS content_hash, min(doc_id) AS keeper_id,
        |       count(*) AS dup_count
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin),

    Query("ext02_dedup_ngram_jaccard", (s, dir) =>
      Dedup.ngramJaccard(docs(s, dir)).orderBy("id_a", "id_b"),
      s"""$ShingleSql,
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         |inter AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
         |  FROM sh a JOIN sh b USING (h)
         |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
         |SELECT id_a, id_b, n_inter,
         |       CAST(n_inter AS DOUBLE) /
         |         CAST(na.n + nb.n - n_inter AS DOUBLE) AS jaccard
         |FROM inter JOIN sizes na ON na.doc_id = id_a
         |           JOIN sizes nb ON nb.doc_id = id_b
         |WHERE CAST(n_inter AS DOUBLE) /
         |        CAST(na.n + nb.n - n_inter AS DOUBLE) >= 0.1
         |ORDER BY id_a, id_b""".stripMargin),

    Query("ext03_dedup_minhash_lsh", (s, dir) =>
      Dedup.minhashLsh(docs(s, dir)).orderBy("id_a", "id_b"),
      s"""$ShingleSql,
         |sig AS (
         |  SELECT doc_id,
         |         $minhashMinsSql
         |  FROM sh GROUP BY 1),
         |bands AS (
         |  SELECT doc_id, b.band_id,
         |         CASE b.band_id $bandSigSql END AS band_sig
         |  FROM sig, (VALUES (0), (1), (2), (3)) b(band_id)),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
         |  FROM bands a JOIN bands b2 USING (band_id, band_sig)
         |  WHERE a.doc_id < b2.doc_id)
         |SELECT id_a, id_b,
         |       CAST($eqCountSql AS DOUBLE) / ${Dedup.NumHashes} AS est_jaccard
         |FROM cand JOIN sig sa ON sa.doc_id = id_a
         |          JOIN sig sb ON sb.doc_id = id_b
         |ORDER BY id_a, id_b""".stripMargin),

    Query("ext04_dedup_simhash", (s, dir) =>
      Dedup.simhashPairs(docs(s, dir)).orderBy("id_a", "id_b"),
      s"""WITH th AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
         |  FROM documents),
         |h AS (SELECT doc_id, ${hashSql("tok")} AS h FROM th),
         |votes AS (
         |  SELECT doc_id, i,
         |         SUM(CAST(2 * ((h >> CAST(i AS INTEGER)) & 1) - 1 AS BIGINT))
         |           AS vote
         |  FROM h, range(32) r(i) GROUP BY 1, 2),
         |sh2 AS (
         |  SELECT doc_id,
         |         CAST(SUM(CASE WHEN vote > 0
         |           THEN (CAST(1 AS BIGINT) << CAST(i AS INTEGER))
         |           ELSE 0 END) AS BIGINT) AS simhash
         |  FROM votes GROUP BY 1),
         |chunks AS (
         |  SELECT doc_id, simhash, c.chunk_id,
         |         (simhash >> CAST(c.chunk_id * 8 AS INTEGER)) & 255 AS chunk
         |  FROM sh2, range(4) c(chunk_id)),
         |p AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         |         a.simhash AS sa, b.simhash AS sb
         |  FROM chunks a JOIN chunks b USING (chunk_id, chunk)
         |  WHERE a.doc_id < b.doc_id)
         |SELECT id_a, id_b,
         |       CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
         |FROM p WHERE bit_count(xor(sa, sb)) <= 3
         |ORDER BY id_a, id_b""".stripMargin),

    // Production-width simhash: 60-bit signature, 4x15-bit chunk
    // buckets (32768 per chunk vs ext04's 256) — the corpus-scale form
    // whose candidate volume the r6 10x scale smoke put at 0.28 M pairs
    // vs ext04's 8.10 M.
    Query("ext37_dedup_simhash_wide", (s, dir) =>
      Dedup.simhashPairsWide(docs(s, dir)).orderBy("id_a", "id_b"),
      // 60-bit twin of ext04: two salted token hashes feed bits 0-29 /
      // 30-59; chunk width 15.
      s"""WITH $simhashWideCtes
         |SELECT id_a, id_b,
         |       CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
         |FROM p WHERE bit_count(xor(sa, sb)) <= 3
         |ORDER BY id_a, id_b""".stripMargin),

    // End-to-end dedup pipeline: detector pairs -> kept corpus
    // (min-id representative survives each near-dup pair).
    // Pairs come from the stored LSH audit artifact's candidate side
    // (== Dedup.minhashLsh on the same corpus by construction) — the
    // detector runs once per snapshot, every consumer reads it (r9;
    // the dupClusters/pqCodebooksIndex lifecycle for the raw pairs).
    Query("ext14_dedup_pipeline", (s, dir) => {
      val d = docs(s, dir)
      Dedup.keepRepresentatives(d,
          lshAuditPairs(s, dir).filter(col("rel") === "cand")
            .select("id_a", "id_b"))
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    },
      s"""$ShingleSql,
         |sig AS (
         |  SELECT doc_id,
         |         $minhashMinsSql
         |  FROM sh GROUP BY 1),
         |bands AS (
         |  SELECT doc_id, b.band_id,
         |         CASE b.band_id $bandSigSql END AS band_sig
         |  FROM sig, (VALUES (0), (1), (2), (3)) b(band_id)),
         |dropped AS (
         |  SELECT DISTINCT b2.doc_id AS doc_id
         |  FROM bands a JOIN bands b2 USING (band_id, band_sig)
         |  WHERE a.doc_id < b2.doc_id)
         |SELECT d.doc_id, d.lang, d.source
         |FROM documents d ANTI JOIN dropped USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin),

    // The end-to-end corpus-curation composition: language filter →
    // quality floor → near-dup removal → kept corpus summary. This is the
    // pipeline a 100 TB pretraining-data run strings together from the
    // pieces above.
    Query("ext15_corpus_pipeline", (s, dir) => {
      val d = docs(s, dir)
      val scored = TextOps.quality(TextOps.langScores(d))
      // The filtered corpus feeds BOTH the detector (minhashLsh) and
      // the keeper anti-join — without materialization the whole
      // langid+quality scoring scan plans (and runs) twice (r19;
      // guide §2.4: two consumers, one pass).
      val filtered = graft.ops.Reuse.shared(scored
        .filter(col("predicted") === "en" && col("quality_score") >= 0.4)
        .select("doc_id", "text", "lang", "source"))
      val kept = Dedup.keepRepresentatives(
        filtered, Dedup.minhashLsh(filtered))
      kept.groupBy("lang", "source")
        .agg(count("*").as("kept_docs"),
          min("doc_id").as("min_doc_id"), max("doc_id").as("max_doc_id"))
        .orderBy("lang", "source")
    },
      s"""WITH scored AS (
         |  SELECT doc_id, text, lang, source,
         |    CAST(len(list_filter(string_split(text, ' '),
         |      t -> t IN (${markerList("en")}))) AS BIGINT) AS score_en,
         |    CAST(len(list_filter(string_split(text, ' '),
         |      t -> t IN (${markerList("es")}))) AS BIGINT) AS score_es,
         |    CAST(len(list_filter(string_split(text, ' '),
         |      t -> t IN (${markerList("zh")}))) AS BIGINT) AS score_zh,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
         |    CAST(len(list_filter(string_split(text, ' '),
         |      t -> t IN ($stopList))) AS BIGINT) AS n_stop,
         |    least(CAST(n_words AS DOUBLE) / 100.0, 1.0) * 0.5 +
         |      (CAST(n_stop AS DOUBLE) / CAST(n_words AS DOUBLE)) * 0.5
         |      AS quality_score,
         |    CASE WHEN score_en >= score_es AND score_en >= score_zh THEN 'en'
         |         WHEN score_es >= score_zh THEN 'es'
         |         ELSE 'zh' END AS predicted
         |  FROM documents),
         |filtered AS (
         |  SELECT doc_id, text, lang, source FROM scored
         |  WHERE predicted = 'en' AND quality_score >= 0.4),
         |${shingleCtes("filtered")},
         |sig AS (
         |  SELECT doc_id,
         |         $minhashMinsSql
         |  FROM sh GROUP BY 1),
         |bands AS (
         |  SELECT doc_id, b.band_id,
         |         CASE b.band_id $bandSigSql END AS band_sig
         |  FROM sig, (VALUES (0), (1), (2), (3)) b(band_id)),
         |dropped AS (
         |  SELECT DISTINCT b2.doc_id AS doc_id
         |  FROM bands a JOIN bands b2 USING (band_id, band_sig)
         |  WHERE a.doc_id < b2.doc_id)
         |SELECT lang, source, count(*) AS kept_docs,
         |       min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
         |FROM filtered ANTI JOIN dropped USING (doc_id)
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // Label-contradiction near-dup families: clusters of the stored
    // dedup map carrying >1 lang tag — annotation contamination keeper
    // selection alone would hide (the family dedups to ONE keeper with
    // ONE lang, silently voting). Reads the build-once cluster map.
    Query("ext74_cross_lang_dup", (s, dir) =>
      Dedup.labelConflicts(dupClusters(s, dir), docs(s, dir))
        .orderBy("cluster_id"),
      // Same transitive closure as the ext27/ext47/ext64 oracles, then
      // the per-cluster label-diversity aggregate over the doc join.
      s"""WITH RECURSIVE $clusterCtes,
         |cl AS (SELECT id AS doc_id, min(label) AS cluster_id
         |       FROM reach GROUP BY 1)
         |SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(count(DISTINCT lang) AS BIGINT) AS n_labels,
         |       min(doc_id) AS keeper_id
         |FROM cl JOIN documents USING (doc_id) GROUP BY 1
         |HAVING count(DISTINCT lang) > 1 ORDER BY 1""".stripMargin),

    // Span-level dedup decision signal (Lee et al.'s exact-substring
    // measure): per-doc token positions covered by an n-gram that also
    // occurs in ANOTHER document — position-weighted, hot shingles
    // count (noveltyScores' counterweight: novelty is distinct-shingle
    // and df-capped). min/max-per-hash sharing test, no distinct-count
    // state anywhere.
    Query("ext91_dup_span_mass", (s, dir) =>
      Dedup.dupSpanMass(docs(s, dir)).orderBy("doc_id"),
      // Twin of Dedup.dupSpanMass: positional shingles (NO distinct, no
      // hot-cap — every occurrence counts), min<>max doc per hash as the
      // cross-document sharing test, position coverage via the 0..n-1
      // offset cross join.
      s"""WITH toks AS (
         |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
         |pos AS (
         |  SELECT doc_id, i,
         |         ${hashSql("tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]")} AS h
         |  FROM toks JOIN range(1, ${Dedup.MaxShinglesPerDoc + 1}) g(i)
         |    ON i <= len(tk) - 2),
         |shared AS (
         |  SELECT h FROM pos GROUP BY h HAVING min(doc_id) <> max(doc_id)),
         |dup AS (SELECT p.doc_id, p.i FROM pos p JOIN shared USING (h)),
         |perdoc AS (SELECT doc_id, count(*) AS n_spans FROM pos GROUP BY 1),
         |dupagg AS (
         |  SELECT doc_id, count(*) AS n_dup_spans FROM dup GROUP BY 1),
         |cov AS (SELECT doc_id, count(DISTINCT i + o) AS n_covered
         |        FROM dup, range(0, 3) r(o) GROUP BY doc_id),
         |base AS (
         |  SELECT doc_id,
         |         least(len(string_split(text, ' ')),
         |               ${Dedup.MaxShinglesPerDoc + 2}) AS scanned
         |  FROM documents)
         |SELECT b.doc_id,
         |       CAST(COALESCE(p.n_spans, 0) AS BIGINT) AS n_spans,
         |       CAST(COALESCE(d.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
         |       CAST(COALESCE(c.n_covered, 0) AS BIGINT) AS n_covered_toks,
         |       CASE WHEN b.scanned = 0 OR c.n_covered IS NULL
         |            THEN CAST(0 AS BIGINT)
         |            ELSE (CAST(c.n_covered AS BIGINT) * 1000000)
         |                   // CAST(b.scanned AS BIGINT) END AS dup_mass_ppm
         |FROM base b LEFT JOIN perdoc p USING (doc_id)
         |            LEFT JOIN dupagg d USING (doc_id)
         |            LEFT JOIN cov c USING (doc_id)
         |ORDER BY b.doc_id""".stripMargin),

    // The review queue of WHAT is duplicated: top-20 cross-document
    // n-grams as text, by exact df — ext91 prices how much is
    // duplicated, this lists the offender strings (grouped by the
    // string itself: a 31-bit hash would birthday-merge counts at
    // corpus scale, and the report needs the text anyway).
    Query("ext94_top_shared_ngrams", (s, dir) =>
      Dedup.topSharedNgrams(docs(s, dir), 20),
      // Twin of Dedup.topSharedNgrams: distinct (doc, ngram-text) under
      // the position cap, exact df, df>=2, (df DESC, ngram ASC) head.
      s"""WITH toks AS (
         |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
         |pos AS (
         |  SELECT DISTINCT doc_id,
         |         tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS ngram
         |  FROM toks JOIN range(1, ${Dedup.MaxShinglesPerDoc + 1}) g(i)
         |    ON i <= len(tk) - 2),
         |dfq AS (
         |  SELECT ngram, CAST(count(*) AS BIGINT) AS df
         |  FROM pos GROUP BY 1 HAVING count(*) >= 2)
         |SELECT ngram, df FROM dfq
         |ORDER BY df DESC, ngram ASC LIMIT 20""".stripMargin),

    // MAXIMAL duplicated spans (r9 verdict item 4): the (start, length)
    // intervals ext91 prices in aggregate and ext96 cuts — the
    // curator-inspectable artifact span-length distributions are
    // computed from. Gaps-and-islands over the covered-position
    // relation: island key p − row_number(p) per doc. The listing is a
    // build-once artifact (Reuse.index) — ext127's distribution is a
    // derived view of it, not a second coverage pass.
    Query("ext125_dup_spans", (s, dir) =>
      dupSpansIdx(s, dir).orderBy("doc_id", "span_start"),
      // Maximal duplicated spans: ext91's coverage CTEs, then the
      // recursion-free islands trick — p − row_number(p) is constant
      // exactly while covered positions are consecutive.
      s"""WITH toks AS (
         |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
         |pos AS (
         |  SELECT doc_id, i,
         |         ${hashSql("tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]")} AS h
         |  FROM toks JOIN range(1, ${Dedup.MaxShinglesPerDoc + 1}) g(i)
         |    ON i <= len(tk) - 2),
         |shared AS (
         |  SELECT h FROM pos GROUP BY h HAVING min(doc_id) <> max(doc_id)),
         |dup AS (SELECT p.doc_id, p.i FROM pos p JOIN shared USING (h)),
         |cov AS (SELECT DISTINCT doc_id, i + o AS p
         |        FROM dup, range(0, 3) r(o)),
         |isl AS (SELECT doc_id, p,
         |               p - row_number() OVER (
         |                 PARTITION BY doc_id ORDER BY p) AS g
         |        FROM cov)
         |SELECT doc_id, CAST(min(p) AS BIGINT) AS span_start,
         |       CAST(count(*) AS BIGINT) AS span_len
         |FROM isl GROUP BY doc_id, g
         |ORDER BY doc_id, span_start""".stripMargin),

    // The span-length distribution card over ext125's STORED listing —
    // RefinedWeb-style duplicate-span analysis as one row per length.
    Query("ext127_dup_span_histogram", (s, dir) =>
      Dedup.dupSpanHistogramFrom(dupSpansIdx(s, dir))
        .orderBy("span_len"),
      // Histogram over the same islands relation.
      s"""WITH toks AS (
         |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
         |pos AS (
         |  SELECT doc_id, i,
         |         ${hashSql("tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]")} AS h
         |  FROM toks JOIN range(1, ${Dedup.MaxShinglesPerDoc + 1}) g(i)
         |    ON i <= len(tk) - 2),
         |shared AS (
         |  SELECT h FROM pos GROUP BY h HAVING min(doc_id) <> max(doc_id)),
         |dup AS (SELECT p.doc_id, p.i FROM pos p JOIN shared USING (h)),
         |cov AS (SELECT DISTINCT doc_id, i + o AS p
         |        FROM dup, range(0, 3) r(o)),
         |isl AS (SELECT doc_id, p,
         |               p - row_number() OVER (
         |                 PARTITION BY doc_id ORDER BY p) AS g
         |        FROM cov),
         |spans AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS span_len
         |  FROM isl GROUP BY doc_id, g)
         |SELECT span_len, CAST(count(*) AS BIGINT) AS n_spans,
         |       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |       CAST(SUM(span_len) AS BIGINT) AS total_toks
         |FROM spans GROUP BY span_len ORDER BY span_len""".stripMargin),

    // Span-level dedup SURGERY: cut every token position covered by
    // an n-gram that also occurs in a lower-id document and reassemble
    // the survivors — exactly one copy of each shared n-gram survives
    // corpus-wide (min-id keeper, the ext14/47 convention). The
    // transformation ext91's signal decides on.
    Query("ext96_dup_span_surgery", (s, dir) =>
      Dedup.dupSpanSurgery(docs(s, dir)).orderBy("doc_id"),
      // Twin of Dedup.dupSpanSurgery: positional shingles, per-hash
      // (min, max) keeper stat, 0..n-1 offset coverage, NULL-skipping
      // ordered string_agg reassembly (collect_list drops nulls on the
      // Spark side — same contract).
      s"""WITH toks AS (
         |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
         |pos AS (
         |  SELECT doc_id, i,
         |         ${hashSql("tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]")} AS h
         |  FROM toks JOIN range(1, ${Dedup.MaxShinglesPerDoc + 1}) g(i)
         |    ON i <= len(tk) - 2),
         |stat AS (
         |  SELECT h, min(doc_id) AS mn, max(doc_id) AS mx
         |  FROM pos GROUP BY h),
         |cut AS (
         |  SELECT DISTINCT p.doc_id, p.i + o AS p
         |  FROM pos p JOIN stat s USING (h), range(0, 3) r(o)
         |  WHERE s.mn <> s.mx AND p.doc_id <> s.mn),
         |tkr AS (
         |  SELECT doc_id, unnest(tk) AS tok,
         |         unnest(range(1, len(tk) + 1)) AS p
         |  FROM toks),
         |j AS (
         |  SELECT t.doc_id, t.p, t.tok, c.p AS cp
         |  FROM tkr t LEFT JOIN cut c ON c.doc_id = t.doc_id AND c.p = t.p)
         |SELECT doc_id,
         |       CAST(count(*) AS BIGINT) AS n_toks,
         |       CAST(SUM(CASE WHEN cp IS NOT NULL THEN 1 ELSE 0 END)
         |         AS BIGINT) AS n_toks_cut,
         |       COALESCE(string_agg(CASE WHEN cp IS NULL THEN tok END,
         |         ' ' ORDER BY p), '') AS clean_text
         |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // Decontamination surgery: ext96's cross-corpus form — cut every
    // training-doc span covered by a benchmark n-gram (ext32 flags the
    // docs, ext50 locates the spans, this REMOVES them). Benchmark =
    // doc_id < 20 (ext50's stand-in), corpus = the rest; the keeper-id
    // -1 composition means every match cuts.
    Query("ext97_decontamination_surgery", (s, dir) => {
      val d = docs(s, dir)
      Dedup.decontaminationSurgery(
          d.filter(col("doc_id") >= 20), d.filter(col("doc_id") < 20))
        .orderBy("doc_id")
    },
      // Twin of Dedup.decontaminationSurgery: benchmark (doc_id < 20)
      // distinct shingle hashes, corpus positional shingles, every match
      // cuts (no keeper among training docs), ext96's reassembly tail.
      s"""WITH toks AS (
         |  SELECT doc_id, string_split(text, ' ') AS tk
         |  FROM documents WHERE doc_id >= 20),
         |btoks AS (
         |  SELECT doc_id, string_split(text, ' ') AS tk
         |  FROM documents WHERE doc_id < 20),
         |bh AS (
         |  SELECT DISTINCT
         |         ${hashSql("tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]")} AS h
         |  FROM btoks JOIN range(1, ${Dedup.MaxShinglesPerDoc + 1}) g(i)
         |    ON i <= len(tk) - 2),
         |pos AS (
         |  SELECT doc_id, i,
         |         ${hashSql("tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]")} AS h
         |  FROM toks JOIN range(1, ${Dedup.MaxShinglesPerDoc + 1}) g(i)
         |    ON i <= len(tk) - 2),
         |cut AS (
         |  SELECT DISTINCT p.doc_id, p.i + o AS p
         |  FROM pos p JOIN bh USING (h), range(0, 3) r(o)),
         |tkr AS (
         |  SELECT doc_id, unnest(tk) AS tok,
         |         unnest(range(1, len(tk) + 1)) AS p
         |  FROM toks),
         |j AS (
         |  SELECT t.doc_id, t.p, t.tok, c.p AS cp
         |  FROM tkr t LEFT JOIN cut c ON c.doc_id = t.doc_id AND c.p = t.p)
         |SELECT doc_id,
         |       CAST(count(*) AS BIGINT) AS n_toks,
         |       CAST(SUM(CASE WHEN cp IS NOT NULL THEN 1 ELSE 0 END)
         |         AS BIGINT) AS n_toks_cut,
         |       COALESCE(string_agg(CASE WHEN cp IS NULL THEN tok END,
         |         ' ' ORDER BY p), '') AS clean_text
         |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // Cross-detector agreement: MinHash-LSH candidate pairs scored by
    // an INDEPENDENT representation (64-bucket feature-hashed BoW
    // cosine) — the residue (high-shingle, low-BoW pairs) is n-gram
    // coincidence a curator inspects before trusting the pair set.
    Query("ext100_lexical_agreement", (s, dir) =>
      Dedup.lexicalAgreementAudit(docs(s, dir),
        candidatePairs = Some(lshPairsIdx(s, dir))),
      // Twin of Dedup.lexicalAgreementAudit: the ext03 candidate chain +
      // 64-bucket feature-hash counts, per-pair sparse dot, quantized
      // fold.
      s"""$ShingleSql,
         |sig AS (
         |  SELECT doc_id,
         |         $minhashMinsSql
         |  FROM sh GROUP BY 1),
         |bands AS (
         |  SELECT doc_id, b.band_id,
         |         CASE b.band_id $bandSigSql END AS band_sig
         |  FROM sig, (VALUES (0), (1), (2), (3)) b(band_id)),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
         |  FROM bands a JOIN bands b2 USING (band_id, band_sig)
         |  WHERE a.doc_id < b2.doc_id),
         |tok AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
         |  FROM documents),
         |bu AS (
         |  SELECT doc_id, (${hashSql("tok")}) % 64 AS bucket,
         |         CAST(count(*) AS BIGINT) AS cnt
         |  FROM tok GROUP BY 1, 2),
         |nn AS (SELECT doc_id, CAST(SUM(cnt * cnt) AS BIGINT) AS n2
         |       FROM bu GROUP BY 1),
         |dots AS (
         |  SELECT c.id_a, c.id_b, CAST(SUM(a.cnt * b.cnt) AS BIGINT) AS dot
         |  FROM cand c JOIN bu a ON a.doc_id = c.id_a
         |              JOIN bu b ON b.doc_id = c.id_b
         |                AND b.bucket = a.bucket
         |  GROUP BY 1, 2),
         |scored AS (
         |  SELECT COALESCE(CAST(d.dot AS DOUBLE), 0.0) /
         |           sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE))
         |           AS cos
         |  FROM cand c LEFT JOIN dots d
         |    ON d.id_a = c.id_a AND d.id_b = c.id_b
         |  JOIN nn na ON na.doc_id = c.id_a
         |  JOIN nn nb ON nb.doc_id = c.id_b)
         |SELECT CAST(count(*) AS BIGINT) AS n_pairs,
         |       CAST(COALESCE(SUM(CASE WHEN cos >= ${
          Dedup.LexicalAgreeThreshold}
         |         THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_confirmed,
         |       CASE WHEN count(*) = 0 THEN CAST(0 AS BIGINT)
         |            ELSE (CAST(SUM(CASE WHEN cos >= ${
          Dedup.LexicalAgreeThreshold} THEN 1 ELSE 0 END) AS BIGINT)
         |              * 1000000) // CAST(count(*) AS BIGINT)
         |       END AS confirm_ppm,
         |       CASE WHEN count(*) = 0 THEN CAST(0 AS BIGINT)
         |            ELSE CAST(COALESCE(SUM(CAST(floor(cos * 1000000.0)
         |              AS BIGINT)), 0) AS BIGINT)
         |              // CAST(count(*) AS BIGINT)
         |       END AS mean_cos_q
         |FROM scored""".stripMargin),

    // Duplication-aware SOFT dedup: per-doc sampling weight
    // 1e6/|family| ppm off the build-once cluster map — near-dup
    // variants stay in the corpus at unduplicated draw pressure
    // (ext47's keeper is the hard-dedup alternative over the same
    // artifact).
    Query("ext79_dedup_weights", (s, dir) =>
      Dedup.dedupWeights(docs(s, dir), dupClusters(s, dir))
        .orderBy("doc_id"),
      // Same cluster CTE chain as ext27/ext47 (the stored map's SQL
      // mirror); singletons fall out of the LEFT JOIN at weight 1e6.
      s"""WITH RECURSIVE $clusterCtes,
         |cl AS (SELECT id AS doc_id, min(label) AS cluster_id
         |       FROM reach GROUP BY 1),
         |sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members
         |       FROM cl GROUP BY 1),
         |m AS (SELECT cl.doc_id, sz.n_members
         |      FROM cl JOIN sz USING (cluster_id))
         |SELECT d.doc_id, COALESCE(m.n_members, 1) AS n_members,
         |       CAST(1000000 // COALESCE(m.n_members, 1) AS BIGINT)
         |         AS weight_ppm
         |FROM documents d LEFT JOIN m USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin),

    // Corpus snapshot diff (crawl-over-crawl audit): exact-content
    // md5 identity across two snapshots (here the doc_id-parity
    // halves) — the {both, only_a, only_b} distinct-text table that
    // decides incremental ingest vs full re-dedup.
    Query("ext81_snapshot_diff", (s, dir) => {
      val d = docs(s, dir)
      Dedup.snapshotDiff(
        d.filter(col("doc_id") % 2 === 0),
        d.filter(col("doc_id") % 2 === 1))
        .orderBy("status")
    },
      """WITH a AS (SELECT DISTINCT md5(text) AS h FROM documents
        |           WHERE doc_id % 2 = 0),
        |b AS (SELECT DISTINCT md5(text) AS h FROM documents
        |      WHERE doc_id % 2 = 1),
        |j AS (SELECT a.h IS NOT NULL AS ia, b.h IS NOT NULL AS ib
        |      FROM a FULL OUTER JOIN b ON a.h = b.h)
        |SELECT CASE WHEN ia AND ib THEN 'both'
        |            WHEN ia THEN 'only_a' ELSE 'only_b' END AS status,
        |       CAST(count(*) AS BIGINT) AS n_texts
        |FROM j GROUP BY 1 ORDER BY status""".stripMargin),

    // Contamination rate by split: ext32's benchmark-overlap flags
    // joined onto ext20's split assignment — "did the eval suite leak
    // into train, and how much per split", the audit run before a
    // training job trusts its held-out numbers.
    Query("ext87_contamination_by_split", (s, dir) => {
      val d = docs(s, dir)
      val ov = Dedup.benchmarkOverlap(
          d.filter(col("doc_id") >= 20), d.filter(col("doc_id") < 20))
        .select(col("doc_id"), col("contaminated"))
      Splits.assign(d.filter(col("doc_id") >= 20), col("doc_id"))
        .select(col("doc_id"), col("split"))
        .join(ov, "doc_id")
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("contaminated")).as("n_contaminated"))
        .withColumn("contam_ppm",
          expr("(n_contaminated * 1000000) DIV n_docs"))
        .orderBy("split")
    },
      // ext32's overlap CTEs + ext20's split hash, folded per split.
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk
         |             FROM documents),
         |sh_all AS (
         |  SELECT DISTINCT doc_id,
         |         ${hashSql("tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]")} AS h
         |  FROM toks JOIN range(1, 4001) g(i) ON i <= len(tk) - 2),
         |bench AS (SELECT DISTINCT h FROM sh_all WHERE doc_id < 20),
         |corp AS (SELECT * FROM sh_all WHERE doc_id >= 20),
         |counts AS (SELECT doc_id, count(*) AS n_sh FROM corp GROUP BY 1),
         |shared AS (SELECT doc_id, count(*) AS n_shared
         |           FROM corp JOIN bench USING (h) GROUP BY 1),
         |flags AS (
         |  SELECT d.doc_id,
         |         CAST(CASE WHEN COALESCE(c.n_sh, 0) = 0 THEN 0.0
         |              ELSE CAST(COALESCE(s.n_shared, 0) AS DOUBLE)
         |                   / CAST(c.n_sh AS DOUBLE) END >= 0.8 AS BIGINT)
         |           AS contaminated,
         |         CASE WHEN ${hashSql("'split:' || CAST(d.doc_id AS VARCHAR)")}
         |                % 100 < 90 THEN 'train'
         |              WHEN ${hashSql("'split:' || CAST(d.doc_id AS VARCHAR)")}
         |                % 100 < 95 THEN 'val'
         |              ELSE 'test' END AS split
         |  FROM documents d
         |  LEFT JOIN counts c ON c.doc_id = d.doc_id
         |  LEFT JOIN shared s ON s.doc_id = d.doc_id
         |  WHERE d.doc_id >= 20)
         |SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(contaminated) AS BIGINT) AS n_contaminated,
         |       CAST((CAST(sum(contaminated) AS BIGINT) * 1000000)
         |         // CAST(count(*) AS BIGINT) AS BIGINT) AS contam_ppm
         |FROM flags GROUP BY 1 ORDER BY split""".stripMargin),

    Query("ext85_dedup_token_savings", (s, dir) => {
      // ONE corpus scan: the scored per-doc relation feeds both the
      // family aggregate and the corpus token total.
      val scored = graft.ops.Reuse.shared(TextOps.quality(docs(s, dir))
        .select(col("doc_id"), col("quality_score"),
          col("n_words").as("n_toks")))
      val fams = dupClusters(s, dir).join(scored, "doc_id")
        .groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("n_members"),
          sum(col("n_toks")).as("fam_toks"),
          max(struct(col("quality_score").as("q"),
            negate(col("doc_id")).as("nid"),
            col("n_toks").as("kt"))).as("m"))
      val tot = scored.agg(sum(col("n_toks")).as("corpus_toks"))
      // COALESCE the sums: with zero dup clusters the global aggregate
      // still emits one row, and it must read (0, 0, 0, toks, 0) — not
      // NULLs — to match the oracle's identically-guarded scalar form.
      fams.agg(count(lit(1)).as("n_families"),
          coalesce(sum(col("n_members") - 1), lit(0L)).as("docs_removed"),
          coalesce(sum(col("fam_toks") - col("m.kt")), lit(0L))
            .as("tokens_removed"))
        .crossJoin(broadcast(tot))
        .withColumn("savings_ppm",
          expr("(tokens_removed * 1000000) DIV corpus_toks"))
    },
      // Cluster map + the ext47 keeper draw (row_number mirrors the
      // max(struct) argmax: quality DESC, doc_id ASC), with token
      // counts carried through.
      s"""WITH RECURSIVE $clusterCtes,
         |cl AS (SELECT id AS doc_id, min(label) AS cluster_id
         |       FROM reach GROUP BY 1),
         |ql AS (
         |  SELECT doc_id,
         |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
         |         least(CAST(len(string_split(text, ' ')) AS DOUBLE)
         |               / 100.0, 1.0) * 0.5 +
         |         (CAST(len(list_filter(string_split(text, ' '),
         |            t -> t IN ($stopList))) AS DOUBLE)
         |          / CAST(len(string_split(text, ' ')) AS DOUBLE)) * 0.5
         |           AS quality_score
         |  FROM documents),
         |m AS (
         |  SELECT cl.cluster_id, ql.n_toks,
         |         row_number() OVER (PARTITION BY cl.cluster_id
         |           ORDER BY ql.quality_score DESC, cl.doc_id ASC) AS rn
         |  FROM cl JOIN ql USING (doc_id)),
         |fam AS (
         |  SELECT cluster_id,
         |         CAST(count(*) AS BIGINT) AS n_members,
         |         CAST(sum(n_toks) AS BIGINT) AS fam_toks,
         |         CAST(sum(CASE WHEN rn = 1 THEN n_toks ELSE 0 END)
         |           AS BIGINT) AS kt
         |  FROM m GROUP BY 1),
         |t AS (SELECT CAST(sum(n_toks) AS BIGINT) AS corpus_toks FROM ql)
         |SELECT CAST(count(*) AS BIGINT) AS n_families,
         |       COALESCE(CAST(sum(n_members - 1) AS BIGINT),
         |         CAST(0 AS BIGINT)) AS docs_removed,
         |       COALESCE(CAST(sum(fam_toks - kt) AS BIGINT),
         |         CAST(0 AS BIGINT)) AS tokens_removed,
         |       (SELECT corpus_toks FROM t) AS corpus_toks,
         |       CAST((COALESCE(CAST(sum(fam_toks - kt) AS BIGINT),
         |           CAST(0 AS BIGINT)) * 1000000)
         |         // (SELECT corpus_toks FROM t) AS BIGINT) AS savings_ppm
         |FROM fam""".stripMargin),

    // Benchmark decontamination: flag corpus docs whose n-gram shingle
    // sets overlap a held-out benchmark set (here: doc_id < 20 plays the
    // eval suite) — the train/test-leak audit every pretraining corpus
    // needs. Benchmark shingles broadcast; corpus never shuffles for the
    // membership probe.
    Query("ext32_decontaminate", (s, dir) => {
      val d = docs(s, dir)
      Dedup.benchmarkOverlap(
          d.filter(col("doc_id") >= 20), d.filter(col("doc_id") < 20))
        .orderBy("doc_id")
    },
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk
         |             FROM documents),
         |sh_all AS (
         |  SELECT DISTINCT doc_id,
         |         ${hashSql("tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]")} AS h
         |  FROM toks JOIN range(1, 4001) g(i) ON i <= len(tk) - 2),
         |bench AS (SELECT DISTINCT h FROM sh_all WHERE doc_id < 20),
         |corp AS (SELECT * FROM sh_all WHERE doc_id >= 20),
         |counts AS (SELECT doc_id, count(*) AS n_sh FROM corp GROUP BY 1),
         |shared AS (SELECT doc_id, count(*) AS n_shared
         |           FROM corp JOIN bench USING (h) GROUP BY 1)
         |SELECT d.doc_id,
         |       COALESCE(c.n_sh, 0) AS n_sh,
         |       COALESCE(s.n_shared, 0) AS n_shared,
         |       CASE WHEN COALESCE(c.n_sh, 0) = 0 THEN 0.0
         |            ELSE CAST(COALESCE(s.n_shared, 0) AS DOUBLE)
         |                 / CAST(c.n_sh AS DOUBLE) END AS overlap_frac,
         |       CAST(CASE WHEN COALESCE(c.n_sh, 0) = 0 THEN 0.0
         |            ELSE CAST(COALESCE(s.n_shared, 0) AS DOUBLE)
         |                 / CAST(c.n_sh AS DOUBLE) END >= 0.8 AS BIGINT)
         |         AS contaminated
         |FROM documents d
         |LEFT JOIN counts c ON c.doc_id = d.doc_id
         |LEFT JOIN shared s ON s.doc_id = d.doc_id
         |WHERE d.doc_id >= 20
         |ORDER BY d.doc_id""".stripMargin),

    // Span-level decontamination: WHERE the benchmark n-grams leak
    // (1-based shingle positions per doc) — the masking input that lets
    // a pipeline excise spans instead of dropping documents.
    Query("ext50_leak_spans", (s, dir) => {
      val d = docs(s, dir)
      // Driver contract: leak_positions joined to one string (empty
      // array -> ""); Dedup.benchmarkLeakSpans keeps the array API.
      Dedup.benchmarkLeakSpans(
          d.filter(col("doc_id") >= 20), d.filter(col("doc_id") < 20))
        .select(col("doc_id"), col("n_leaked"),
          array_join(col("leak_positions").cast("array<string>"), ",")
            .as("leak_positions"))
        .orderBy("doc_id")
    },
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk
         |             FROM documents),
         |pos_sh AS (
         |  SELECT doc_id, i AS pos,
         |         ${hashSql("tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]")} AS h
         |  FROM toks JOIN range(1, 4001) g(i) ON i <= len(tk) - 2),
         |bench AS (SELECT DISTINCT h FROM pos_sh WHERE doc_id < 20),
         |corp AS (SELECT * FROM pos_sh WHERE doc_id >= 20),
         |leaks AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_leaked,
         |         array_to_string(list(pos ORDER BY pos), ',')
         |           AS leak_positions
         |  FROM corp JOIN bench USING (h) GROUP BY 1)
         |SELECT d.doc_id,
         |       COALESCE(l.n_leaked, 0) AS n_leaked,
         |       COALESCE(l.leak_positions, '') AS leak_positions
         |FROM (SELECT doc_id FROM documents WHERE doc_id >= 20) d
         |LEFT JOIN leaks l USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin),

    // Detector-quality audit: recall of the MinHash-LSH candidate
    // generator vs exact n-gram-Jaccard truth at 0.5 — the measured
    // number that justifies the approximate path's band/row knobs. Both
    // detectors consume ONE materialized shingle pass inside the
    // build-once audit artifact (lshAuditPairs) that ext61's precision
    // summary also reads.
    Query("ext54_lsh_recall", (s, dir) => {
      val p = lshAuditPairs(s, dir)
      Dedup.pairRecall(p.filter(col("rel") === "truth"),
        p.filter(col("rel") === "cand"))
    },
      // Truth = the ext02 jaccard chain at 0.5; candidates = the ext03
      // band chain; recall quantized to int64 so the compare is exact.
      s"""$lshDetectorCtes,
         |m AS (
         |  SELECT CASE WHEN c.id_a IS NULL THEN NULL ELSE 1 END AS hit
         |  FROM truth t LEFT JOIN cand c
         |    ON t.id_a = c.id_a AND t.id_b = c.id_b)
         |SELECT CAST(count(*) AS BIGINT) AS n_true,
         |       CAST(COALESCE(SUM(hit), 0) AS BIGINT) AS n_detected,
         |       CAST(COALESCE(floor(1000000.0 * (CAST(SUM(hit) AS DOUBLE)
         |            / CAST(count(*) AS DOUBLE))), 0) AS BIGINT)
         |         AS recall_q
         |FROM m""".stripMargin),

    // Cross-family detector recall: the wide-simhash candidate set
    // (ext37's generator, hamming <= 3 on 60 bits) scored against the
    // SAME exact-Jaccard truth as the MinHash audit — the number that
    // picks the detector FAMILY (bands vs chunks) for a corpus, not
    // just a family's internal knobs. Truth read off the stored audit
    // artifact.
    Query("ext65_simhash_recall", (s, dir) =>
      Dedup.pairRecall(
        lshAuditPairs(s, dir).filter(col("rel") === "truth"),
        Dedup.simhashPairsWide(docs(s, dir)).select("id_a", "id_b")),
      // Cross-family recall: the wide-simhash candidate chain (ext37's
      // CTEs) scored against the same exact-Jaccard truth as the MinHash
      // audit; unreferenced minhash CTEs in the shared block cost nothing.
      s"""$lshDetectorCtes,
         |$simhashWideCtes,
         |cand_s AS (SELECT id_a, id_b FROM p
         |           WHERE bit_count(xor(sa, sb)) <= 3),
         |m AS (
         |  SELECT CASE WHEN c.id_a IS NULL THEN NULL ELSE 1 END AS hit
         |  FROM truth t LEFT JOIN cand_s c
         |    ON t.id_a = c.id_a AND t.id_b = c.id_b)
         |SELECT CAST(count(*) AS BIGINT) AS n_true,
         |       CAST(COALESCE(SUM(hit), 0) AS BIGINT) AS n_detected,
         |       CAST(COALESCE(floor(1000000.0 * (CAST(SUM(hit) AS DOUBLE)
         |            / CAST(count(*) AS DOUBLE))), 0) AS BIGINT)
         |         AS recall_q
         |FROM m""".stripMargin),

    // Wide-simhash hamming-RADIUS curve — prices the chunk detector's
    // other knob the way ext58 prices IVF probes: recall vs the same
    // exact-Jaccard truth AND verified candidate volume at radius 1/2/3,
    // as a 3-row table so the radius is picked off a curve, not ext65's
    // single point. ONE candidate generation (the 4-chunk pigeonhole
    // covers every radius <= 3); each curve row re-thresholds the
    // already-verified hamming column of the shared pair relation.
    Query("ext70_simhash_radius_curve", (s, dir) => {
      val pairs = graft.ops.Reuse.shared(
        Dedup.simhashPairsWide(docs(s, dir)))
      val truth = lshAuditPairs(s, dir).filter(col("rel") === "truth")
        .select("id_a", "id_b")
      Seq(1, 2, 3).map { r =>
        val cand = pairs.filter(col("hamming") <= r).select("id_a", "id_b")
        Dedup.pairRecall(truth, cand)
          .crossJoin(broadcast(cand.agg(count(lit(1)).as("n_cand"))))
          .select(lit(r.toLong).as("radius"), col("n_true"),
            col("n_detected"), col("recall_q"), col("n_cand"))
      }.reduce(_ unionByName _).orderBy("radius")
    },
      // The radius curve: one verified hamming relation (`ham`), three
      // re-thresholded summary rows; candidate volume via a scalar
      // subquery per row.
      s"""$lshDetectorCtes,
         |$simhashWideCtes,
         |ham AS (SELECT id_a, id_b,
         |               CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
         |        FROM p WHERE bit_count(xor(sa, sb)) <= 3)
         |${Seq(1, 2, 3).map { r =>
           s"""SELECT CAST($r AS BIGINT) AS radius,
              |       CAST(count(*) AS BIGINT) AS n_true,
              |       CAST(COALESCE(SUM(hit), 0) AS BIGINT) AS n_detected,
              |       CAST(COALESCE(floor(1000000.0 * (CAST(SUM(hit) AS DOUBLE)
              |            / CAST(count(*) AS DOUBLE))), 0) AS BIGINT)
              |         AS recall_q,
              |       (SELECT CAST(count(*) AS BIGINT) FROM ham
              |        WHERE hamming <= $r) AS n_cand
              |FROM (SELECT CASE WHEN c.id_a IS NULL THEN NULL ELSE 1 END AS hit
              |      FROM truth t LEFT JOIN ham c
              |        ON t.id_a = c.id_a AND t.id_b = c.id_b
              |           AND c.hamming <= $r) m$r""".stripMargin
         }.mkString("\nUNION ALL\n")}
         |ORDER BY radius""".stripMargin),

    // LSH candidate PRECISION — the other half of ext54's audit: the
    // fraction of emitted candidates that verify as true dups (what the
    // verify stage wastes, vs what the detector misses). Reads the same
    // build-once audit artifact as ext54.
    Query("ext61_lsh_precision", (s, dir) => {
      val p = lshAuditPairs(s, dir)
      Dedup.pairPrecision(p.filter(col("rel") === "truth"),
        p.filter(col("rel") === "cand"))
    },
      // The precision half of the same audit: candidates left-joined to
      // the exact truth — identical detector CTEs, roles swapped in the
      // tail (Dedup.pairPrecision's SQL twin).
      s"""$lshDetectorCtes,
         |m AS (
         |  SELECT CASE WHEN t.id_a IS NULL THEN NULL ELSE 1 END AS hit
         |  FROM cand c LEFT JOIN truth t
         |    ON c.id_a = t.id_a AND c.id_b = t.id_b)
         |SELECT CAST(count(*) AS BIGINT) AS n_candidates,
         |       CAST(COALESCE(SUM(hit), 0) AS BIGINT) AS n_hits,
         |       CAST(COALESCE(floor(1000000.0 * (CAST(SUM(hit) AS DOUBLE)
         |            / CAST(count(*) AS DOUBLE))), 0) AS BIGINT)
         |         AS precision_q
         |FROM m""".stripMargin),

    // Per-doc novelty: fraction of a doc's distinct shingles unique to
    // it corpus-wide (ppm) — the per-doc complement of pair dedup
    // (templated text scores near 0 even when no pair crosses a
    // threshold; high scorers carry content the corpus lacks).
    Query("ext69_novelty", (s, dir) =>
      Dedup.noveltyScores(docs(s, dir))
        .orderBy("doc_id"),
      // Distinct per-doc shingles under the ext50 position cap; df==1
      // marks corpus-unique shingles; short docs keep 0 rows via the
      // left join.
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk
         |             FROM documents),
         |s AS (
         |  SELECT DISTINCT doc_id,
         |         ${hashSql("tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]")} AS h
         |  FROM toks JOIN range(1, 4001) g(i) ON i <= len(tk) - 2),
         |df AS (SELECT h, count(*) AS df FROM s GROUP BY 1),
         |per AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
         |         CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |           AS n_unique
         |  FROM s JOIN df USING (h) GROUP BY 1)
         |SELECT d.doc_id,
         |       COALESCE(p.n_shingles, 0) AS n_shingles,
         |       COALESCE(p.n_unique, 0) AS n_unique,
         |       CASE WHEN COALESCE(p.n_shingles, 0) = 0
         |            THEN CAST(0 AS BIGINT)
         |            ELSE (p.n_unique * 1000000) // p.n_shingles END
         |         AS novelty_q
         |FROM documents d LEFT JOIN per p USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin),

    // Cross-source overlap matrix: which sources duplicate each other
    // (mirrors, syndication, re-crawls) — directional shingle
    // containment in ppm per ordered source pair, the corpus-level
    // signal doc-level dedup only finds pair by pair. Key-df cap bounds
    // per-shingle join fan-out at maxKeyFreq² (non-discriminative
    // boilerplate shingles carry no signal and are dropped on BOTH
    // engine sides).
    Query("ext68_source_overlap", (s, dir) =>
      Dedup.keyOverlap(docs(s, dir), "source")
        .orderBy("source_a", "source_b"),
      // Distinct per-source shingles under the same per-doc position cap
      // as ext50; the kdf cap mirrors Dedup.keyOverlap's maxKeyFreq.
      s"""WITH toks AS (SELECT source, string_split(text, ' ') AS tk
         |             FROM documents),
         |shk AS (
         |  SELECT DISTINCT source,
         |         ${hashSql("tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]")} AS h
         |  FROM toks JOIN range(1, 4001) g(i) ON i <= len(tk) - 2),
         |keep AS (SELECT h FROM (
         |  SELECT h, count(*) AS kdf FROM shk GROUP BY 1)
         |  WHERE kdf <= 50),
         |k AS (SELECT shk.* FROM shk JOIN keep USING (h)),
         |sizes AS (SELECT source, count(*) AS n FROM k GROUP BY 1),
         |p AS (
         |  SELECT a.source AS source_a, b.source AS source_b,
         |         count(*) AS n_shared
         |  FROM k a JOIN k b USING (h)
         |  WHERE a.source <> b.source GROUP BY 1, 2)
         |SELECT source_a, source_b,
         |       CAST(n_shared AS BIGINT) AS n_shared,
         |       (CAST(n_shared AS BIGINT) * 1000000) // CAST(s.n AS BIGINT)
         |         AS containment_q
         |FROM p JOIN sizes s ON s.source = p.source_a
         |ORDER BY source_a, source_b""".stripMargin),

    // Incremental corpus dedup: the crawl increment (doc_id % 10 < 2)
    // deduped against the established corpus through its band table —
    // only the increment is shingled; the corpus side is the stored
    // signature relation a production pipeline keeps between
    // generations.
    Query("ext36_incremental_dedup", (s, dir) => {
      val d = docs(s, dir)
      val inc = d.filter(col("doc_id") % 10 < 2)
      // r19: the corpus side reads the stored band-table artifact (its
      // documented lifecycle — see corpusBandsIdx); only the increment
      // is shingled per run, exactly the production shape the scaladoc
      // describes. ext03 still prices the full MinHash build.
      Dedup.dedupeIncrement(corpusBandsIdx(s, dir), inc)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    },
      // Two independent shingle chains (per-corpus stop-cap, like the
      // Spark side's per-call signatures); a new doc is dropped on any
      // shared band with the corpus or a lower-id increment doc.
      s"""WITH corp AS (SELECT * FROM documents WHERE doc_id % 10 >= 2),
         |inc AS (SELECT * FROM documents WHERE doc_id % 10 < 2),
         |${shingleCtes("corp", "_c")},
         |${shingleCtes("inc", "_n")},
         |sig_c AS (SELECT doc_id, $minhashMinsSql FROM sh_c GROUP BY 1),
         |sig_n AS (SELECT doc_id, $minhashMinsSql FROM sh_n GROUP BY 1),
         |bands_c AS (
         |  SELECT doc_id, b.band_id,
         |         CASE b.band_id $bandSigSql END AS band_sig
         |  FROM sig_c, (VALUES (0), (1), (2), (3)) b(band_id)),
         |bands_n AS (
         |  SELECT doc_id, b.band_id,
         |         CASE b.band_id $bandSigSql END AS band_sig
         |  FROM sig_n, (VALUES (0), (1), (2), (3)) b(band_id)),
         |partners AS (
         |  SELECT doc_id AS pid, band_id, band_sig, TRUE AS is_corp
         |  FROM bands_c
         |  UNION ALL
         |  SELECT doc_id AS pid, band_id, band_sig, FALSE AS is_corp
         |  FROM bands_n),
         |dropped AS (
         |  SELECT DISTINCT n.doc_id
         |  FROM bands_n n JOIN partners p
         |    ON p.band_id = n.band_id AND p.band_sig = n.band_sig
         |  WHERE p.is_corp OR p.pid < n.doc_id)
         |SELECT d.doc_id, d.lang, d.source
         |FROM inc d ANTI JOIN dropped USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin),

    // Exact duplicate CLUSTERS: distributed connected components over
    // the MinHash-LSH pair graph — the transitive closure that
    // keepRepresentatives (ext14) approximates in one pass. Every doc in
    // a duplicate chain maps to the min doc_id of its component.
    Query("ext27_dedup_clusters", (s, dir) =>
      dupClusters(s, dir)
        .orderBy("doc_id"),
      // The oracle computes the same transitive closure with a recursive
      // CTE (min label reachable over the undirected pair graph) — exact
      // but driver-style; the Spark operator is the per-round-shuffle
      // iterative form that scales.
      s"""WITH RECURSIVE $clusterCtes
         |SELECT id AS doc_id, min(label) AS cluster_id
         |FROM reach GROUP BY 1 ORDER BY 1""".stripMargin),

    // Quality-aware keeper selection: per duplicate cluster keep the
    // HIGHEST-quality member (tie → min id), not the min id — the
    // production policy ("keep the best copy") composed from the
    // components and quality operators. argmax is one
    // map-side-combinable max(struct(quality, -id)) per cluster — no
    // window sort over the membership.
    Query("ext47_quality_keeper", (s, dir) => {
      val d = docs(s, dir)
      val scored = TextOps.quality(d)
        .select(col("doc_id"), col("quality_score"))
      dupClusters(s, dir).join(scored, "doc_id")
        .groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("n_members"),
          max(struct(col("quality_score").as("q"),
            negate(col("doc_id")).as("nid"))).as("m"))
        .select(col("cluster_id"), negate(col("m.nid")).as("keeper_id"),
          col("n_members"), col("m.q").as("keeper_quality"))
        .orderBy("cluster_id")
    },
      s"""WITH RECURSIVE $clusterCtes,
         |cl AS (SELECT id AS doc_id, min(label) AS cluster_id
         |       FROM reach GROUP BY 1),
         |ql AS (
         |  SELECT doc_id,
         |         least(CAST(len(string_split(text, ' ')) AS DOUBLE)
         |               / 100.0, 1.0) * 0.5 +
         |         (CAST(len(list_filter(string_split(text, ' '),
         |            t -> t IN ($stopList))) AS DOUBLE)
         |          / CAST(len(string_split(text, ' ')) AS DOUBLE)) * 0.5
         |           AS quality_score
         |  FROM documents),
         |m AS (
         |  SELECT cl.cluster_id, cl.doc_id, ql.quality_score,
         |         row_number() OVER (PARTITION BY cl.cluster_id
         |           ORDER BY ql.quality_score DESC, cl.doc_id ASC) AS rn,
         |         count(*) OVER (PARTITION BY cl.cluster_id) AS n_members
         |  FROM cl JOIN ql USING (doc_id))
         |SELECT cluster_id, doc_id AS keeper_id,
         |       CAST(n_members AS BIGINT) AS n_members,
         |       quality_score AS keeper_quality
         |FROM m WHERE rn = 1 ORDER BY cluster_id""".stripMargin),

    // The soft-dedup capacity ledger (ext85's counterpart for the SOFT
    // policy): per source, raw token mass vs the EFFECTIVE mass under
    // ext79's duplication-aware weights — sum(n_toks x weight_ppm)/1e6,
    // integer-exact and order-independent (the division happens after
    // the long sum). ext85 answers "what would hard dedup delete";
    // this answers "what does down-weighting train on" — the number a
    // token-budgeted mixture (ext62/75/78) plugs in when it keeps the
    // variants. One corpus scan joined to the weights; the cluster map
    // is the shared build-once artifact.
    Query("ext131_soft_dedup_ledger", (s, dir) => {
      val w = Dedup.dedupWeights(docs(s, dir), dupClusters(s, dir))
      docs(s, dir).select(col("doc_id"), col("source"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_toks"))
        .join(w, "doc_id")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_toks")).as("raw_toks"),
          sum(col("n_toks") * col("weight_ppm")).as("wsum"))
        .select(col("source"), col("n_docs"), col("raw_toks"),
          expr("wsum DIV 1000000").as("eff_toks"),
          expr("((raw_toks - (wsum DIV 1000000)) * 1000000) DIV raw_toks")
            .as("downweight_ppm"))
        .orderBy("source")
    },
      s"""WITH RECURSIVE $clusterCtes,
         |cl AS (SELECT id AS doc_id, min(label) AS cluster_id
         |       FROM reach GROUP BY 1),
         |sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members
         |       FROM cl GROUP BY 1),
         |m AS (SELECT cl.doc_id, sz.n_members
         |      FROM cl JOIN sz USING (cluster_id)),
         |w AS (SELECT d.doc_id, d.source,
         |             CAST(len(string_split(d.text, ' ')) AS BIGINT)
         |               AS n_toks,
         |             CAST(1000000 // COALESCE(m.n_members, 1) AS BIGINT)
         |               AS weight_ppm
         |      FROM documents d LEFT JOIN m USING (doc_id)),
         |a AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |             CAST(sum(n_toks) AS BIGINT) AS raw_toks,
         |             CAST(sum(n_toks * weight_ppm) AS BIGINT) AS wsum
         |      FROM w GROUP BY 1)
         |SELECT source, n_docs, raw_toks,
         |       CAST(wsum // 1000000 AS BIGINT) AS eff_toks,
         |       CAST(((raw_toks - (wsum // 1000000)) * 1000000)
         |            // raw_toks AS BIGINT) AS downweight_ppm
         |FROM a ORDER BY source""".stripMargin),

    // EXACT Jaccard τ=0.8 similarity join via prefix filtering — the
    // lossless counterpart of the LSH/capped candidate generators: the
    // rarest-first prefix equi-join provably produces every τ-pair
    // (pigeonhole), the PPJoin size filter prunes by |set| alone, and
    // the emitted Jaccard is the TRUE one over full shingle sets
    // (integer ppm). The oracle replays the same algorithm; the spec
    // proves completeness against the naive all-pairs join.
    Query("ext135_jaccard_prefix_join", (s, dir) =>
      Dedup.jaccardPrefixJoin(docs(s, dir))
        .orderBy("id_a", "id_b"),
      // Prefix filtering replayed on the UNCAPPED distinct shingle
      // relation (sh0 — losslessness is the point, no hot-shingle drop):
      // rarest-first per-doc position, prefix length n − ceil(τn) + 1,
      // size-filtered prefix equi-join, exact intersection, integer τ
      // test — all int64.
      s"""$ShingleSql,
         |dfreq AS (SELECT h, CAST(count(*) AS BIGINT) AS df
         |          FROM sh0 GROUP BY 1),
         |sized AS (
         |  SELECT s.doc_id, s.h, d.df,
         |         CAST(count(*) OVER (PARTITION BY s.doc_id) AS BIGINT)
         |           AS n_sh,
         |         CAST(row_number() OVER (PARTITION BY s.doc_id
         |             ORDER BY d.df, s.h) AS BIGINT) AS pos
         |  FROM sh0 s JOIN dfreq d USING (h)),
         |pfx AS (SELECT doc_id, h, n_sh FROM sized
         |        WHERE pos <= n_sh - ((4 * n_sh + 4) // 5) + 1),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         |         a.n_sh AS n_a, b.n_sh AS n_b
         |  FROM pfx a JOIN pfx b ON a.h = b.h AND a.doc_id < b.doc_id
         |  WHERE 5 * least(a.n_sh, b.n_sh)
         |          >= 4 * greatest(a.n_sh, b.n_sh)),
         |iv AS (
         |  SELECT c.id_a, c.id_b, c.n_a, c.n_b,
         |         CAST(count(*) AS BIGINT) AS n_inter
         |  FROM cand c JOIN sh0 ta ON ta.doc_id = c.id_a
         |              JOIN sh0 tb ON tb.doc_id = c.id_b
         |                         AND tb.h = ta.h
         |  GROUP BY 1, 2, 3, 4)
         |SELECT id_a, id_b, n_a, n_b, n_inter,
         |       (1000000 * n_inter) // (n_a + n_b - n_inter)
         |         AS jaccard_ppm
         |FROM iv
         |WHERE 5 * n_inter >= 4 * (n_a + n_b - n_inter)
         |ORDER BY id_a, id_b""".stripMargin),

    // Empirical LSH band-plan tuning card: for every (r, b)
    // factorization of the 16-hash MinHash signature, the expected
    // banded-LSH recall E[1-(1-s^r)^b] over the corpus's own true
    // >= tau Jaccard pairs (exact integer ppm s, truncating fixed-point
    // power chains) — the recall-vs-cost trade the shipped 4x4 banding
    // commits to, computed from data instead of assumed.
    // r19: the expected-recall card reads the stored shingle-group
    // artifact (shared with ext113/ext54/ext61) instead of its own
    // corpus explode; the truth-pair aggregate itself stays per-run.
    Query("ext149_lsh_band_plan", (s, dir) =>
      Dedup.lshBandPlanFromGroups(shingleGroupsIdx(s, dir))
        .orderBy("rows_per_band"),
      // Band-plan replay: the ext02 bounded-Jaccard truth with integer
      // ppm, then one aggregate per (r, b) plan over the SAME
      // fpPowChain-generated truncating power chains as the Spark side.
      {
        val planRows = (1 to Dedup.NumHashes)
          .filter(Dedup.NumHashes % _ == 0).map { r =>
            val b = Dedup.NumHashes / r
            val p = s"(1000000 - ${Dedup.fpPowChain(
              s"(1000000 - ${Dedup.fpPowChain("s", r)})", b)})"
            val inUse = if (r == Dedup.BandRows) 1 else 0
            s"""SELECT CAST($r AS BIGINT) AS rows_per_band,
               |       CAST($b AS BIGINT) AS bands,
               |       CAST(count(*) AS BIGINT) AS n_true_pairs,
               |       CAST(CASE WHEN count(*) = 0 THEN 0
               |            ELSE SUM(${p.replace("DIV", "//")}) // count(*)
               |            END AS BIGINT) AS exp_recall_ppm,
               |       CAST($inUse AS BIGINT) AS in_use
               |FROM truth""".stripMargin
          }.mkString("\nUNION ALL\n")
        s"""$ShingleSql,
           |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
           |inter AS (
           |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
           |  FROM sh a JOIN sh b USING (h)
           |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
           |truth AS (
           |  SELECT (1000000 * n_inter) // (na.n + nb.n - n_inter) AS s
           |  FROM inter JOIN sizes na ON na.doc_id = id_a
           |             JOIN sizes nb ON nb.doc_id = id_b
           |  WHERE (1000000 * n_inter) // (na.n + nb.n - n_inter)
           |        >= 500000)
           |SELECT * FROM ($planRows)
           |ORDER BY rows_per_band""".stripMargin
      }),

    // Majority-label propagation over the stored cluster map — the FIX
    // side of ext74's cross-label audit: clustered docs adopt their
    // family's (count DESC, label ASC) majority, singletons keep their
    // own (cluster_id -1, relabeled 0).
    Query("ext163_label_propagation", (s, dir) =>
      Dedup.labelPropagation(dupClusters(s, dir), docs(s, dir))
        .orderBy("doc_id"),
      // Label propagation: the ext74 recursive cluster chain, per-cluster
      // majority with the (n DESC, label ASC) window, singletons via the
      // double LEFT join with the -1 sentinel.
      s"""WITH RECURSIVE $clusterCtes,
         |cl AS (SELECT id AS doc_id, min(label) AS cluster_id
         |       FROM reach GROUP BY 1),
         |lab AS (SELECT doc_id, lang AS label FROM documents),
         |cnt AS (SELECT cl.cluster_id, lab.label,
         |               CAST(count(*) AS BIGINT) AS n
         |        FROM cl JOIN lab USING (doc_id) GROUP BY 1, 2),
         |maj AS (SELECT cluster_id, label AS majority_label FROM (
         |          SELECT cluster_id, label, row_number() OVER (
         |            PARTITION BY cluster_id
         |            ORDER BY n DESC, label) AS rk FROM cnt)
         |        WHERE rk = 1)
         |SELECT lab.doc_id, lab.label,
         |       COALESCE(cl.cluster_id, -1) AS cluster_id,
         |       COALESCE(maj.majority_label, lab.label)
         |         AS majority_label,
         |       CAST(CASE WHEN lab.label <>
         |                 COALESCE(maj.majority_label, lab.label)
         |            THEN 1 ELSE 0 END AS BIGINT) AS relabeled
         |FROM lab LEFT JOIN cl USING (doc_id)
         |     LEFT JOIN maj ON maj.cluster_id = cl.cluster_id
         |ORDER BY lab.doc_id""".stripMargin),

    // Asymmetric containment detector: |∩| / min(|A|,|B|) over the
    // capped shingle sets — the doc-inside-doc duplication Jaccard
    // structurally misses (a fully-quoted short doc scores containment
    // 1.0, Jaccard ~0.03). jaccard_ppm rides along so every emitted
    // pair shows what the symmetric detector would have said.
    // r19: reads the stored shingle-group artifact (one shingle pass
    // per corpus snapshot, shared with ext149/ext54/ext61); ext02
    // still prices the identical build from scratch.
    Query("ext113_containment_pairs", (s, dir) =>
      Dedup.containmentPairsFromGroups(shingleGroupsIdx(s, dir),
          threshold = 0.8)
        .orderBy("id_a", "id_b"),
      // Containment: ext02's inter/sizes chain, integer ppm divisions.
      s"""$ShingleSql,
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         |inter AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
         |  FROM sh a JOIN sh b USING (h)
         |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
         |SELECT id_a, id_b, CAST(n_inter AS BIGINT) AS n_inter,
         |       CAST((n_inter * 1000000) // least(na.n, nb.n) AS BIGINT)
         |         AS containment_ppm,
         |       CAST((n_inter * 1000000) // (na.n + nb.n - n_inter)
         |         AS BIGINT) AS jaccard_ppm
         |FROM inter JOIN sizes na ON na.doc_id = id_a
         |           JOIN sizes nb ON nb.doc_id = id_b
         |WHERE (n_inter * 1000000) // least(na.n, nb.n) >= 800000
         |ORDER BY id_a, id_b""".stripMargin),

    // Within-doc repetition surgery: intra-document dedup — the APPLY
    // side of ext106's dup-n-gram measure (RefinedWeb line-dedup at
    // n-gram granularity). First occurrence survives, repeats cut,
    // reassembled in order; doc-local everywhere (no cross-doc state).
    Query("ext123_repetition_surgery", (s, dir) =>
      Dedup.repetitionSurgery(docs(s, dir)).orderBy("doc_id"),
      // Within-doc surgery: per-(doc, h) first positions, repeats cut
      // by coverage, ext96's reassembly tail.
      s"""WITH toks AS (
         |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
         |pos AS (
         |  SELECT doc_id, i,
         |         ${hashSql("tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]")} AS h
         |  FROM toks JOIN range(1, ${Dedup.MaxShinglesPerDoc + 1}) g(i)
         |    ON i <= len(tk) - 2),
         |f AS (SELECT doc_id, h, min(i) AS i0 FROM pos GROUP BY 1, 2),
         |cut AS (
         |  SELECT DISTINCT p.doc_id, p.i + o AS p
         |  FROM pos p JOIN f USING (doc_id, h), range(0, 3) r(o)
         |  WHERE p.i > f.i0),
         |tkr AS (
         |  SELECT doc_id, unnest(tk) AS tok,
         |         unnest(range(1, len(tk) + 1)) AS p
         |  FROM toks),
         |j AS (
         |  SELECT t.doc_id, t.p, t.tok, c.p AS cp
         |  FROM tkr t LEFT JOIN cut c ON c.doc_id = t.doc_id AND c.p = t.p)
         |SELECT doc_id,
         |       CAST(count(*) AS BIGINT) AS n_toks,
         |       CAST(SUM(CASE WHEN cp IS NOT NULL THEN 1 ELSE 0 END)
         |         AS BIGINT) AS n_toks_cut,
         |       COALESCE(string_agg(CASE WHEN cp IS NULL THEN tok END,
         |         ' ' ORDER BY p), '') AS clean_text
         |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin)
  )
}
