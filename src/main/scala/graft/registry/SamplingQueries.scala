package graft.registry

import org.apache.spark.sql.functions._

import graft.ops.{Curation, Dedup, Hashing, Sampling, Similarity, Sketches,
  TextOps}
import Artifacts._
import OracleSql._

/** Registry queries over [[graft.ops.Sampling]] and [[graft.ops.Curation]]:
  * stratified and weighted samples, mixture weights, token budgets and
  * ledgers, and the curation pipeline. Each is declared once, its Spark
  * form beside its DuckDB oracle. */
private[graft] object SamplingQueries {

  /** ext172's token budget — interpolated into the oracle, so both
    * engines read the same constant. ~37% of the sf0.01 corpus mass:
    * the selection is non-trivial in both directions (real docs
    * admitted AND rejected, a partially-admitted boundary class). */
  private val BudgetSelectTokens = 10000L

  /** ext173's per-stratum token budget (interpolated into the oracle).
    * sf0.01 per-lang masses run 3.5k–11.8k tokens, so 2500 keeps every
    * lang's cut PARTIAL — docs admitted and rejected in each stratum,
    * a non-trivially-cut boundary class per lang. */
  private val StratumBudgetTokens = 2500L

  /** ext175's global budget over the cap-stage survivors. The sf0.01
    * caps (2500/lang, [[StratumBudgetTokens]]) leave 12426 surviving
    * tokens, so 8000 cuts the survivor set again — both levels
    * non-trivial. */
  private val TwoLevelGlobalTokens = 8000L

  /** ext174's budget ladder (interpolated into the oracle): spans the
    * three regimes at sf0.01 — a tight cut (~9% of corpus mass),
    * ext172's budget (the curves must agree with its card), and an
    * oversized budget exercising the whole-fit branch. */
  private val FillCurveBudgets = Seq(2500L, 10000L, 40000L)

  /** ext176's per-stratum budget ladder. sf0.01 per-lang masses run
    * 3.5k–11.8k tokens, so the rungs span the three regimes INSIDE
    * every lang: 800 = tight cut everywhere, [[StratumBudgetTokens]]
    * = ext173's partial cut (those curve rows must agree with its
    * cards), 20000 = whole-fit everywhere (threshold = smin−1). */
  private val StratumFillBudgets = Seq(800L, StratumBudgetTokens, 20000L)

  /** ext126's packing context length — interpolated into the oracle so
    * a change here cannot silently diverge the two engines. */
  private val CurationCtx = 512L

  /** The one quality-score rule the whole budget-select family keys
    * on (ext172-179): its seven call sites must stay byte-identical
    * for the cross-query consistency rungs (ext177's shared rung ==
    * ext175's card, etc.) to keep holding —
    * one constant removes the drift surface (r18 review). The DuckDB
    * oracle strings keep their literal copies by design (an oracle
    * must not read the engine's definition).  */
  private val ScorePpmExpr =
    "least(n_words * 10000, 1000000) DIV 2" +
      " + (n_stop * 1000000 DIV n_words) DIV 2"

  /** Total token budget the ext62 ledger plans against (SF-independent:
    * the ledger's shape, not the budget, is what's under test). */
  private val TokenBudget = 10000000L

  val queries: Seq[Query] = Seq(
    // Deterministic stratified sample: exactly min(20, |stratum|) docs
    // per (lang, source), chosen by portable hash — WindowGroupLimit
    // keeps per-task top-k before the shuffle.
    Query("ext25_stratified_sample", (s, dir) =>
      Sampling.stratifiedTopK(docs(s, dir).select("doc_id", "lang",
          "source"), Seq("lang", "source"), col("doc_id"), 20)
        .orderBy("lang", "source", "rank"),
      s"""WITH h AS (
         |  SELECT doc_id, lang, source,
         |         ${hashSql("'samp:' || CAST(doc_id AS VARCHAR)")} AS h
         |  FROM documents),
         |r AS (SELECT doc_id, lang, source, row_number() OVER (
         |        PARTITION BY lang, source ORDER BY h, doc_id) AS rank
         |      FROM h)
         |SELECT doc_id, lang, source, CAST(rank AS BIGINT) AS rank
         |FROM r WHERE rank <= 20 ORDER BY lang, source, rank""".stripMargin),

    // The at-scale quantile path ext24's in-source note promises: exact
    // percentile over a DETERMINISTIC hash-rank sample (KMV shape —
    // min(k, |stratum|) docs with the smallest portable hashes). The
    // sample is reproducible across engines/partitionings, so even the
    // approximate quantiles hash-match the oracle; per-stratum work is
    // bounded by k regardless of corpus size (WindowGroupLimit prunes
    // pre-shuffle), where ext24's exact form sorts whole strata.
    Query("ext33_sampled_quantiles", (s, dir) =>
      Sampling.stratifiedTopK(
          TextOps.quality(docs(s, dir))
            .select("doc_id", "lang", "quality_score"),
          Seq("lang"), col("doc_id"), 100, salt = "qs")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_sampled"),
          expr("percentile(quality_score, array(0.25D, 0.5D, 0.9D))")
            .as("qs"))
        .select(col("lang"), col("n_sampled"), col("qs")(0).as("p25"),
          col("qs")(1).as("p50"), col("qs")(2).as("p90"))
        .orderBy("lang"),
      // Same quality formula as ext24, but quantiles over the hash-rank
      // sample — quantile_cont matches Spark's percentile interpolation.
      s"""WITH q AS (
         |  SELECT doc_id, lang,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
         |    CAST(len(list_filter(string_split(text, ' '),
         |      t -> t IN ($stopList))) AS BIGINT) AS n_stop,
         |    least(CAST(n_words AS DOUBLE) / 100.0, 1.0) * 0.5 +
         |      (CAST(n_stop AS DOUBLE) / CAST(n_words AS DOUBLE)) * 0.5
         |      AS quality_score
         |  FROM documents),
         |h AS (SELECT doc_id, lang, quality_score,
         |        ${hashSql("'qs:' || CAST(doc_id AS VARCHAR)")} AS h
         |      FROM q),
         |r AS (SELECT *, row_number() OVER (
         |        PARTITION BY lang ORDER BY h, doc_id) AS rank FROM h)
         |SELECT lang, count(*) AS n_sampled,
         |       quantile_cont(quality_score, 0.25) AS p25,
         |       quantile_cont(quality_score, 0.5) AS p50,
         |       quantile_cont(quality_score, 0.9) AS p90
         |FROM r WHERE rank <= 100 GROUP BY 1 ORDER BY 1""".stripMargin),

    // Weighted deterministic sample: priority hash/weight per lang
    // stratum — longer documents (n_chars) are proportionally likelier,
    // selection reproducible across engines and reruns.
    Query("ext39_weighted_sample", (s, dir) =>
      Sampling.weightedTopK(docs(s, dir), Seq("lang"), col("doc_id"),
          col("n_chars"), 50)
        .select("doc_id", "lang", "source", "rank")
        .orderBy("lang", "rank"),
      s"""WITH h AS (
         |  SELECT doc_id, lang, source,
         |         CAST(${hashSql("'wsamp:' || CAST(doc_id AS VARCHAR)")}
         |              AS DOUBLE) / CAST(n_chars AS DOUBLE) AS pri
         |  FROM documents),
         |r AS (SELECT doc_id, lang, source, row_number() OVER (
         |        PARTITION BY lang ORDER BY pri, doc_id) AS rank FROM h)
         |SELECT doc_id, lang, source, CAST(rank AS BIGINT) AS rank
         |FROM r WHERE rank <= 50 ORDER BY lang, rank""".stripMargin),

    // Data mixing: per-language temperature weights (α = 0.5 — the one
    // exponent whose weights are bit-portable, sqrt is IEEE-exact) and
    // the deterministic hash-threshold resample toward a 250-doc target
    // (broadcast rates + filter; the corpus never shuffles).
    Query("ext44_mixture_weights", (s, dir) =>
      Sampling.mixtureWeights(docs(s, dir), Seq("lang"))
        .orderBy("lang"),
      """WITH c AS (SELECT lang, count(*) AS n_docs FROM documents
        |           GROUP BY 1),
        |q AS (SELECT lang, n_docs,
        |             CAST(floor(1000000.0 * sqrt(CAST(n_docs AS DOUBLE)))
        |               AS BIGINT) AS q_s
        |      FROM c),
        |t AS (SELECT CAST(SUM(q_s) AS BIGINT) AS q_tot FROM q)
        |SELECT lang, n_docs, q_s,
        |       CAST(floor(1000000.0 * (CAST(q_s AS DOUBLE)
        |            / CAST(q_tot AS DOUBLE))) AS BIGINT) AS weight_q
        |FROM q, t ORDER BY lang""".stripMargin),

    Query("ext45_temperature_resample", (s, dir) =>
      Sampling.temperatureResample(docs(s, dir), col("doc_id"), 250L,
          Seq("lang"))
        .select("doc_id", "lang", "source")
        .orderBy("doc_id"),
      s"""WITH c AS (SELECT lang, count(*) AS n_docs FROM documents
         |           GROUP BY 1),
         |q AS (SELECT lang, n_docs,
         |             CAST(floor(1000000.0 * sqrt(CAST(n_docs AS DOUBLE)))
         |               AS BIGINT) AS q_s
         |      FROM c),
         |t AS (SELECT CAST(SUM(q_s) AS BIGINT) AS q_tot FROM q),
         |w AS (SELECT lang, n_docs,
         |             CAST(floor(1000000.0 * (CAST(q_s AS DOUBLE)
         |                  / CAST(q_tot AS DOUBLE))) AS BIGINT) AS weight_q
         |      FROM q, t),
         |r AS (SELECT lang, least(1000000, (250 * weight_q) // n_docs)
         |               AS rate_q
         |      FROM w)
         |SELECT d.doc_id, d.lang, d.source
         |FROM documents d JOIN r USING (lang)
         |WHERE ${hashSql("'mix:' || CAST(doc_id AS VARCHAR)")} % 1000000
         |        < r.rate_q
         |ORDER BY d.doc_id""".stripMargin),

    // Mixture token ledger: per-source doc/token counts, temperature
    // weight, planned token draw from a fixed total budget, and the
    // effective epoch count (epochs_q > 1e6 = the source repeats) —
    // the capacity-planning sheet a pretraining run signs off BEFORE
    // any data moves. One fused keyed aggregate + broadcast total.
    Query("ext62_token_ledger", (s, dir) =>
      Sampling.tokenLedger(docs(s, dir), TokenBudget, Seq("source"))
        .orderBy("source"),
      // Same weight CTEs as ext44 (shared sqrt-temperature math) plus the
      // fused token count; the budget/epoch tail is exact int64 division
      // on both engines.
      s"""WITH c AS (
         |  SELECT source, count(*) AS n_docs,
         |         CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
         |           AS n_tokens
         |  FROM documents GROUP BY 1),
         |q AS (SELECT source, n_docs, n_tokens,
         |             CAST(floor(1000000.0 * sqrt(CAST(n_docs AS DOUBLE)))
         |               AS BIGINT) AS q_s
         |      FROM c),
         |t AS (SELECT CAST(SUM(q_s) AS BIGINT) AS q_tot FROM q),
         |w AS (SELECT source, n_docs, n_tokens, q_s,
         |             CAST(floor(1000000.0 * (CAST(q_s AS DOUBLE)
         |                  / CAST(q_tot AS DOUBLE))) AS BIGINT) AS weight_q
         |      FROM q, t)
         |SELECT source, n_docs, n_tokens, q_s, weight_q,
         |       (CAST($TokenBudget AS BIGINT) * weight_q) // 1000000
         |         AS planned_tokens,
         |       CASE WHEN n_tokens = 0 THEN CAST(0 AS BIGINT)
         |            ELSE (((CAST($TokenBudget AS BIGINT) * weight_q)
         |                   // 1000000) * 1000000) // n_tokens END
         |         AS epochs_q
         |FROM w ORDER BY source""".stripMargin),

    // Per-source cap card (RefinedWeb-style "no source exceeds N docs"),
    // priced BEFORE enforcement: docs and token mass kept vs dropped at
    // cap 15, under the same deterministic hash draw a later
    // stratifiedTopK enforcement pass would use. Kept side rides
    // WindowGroupLimit; totals side is a plain map-side agg.
    Query("ext103_source_cap_audit", (s, dir) =>
      Sampling.capAudit(docs(s, dir), Seq("source"), col("doc_id"),
          size(split(col("text"), " ")).cast("long"), 15)
        .orderBy("source"),
      // Cap card: the kept set is the rank <= 15 prefix of the ext25
      // hash order, per source.
      s"""WITH t AS (
         |  SELECT doc_id, source, len(string_split(text, ' ')) AS tok,
         |         ${hashSql("'samp:' || CAST(doc_id AS VARCHAR)")} AS h
         |  FROM documents),
         |r AS (SELECT *, row_number() OVER (
         |        PARTITION BY source ORDER BY h, doc_id) AS rank FROM t),
         |agg AS (
         |  SELECT source,
         |         CAST(count(*) AS BIGINT) AS n_docs,
         |         CAST(SUM(tok) AS BIGINT) AS tokens_total,
         |         CAST(SUM(CASE WHEN rank <= 15 THEN 1 ELSE 0 END)
         |           AS BIGINT) AS n_kept,
         |         CAST(SUM(CASE WHEN rank <= 15 THEN tok ELSE 0 END)
         |           AS BIGINT) AS tokens_kept
         |  FROM r GROUP BY 1)
         |SELECT source, n_docs, tokens_total, n_kept, tokens_kept,
         |       n_docs - n_kept AS docs_dropped,
         |       CAST(CASE WHEN tokens_total = 0 THEN 0
         |            ELSE ((tokens_total - tokens_kept) * 1000000)
         |                 // tokens_total END AS BIGINT)
         |         AS tokens_dropped_ppm
         |FROM agg ORDER BY source""".stripMargin),

    // SOFT dedup APPLIED (closes ext79's measure→apply gap the ext128
    // way): the duplication-aware weights drive the deterministic
    // weighted draw — a near-dup family's total draw mass equals one
    // unduplicated document's, per source stratum, and the variants
    // stay eligible (hard dedup would discard them). Pure composition:
    // dedupWeights ⋈ docs → weightedTopK(weight_ppm) over the same
    // build-once cluster-map artifact ext47/ext64/ext79 read — no new
    // shuffle shape beyond its two parents.
    Query("ext130_soft_dedup_sample", (s, dir) => {
      val w = Dedup.dedupWeights(docs(s, dir), dupClusters(s, dir))
      Sampling.weightedTopK(
          docs(s, dir).select("doc_id", "source").join(w, "doc_id"),
          Seq("source"), col("doc_id"), col("weight_ppm"), 20,
          salt = "softdd")
        .select("doc_id", "source", "n_members", "weight_ppm", "rank")
        .orderBy("source", "rank")
    },
      // ext79's weights recomputed (same cluster CTE chain), then the
      // ext39 weighted-draw replay with weight = weight_ppm.
      s"""WITH RECURSIVE $clusterCtes,
         |cl AS (SELECT id AS doc_id, min(label) AS cluster_id
         |       FROM reach GROUP BY 1),
         |sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members
         |       FROM cl GROUP BY 1),
         |m AS (SELECT cl.doc_id, sz.n_members
         |      FROM cl JOIN sz USING (cluster_id)),
         |w AS (SELECT d.doc_id, d.source,
         |             COALESCE(m.n_members, 1) AS n_members,
         |             CAST(1000000 // COALESCE(m.n_members, 1) AS BIGINT)
         |               AS weight_ppm
         |      FROM documents d LEFT JOIN m USING (doc_id)),
         |h AS (SELECT *,
         |        CAST(${hashSql("'softdd:' || CAST(doc_id AS VARCHAR)")}
         |             AS DOUBLE) / CAST(weight_ppm AS DOUBLE) AS pri
         |      FROM w),
         |r AS (SELECT doc_id, source, n_members, weight_ppm,
         |             row_number() OVER (
         |               PARTITION BY source ORDER BY pri, doc_id) AS rank
         |      FROM h)
         |SELECT doc_id, source, n_members, weight_ppm,
         |       CAST(rank AS BIGINT) AS rank
         |FROM r WHERE rank <= 20
         |ORDER BY source, rank""".stripMargin),

    // DSIR data selection (Xie et al. 2023): select the 100 raw docs
    // whose hashed-unigram bags look most like the TARGET domain
    // (lang = 'en'), by importance resampling with octave-quantized
    // log-ratio weights — pure int64 arithmetic end to end, so the
    // score AND the weighted draw replay bit-for-bit in the oracle
    // (weights are powers of two, making the h/w priority division
    // IEEE-exact, not merely portable).
    Query("ext134_dsir_select", (s, dir) =>
      Sampling.dsirSelect(docs(s, dir), col("lang") === "en", 100)
        .select("doc_id", "lang", "source", "dsir_log2w", "n_toks",
          "rank")
        .orderBy("rank"),
      // The oracle rebuilds the hashed-bucket count vectors, the octave
      // log-ratio table (bit-length idiom) and the per-doc integer score,
      // then replays the power-of-two weighted draw — everything int64
      // except the final h/2^e priority, which is IEEE-exact.
      s"""WITH tok AS (
         |  SELECT doc_id, is_target,
         |         ${hashSql("'dsir:' || t")} % 256 AS b
         |  FROM (SELECT doc_id, lang = 'en' AS is_target,
         |               unnest(string_split(text, ' ')) AS t
         |        FROM documents)),
         |c AS (SELECT b,
         |        CAST(sum(CASE WHEN is_target THEN 1 ELSE 0 END)
         |             AS BIGINT) AS c_t,
         |        CAST(count(*) AS BIGINT) AS c_r
         |      FROM tok GROUP BY 1),
         |tot AS (SELECT CAST(sum(c_t) AS BIGINT) AS n_t,
         |               CAST(sum(c_r) AS BIGINT) AS n_r FROM c),
         |lr AS (SELECT b,
         |         CAST(length(bin(greatest(
         |             (1000000 * (c_t + 1) * (n_r + 256))
         |               // ((c_r + 1) * (n_t + 256)), 1))) AS BIGINT)
         |           - 21 AS lr_oct
         |       FROM c, tot),
         |sc AS (SELECT doc_id, CAST(sum(lr_oct) AS BIGINT) AS dsir_log2w,
         |              CAST(count(*) AS BIGINT) AS n_toks
         |       FROM tok JOIN lr USING (b) GROUP BY 1),
         |f AS (SELECT d.doc_id, d.lang, d.source,
         |             coalesce(sc.dsir_log2w, 0) AS dsir_log2w,
         |             coalesce(sc.n_toks, 0) AS n_toks
         |      FROM documents d LEFT JOIN sc USING (doc_id)),
         |p AS (SELECT *,
         |        CAST(${hashSql("'dsir:' || CAST(doc_id AS VARCHAR)")}
         |             AS DOUBLE)
         |          / CAST(CAST(1 AS BIGINT)
         |                 << CAST(greatest(least(dsir_log2w, 31), -31)
         |                         + 31 AS INT) AS DOUBLE) AS pri
         |      FROM f),
         |r AS (SELECT doc_id, lang, source, dsir_log2w, n_toks,
         |        CAST(row_number() OVER (ORDER BY pri, doc_id)
         |             AS BIGINT) AS rank
         |      FROM p)
         |SELECT * FROM r WHERE rank <= 100 ORDER BY rank""".stripMargin),

    // Token-budget curation cut: best-scored docs admitted in
    // (score DESC, id ASC) order until the token budget — threshold
    // and boundary found by zero-shuffle bisection (the ext151/ext170
    // discipline), never a global sort. Integer ppm quality score
    // (ext09's blend, integerized).
    Query("ext172_budget_select", (s, dir) =>
      Sampling.budgetSelectCard(
        TextOps.quality(docs(s, dir)).withColumn("score_ppm", expr(ScorePpmExpr)),
        col("score_ppm"), BudgetSelectTokens),
      // Budget select: the bisection's threshold/boundary definitions
      // replayed declaratively — t = min score with above-mass <= B
      // (whole-corpus-fits => smin-1), id* = last boundary-class doc
      // before the running class total crosses B; selection predicate
      // and card aggregates identical to the engine's.
      {
        val b = BudgetSelectTokens
        s"""WITH d AS (SELECT doc_id,
           |    CAST(len(string_split(text,' ')) AS BIGINT) AS n_toks,
           |    CAST(len(list_filter(string_split(text,' '),
           |      t -> t IN ($stopList))) AS BIGINT) AS n_stop
           |  FROM documents),
           |s AS (SELECT doc_id, n_toks,
           |    CAST(least(n_toks*10000, 1000000)//2
           |      + (n_stop*1000000//n_toks)//2 AS BIGINT) AS score
           |  FROM d),
           |tot AS (SELECT CAST(sum(n_toks) AS BIGINT) AS total,
           |               CAST(count(*) AS BIGINT) AS n_docs,
           |               min(score) AS smin, max(doc_id) AS imax
           |        FROM s),
           |cls AS (SELECT score, CAST(sum(n_toks) AS BIGINT) AS ct
           |        FROM s GROUP BY score),
           |ca AS (SELECT score, CAST(COALESCE(sum(ct) OVER (
           |         ORDER BY score DESC ROWS BETWEEN UNBOUNDED PRECEDING
           |         AND 1 PRECEDING), 0) AS BIGINT) AS above FROM cls),
           |thr AS (SELECT CASE WHEN (SELECT total FROM tot) <= $b
           |          THEN (SELECT smin FROM tot) - 1
           |          ELSE (SELECT min(score) FROM ca WHERE above <= $b)
           |          END AS t),
           |base AS (SELECT CAST(COALESCE(sum(n_toks), 0) AS BIGINT) AS b
           |         FROM s, thr WHERE score > t),
           |ccum AS (SELECT doc_id,
           |           CAST(sum(n_toks) OVER (ORDER BY doc_id
           |             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumt
           |         FROM s, thr WHERE score = t),
           |ctot AS (SELECT CAST(COALESCE(sum(n_toks),0) AS BIGINT) AS ct
           |         FROM s, thr WHERE score = t),
           |bid AS (SELECT CASE
           |          WHEN (SELECT b FROM base) + (SELECT ct FROM ctot)
           |            <= $b THEN (SELECT imax FROM tot)
           |          ELSE (SELECT min(doc_id) FROM ccum
           |                WHERE (SELECT b FROM base) + cumt > $b) - 1
           |          END AS i),
           |sel AS (SELECT s.*, CASE WHEN score > (SELECT t FROM thr)
           |          OR (score = (SELECT t FROM thr)
           |              AND doc_id <= (SELECT i FROM bid))
           |          THEN 1 ELSE 0 END AS selected FROM s)
           |SELECT (SELECT t FROM thr) AS threshold_score,
           |  (SELECT i FROM bid) AS boundary_id,
           |  CAST(sum(selected) AS BIGINT) AS n_selected,
           |  CAST(COALESCE(sum(CASE WHEN selected=1 THEN n_toks END),0)
           |    AS BIGINT) AS tokens_selected,
           |  (SELECT n_docs FROM tot) AS n_docs,
           |  (SELECT total FROM tot) AS tokens_total,
           |  CAST($b AS BIGINT) AS budget_tokens,
           |  CAST(COALESCE(sum(CASE WHEN selected=1 THEN n_toks END),0)
           |    * 1000000 // $b AS BIGINT) AS fill_ppm
           |FROM sel""".stripMargin
      }),

    // Per-STRATUM budget cuts (r16): ext172's cut executed for every
    // lang at once — the source-balancing step that EXECUTES what
    // tokenLedger/annealLedger PLAN per stratum. One batched k-ary
    // bisection job per round covers ALL strata (probes ride as
    // broadcast columns, the selectionQuantiles discipline): same job
    // count as ONE ext172 cut, zero data shuffles in the searches.
    Query("ext173_budget_select_strata", (s, dir) =>
      Sampling.budgetSelectCardsByStratum(
        TextOps.quality(docs(s, dir)).withColumn("score_ppm", expr(ScorePpmExpr)),
        "lang", col("score_ppm"), StratumBudgetTokens)
        .orderBy("lang"),
      // Stratified budget select: ext172's declarative replay grouped
      // by lang — per-lang threshold (min score class with above-mass
      // <= B, whole-fit => smin-1), per-lang boundary (first
      // overflowing boundary-class doc minus 1, whole-class-fit =>
      // imax), identical selection predicate and card aggregates.
      // Validated equal to an independent per-lang prefix-rule replay
      // before wiring (the ext172 convention).
      {
        val b = StratumBudgetTokens
        s"""WITH d AS (SELECT lang, doc_id,
           |    CAST(len(string_split(text,' ')) AS BIGINT) AS n_toks,
           |    CAST(len(list_filter(string_split(text,' '),
           |      t -> t IN ($stopList))) AS BIGINT) AS n_stop
           |  FROM documents),
           |s AS (SELECT lang, doc_id, n_toks,
           |    CAST(least(n_toks*10000, 1000000)//2
           |      + (n_stop*1000000//n_toks)//2 AS BIGINT) AS score
           |  FROM d),
           |tot AS (SELECT lang, CAST(sum(n_toks) AS BIGINT) AS total,
           |               CAST(count(*) AS BIGINT) AS n_docs,
           |               min(score) AS smin, max(doc_id) AS imax
           |        FROM s GROUP BY lang),
           |cls AS (SELECT lang, score, CAST(sum(n_toks) AS BIGINT) AS ct
           |        FROM s GROUP BY lang, score),
           |ca AS (SELECT lang, score, CAST(COALESCE(sum(ct) OVER (
           |         PARTITION BY lang ORDER BY score DESC
           |         ROWS BETWEEN UNBOUNDED PRECEDING
           |         AND 1 PRECEDING), 0) AS BIGINT) AS above FROM cls),
           |thr AS (SELECT tot.lang, CASE WHEN tot.total <= $b
           |          THEN tot.smin - 1
           |          ELSE (SELECT min(score) FROM ca
           |                WHERE ca.lang = tot.lang AND above <= $b)
           |          END AS t
           |        FROM tot),
           |base AS (SELECT thr.lang,
           |           CAST(COALESCE(sum(s.n_toks), 0) AS BIGINT) AS b
           |         FROM thr LEFT JOIN s
           |           ON s.lang = thr.lang AND s.score > thr.t
           |         GROUP BY thr.lang),
           |ccum AS (SELECT s.lang, s.doc_id,
           |           CAST(sum(s.n_toks) OVER (PARTITION BY s.lang
           |             ORDER BY s.doc_id ROWS UNBOUNDED PRECEDING)
           |             AS BIGINT) AS cumt
           |         FROM s JOIN thr
           |           ON s.lang = thr.lang AND s.score = thr.t),
           |ctot AS (SELECT thr.lang,
           |           CAST(COALESCE(sum(s.n_toks), 0) AS BIGINT) AS ct
           |         FROM thr LEFT JOIN s
           |           ON s.lang = thr.lang AND s.score = thr.t
           |         GROUP BY thr.lang),
           |bid AS (SELECT thr.lang, CASE
           |          WHEN base.b + ctot.ct <= $b THEN tot.imax
           |          ELSE (SELECT min(cc.doc_id) FROM ccum cc
           |                WHERE cc.lang = thr.lang
           |                  AND base.b + cc.cumt > $b) - 1
           |          END AS i
           |        FROM thr JOIN base USING (lang)
           |          JOIN ctot USING (lang) JOIN tot USING (lang)),
           |sel AS (SELECT s.*, CASE WHEN s.score > thr.t
           |          OR (s.score = thr.t AND s.doc_id <= bid.i)
           |          THEN 1 ELSE 0 END AS selected
           |        FROM s JOIN thr USING (lang) JOIN bid USING (lang))
           |SELECT sel.lang, thr.t AS threshold_score,
           |  bid.i AS boundary_id,
           |  CAST(sum(selected) AS BIGINT) AS n_selected,
           |  CAST(COALESCE(sum(CASE WHEN selected=1 THEN n_toks END),0)
           |    AS BIGINT) AS tokens_selected,
           |  tot.n_docs, tot.total AS tokens_total,
           |  CAST($b AS BIGINT) AS budget_tokens,
           |  CAST(COALESCE(sum(CASE WHEN selected=1 THEN n_toks END),0)
           |    * 1000000 // $b AS BIGINT) AS fill_ppm
           |FROM sel JOIN thr USING (lang) JOIN bid USING (lang)
           |  JOIN tot USING (lang)
           |GROUP BY sel.lang, thr.t, bid.i, tot.n_docs, tot.total
           |ORDER BY sel.lang""".stripMargin
      }),

    // Budget→fill planning curve (r16): ext172's card at K budgets
    // for the cost of ONE cut — tokens(score > m) is budget-
    // independent, so every threshold round evaluates the union of
    // all budgets' probe ladders once and each budget's bracket
    // advances off the shared sums (boundary rounds batch the
    // per-budget class conditions as columns). The curve a curation
    // plan is chosen FROM.
    Query("ext174_budget_fill_curve", (s, dir) =>
      Sampling.budgetFillCurve(
        TextOps.quality(docs(s, dir)).withColumn("score_ppm", expr(ScorePpmExpr)),
        col("score_ppm"), FillCurveBudgets),
      // Budget fill curve: ext172's declarative replay joined against
      // the budget VALUES ladder — per-budget threshold/boundary/card,
      // validated equal to an independent per-budget prefix replay
      // before wiring.
      {
        val budgets = FillCurveBudgets.map(b => s"($b)").mkString(", ")
        s"""WITH bs AS (SELECT CAST(b AS BIGINT) AS b
           |          FROM (VALUES $budgets) v(b)),
           |d AS (SELECT doc_id,
           |    CAST(len(string_split(text,' ')) AS BIGINT) AS n_toks,
           |    CAST(len(list_filter(string_split(text,' '),
           |      t -> t IN ($stopList))) AS BIGINT) AS n_stop
           |  FROM documents),
           |s AS (SELECT doc_id, n_toks,
           |    CAST(least(n_toks*10000, 1000000)//2
           |      + (n_stop*1000000//n_toks)//2 AS BIGINT) AS score
           |  FROM d),
           |tot AS (SELECT CAST(sum(n_toks) AS BIGINT) AS total,
           |               CAST(count(*) AS BIGINT) AS n_docs,
           |               min(score) AS smin, max(doc_id) AS imax
           |        FROM s),
           |cls AS (SELECT score, CAST(sum(n_toks) AS BIGINT) AS ct
           |        FROM s GROUP BY score),
           |ca AS (SELECT score, CAST(COALESCE(sum(ct) OVER (
           |         ORDER BY score DESC ROWS BETWEEN UNBOUNDED PRECEDING
           |         AND 1 PRECEDING), 0) AS BIGINT) AS above FROM cls),
           |thr AS (SELECT bs.b, CASE WHEN tot.total <= bs.b
           |          THEN tot.smin - 1
           |          ELSE (SELECT min(score) FROM ca WHERE above <= bs.b)
           |          END AS t
           |        FROM bs, tot),
           |base AS (SELECT thr.b,
           |           CAST(COALESCE(sum(s.n_toks), 0) AS BIGINT) AS m
           |         FROM thr LEFT JOIN s ON s.score > thr.t
           |         GROUP BY thr.b),
           |ccum AS (SELECT thr.b, s.doc_id,
           |           CAST(sum(s.n_toks) OVER (PARTITION BY thr.b
           |             ORDER BY s.doc_id ROWS UNBOUNDED PRECEDING)
           |             AS BIGINT) AS cumt
           |         FROM s JOIN thr ON s.score = thr.t),
           |ctot AS (SELECT thr.b,
           |           CAST(COALESCE(sum(s.n_toks), 0) AS BIGINT) AS ct
           |         FROM thr LEFT JOIN s ON s.score = thr.t
           |         GROUP BY thr.b),
           |bid AS (SELECT thr.b, CASE
           |          WHEN base.m + ctot.ct <= thr.b THEN tot.imax
           |          ELSE (SELECT min(cc.doc_id) FROM ccum cc
           |                WHERE cc.b = thr.b
           |                  AND base.m + cc.cumt > thr.b) - 1
           |          END AS i
           |        FROM thr JOIN base USING (b) JOIN ctot USING (b),
           |          tot),
           |sel AS (SELECT thr.b, thr.t, bid.i, s.n_toks,
           |          CASE WHEN s.score > thr.t
           |            OR (s.score = thr.t AND s.doc_id <= bid.i)
           |          THEN 1 ELSE 0 END AS selected
           |        FROM s, thr JOIN bid USING (b))
           |SELECT sel.b AS budget_tokens, sel.t AS threshold_score,
           |  sel.i AS boundary_id,
           |  CAST(sum(selected) AS BIGINT) AS n_selected,
           |  CAST(COALESCE(sum(CASE WHEN selected=1 THEN n_toks END),0)
           |    AS BIGINT) AS tokens_selected,
           |  tot.n_docs, tot.total AS tokens_total,
           |  CAST(COALESCE(sum(CASE WHEN selected=1 THEN n_toks END),0)
           |    * 1000000 // sel.b AS BIGINT) AS fill_ppm
           |FROM sel, tot
           |GROUP BY sel.b, sel.t, sel.i, tot.n_docs, tot.total
           |ORDER BY budget_tokens""".stripMargin
      }),

    // Two-level allocation (r16): per-lang caps first (no source can
    // eat the pool — ext173's rule), then ONE global budget over the
    // best-scored survivors (ext172's rule). The card carries both
    // levels' masses so the cap policy's cost is a number. Survivors
    // are a scan predicate off the broadcast cap envelope — never
    // driver-materialized; every search zero-data-shuffle.
    Query("ext175_two_level_budget", (s, dir) =>
      Sampling.twoLevelBudgetCard(
        TextOps.quality(docs(s, dir)).withColumn("score_ppm", expr(ScorePpmExpr)),
        "lang", col("score_ppm"), StratumBudgetTokens,
        TwoLevelGlobalTokens),
      // Two-level budget: stage 1 = ext173's per-lang replay at the
      // cap; stage 2 = ext172's replay over the surviving rows; card
      // carries both levels. Validated equal to an independent
      // two-stage prefix replay (counts AND selection set) before
      // wiring.
      {
        val cap = StratumBudgetTokens
        val g = TwoLevelGlobalTokens
        s"""WITH d AS (SELECT lang, doc_id,
           |    CAST(len(string_split(text,' ')) AS BIGINT) AS n_toks,
           |    CAST(len(list_filter(string_split(text,' '),
           |      t -> t IN ($stopList))) AS BIGINT) AS n_stop
           |  FROM documents),
           |s AS (SELECT lang, doc_id, n_toks,
           |    CAST(least(n_toks*10000, 1000000)//2
           |      + (n_stop*1000000//n_toks)//2 AS BIGINT) AS score
           |  FROM d),
           |tot1 AS (SELECT lang, CAST(sum(n_toks) AS BIGINT) AS total,
           |                min(score) AS smin, max(doc_id) AS imax
           |         FROM s GROUP BY lang),
           |cls1 AS (SELECT lang, score,
           |           CAST(sum(n_toks) AS BIGINT) AS ct
           |         FROM s GROUP BY lang, score),
           |ca1 AS (SELECT lang, score, CAST(COALESCE(sum(ct) OVER (
           |          PARTITION BY lang ORDER BY score DESC
           |          ROWS BETWEEN UNBOUNDED PRECEDING
           |          AND 1 PRECEDING), 0) AS BIGINT) AS above FROM cls1),
           |thr1 AS (SELECT tot1.lang, CASE WHEN tot1.total <= $cap
           |           THEN tot1.smin - 1
           |           ELSE (SELECT min(score) FROM ca1
           |                 WHERE ca1.lang = tot1.lang
           |                   AND above <= $cap)
           |           END AS t
           |         FROM tot1),
           |base1 AS (SELECT thr1.lang,
           |            CAST(COALESCE(sum(s.n_toks), 0) AS BIGINT) AS m
           |          FROM thr1 LEFT JOIN s
           |            ON s.lang = thr1.lang AND s.score > thr1.t
           |          GROUP BY thr1.lang),
           |ccum1 AS (SELECT s.lang, s.doc_id,
           |            CAST(sum(s.n_toks) OVER (PARTITION BY s.lang
           |              ORDER BY s.doc_id ROWS UNBOUNDED PRECEDING)
           |              AS BIGINT) AS cumt
           |          FROM s JOIN thr1
           |            ON s.lang = thr1.lang AND s.score = thr1.t),
           |ctot1 AS (SELECT thr1.lang,
           |            CAST(COALESCE(sum(s.n_toks), 0) AS BIGINT) AS ct
           |          FROM thr1 LEFT JOIN s
           |            ON s.lang = thr1.lang AND s.score = thr1.t
           |          GROUP BY thr1.lang),
           |bid1 AS (SELECT thr1.lang, CASE
           |           WHEN base1.m + ctot1.ct <= $cap THEN tot1.imax
           |           ELSE (SELECT min(cc.doc_id) FROM ccum1 cc
           |                 WHERE cc.lang = thr1.lang
           |                   AND base1.m + cc.cumt > $cap) - 1
           |           END AS i
           |         FROM thr1 JOIN base1 USING (lang)
           |           JOIN ctot1 USING (lang) JOIN tot1 USING (lang)),
           |surv AS (SELECT s.doc_id, s.n_toks, s.score
           |         FROM s JOIN thr1 USING (lang) JOIN bid1 USING (lang)
           |         WHERE s.score > thr1.t
           |           OR (s.score = thr1.t AND s.doc_id <= bid1.i)),
           |tot2 AS (SELECT CAST(sum(n_toks) AS BIGINT) AS total,
           |                CAST(count(*) AS BIGINT) AS n_surv,
           |                min(score) AS smin, max(doc_id) AS imax
           |         FROM surv),
           |cls2 AS (SELECT score, CAST(sum(n_toks) AS BIGINT) AS ct
           |         FROM surv GROUP BY score),
           |ca2 AS (SELECT score, CAST(COALESCE(sum(ct) OVER (
           |          ORDER BY score DESC ROWS BETWEEN UNBOUNDED
           |          PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS above
           |        FROM cls2),
           |thr2 AS (SELECT CASE WHEN (SELECT total FROM tot2) <= $g
           |           THEN (SELECT smin FROM tot2) - 1
           |           ELSE (SELECT min(score) FROM ca2 WHERE above <= $g)
           |           END AS t),
           |base2 AS (SELECT CAST(COALESCE(sum(n_toks), 0) AS BIGINT)
           |            AS m
           |          FROM surv, thr2 WHERE score > t),
           |ccum2 AS (SELECT doc_id,
           |            CAST(sum(n_toks) OVER (ORDER BY doc_id
           |              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumt
           |          FROM surv, thr2 WHERE score = t),
           |ctot2 AS (SELECT CAST(COALESCE(sum(n_toks), 0) AS BIGINT)
           |            AS ct
           |          FROM surv, thr2 WHERE score = t),
           |bid2 AS (SELECT CASE
           |           WHEN (SELECT m FROM base2) + (SELECT ct FROM ctot2)
           |             <= $g THEN (SELECT imax FROM tot2)
           |           ELSE (SELECT min(doc_id) FROM ccum2
           |                 WHERE (SELECT m FROM base2) + cumt > $g) - 1
           |           END AS i),
           |sel2 AS (SELECT surv.*,
           |           CASE WHEN score > (SELECT t FROM thr2)
           |             OR (score = (SELECT t FROM thr2)
           |                 AND doc_id <= (SELECT i FROM bid2))
           |           THEN 1 ELSE 0 END AS selected FROM surv)
           |SELECT (SELECT t FROM thr2) AS threshold_score,
           |  (SELECT i FROM bid2) AS boundary_id,
           |  CAST(COALESCE(sum(selected), 0) AS BIGINT) AS n_selected,
           |  CAST(COALESCE(sum(CASE WHEN selected=1 THEN n_toks END),0)
           |    AS BIGINT) AS tokens_selected,
           |  COALESCE((SELECT n_surv FROM tot2), 0) AS n_surv,
           |  COALESCE((SELECT total FROM tot2), 0) AS tokens_surv,
           |  (SELECT CAST(count(*) AS BIGINT) FROM s) AS n_docs,
           |  (SELECT CAST(sum(n_toks) AS BIGINT) FROM s)
           |    AS tokens_total,
           |  CAST($cap AS BIGINT) AS cap_tokens,
           |  CAST($g AS BIGINT) AS budget_tokens,
           |  CAST(COALESCE(sum(CASE WHEN selected=1 THEN n_toks END),0)
           |    * 1000000 // $g AS BIGINT) AS fill_ppm
           |FROM sel2""".stripMargin
      }),

    // Per-stratum budget→fill curves (r17): the planning TABLE a
    // per-lang allocation is chosen FROM — ext174's curve for every
    // stratum at once, completing the matrix (ext173 = strata × one
    // budget, ext174 = one stratum × K budgets). |strata| × K cards
    // cost the job count of ONE ext172 cut: threshold probe sums are
    // budget-independent (per-stratum ladder unions ride as broadcast
    // columns), boundary rounds batch (stratum, class, probe)
    // condition pairs, the final cards are one labelled aggregate
    // over a pivoted 1:1 envelope join. The 2500 rung must equal
    // ext173's cards — a cross-query consistency check the oracle
    // enforces for free.
    Query("ext176_fill_curve_strata", (s, dir) =>
      Sampling.budgetFillCurveByStratum(
        TextOps.quality(docs(s, dir)).withColumn("score_ppm", expr(ScorePpmExpr)),
        "lang", col("score_ppm"), StratumFillBudgets)
        .orderBy("lang", "budget_tokens"),
      // Per-stratum fill curves: ext173's per-lang replay crossed with
      // the budget VALUES ladder — per-(lang, budget) threshold
      // (min score class with above-mass <= b, whole-fit => smin-1),
      // boundary (first overflowing boundary-class doc minus 1,
      // whole-class-fit => imax), identical selection predicate and
      // card aggregates. Validated equal to an independent per-(lang,
      // budget) prefix replay — masses AND exact selection sets —
      // before wiring (the ext172/173/174 convention).
      {
        val budgets = StratumFillBudgets.map(b => s"($b)").mkString(", ")
        s"""WITH bs AS (SELECT CAST(b AS BIGINT) AS b
           |          FROM (VALUES $budgets) v(b)),
           |d AS (SELECT lang, doc_id,
           |    CAST(len(string_split(text,' ')) AS BIGINT) AS n_toks,
           |    CAST(len(list_filter(string_split(text,' '),
           |      t -> t IN ($stopList))) AS BIGINT) AS n_stop
           |  FROM documents),
           |s AS (SELECT lang, doc_id, n_toks,
           |    CAST(least(n_toks*10000, 1000000)//2
           |      + (n_stop*1000000//n_toks)//2 AS BIGINT) AS score
           |  FROM d),
           |tot AS (SELECT lang, CAST(sum(n_toks) AS BIGINT) AS total,
           |               CAST(count(*) AS BIGINT) AS n_docs,
           |               min(score) AS smin, max(doc_id) AS imax
           |        FROM s GROUP BY lang),
           |cls AS (SELECT lang, score, CAST(sum(n_toks) AS BIGINT) AS ct
           |        FROM s GROUP BY lang, score),
           |ca AS (SELECT lang, score, CAST(COALESCE(sum(ct) OVER (
           |         PARTITION BY lang ORDER BY score DESC
           |         ROWS BETWEEN UNBOUNDED PRECEDING
           |         AND 1 PRECEDING), 0) AS BIGINT) AS above FROM cls),
           |thr AS (SELECT tot.lang, bs.b, CASE WHEN tot.total <= bs.b
           |          THEN tot.smin - 1
           |          ELSE (SELECT min(score) FROM ca
           |                WHERE ca.lang = tot.lang AND above <= bs.b)
           |          END AS t
           |        FROM tot, bs),
           |base AS (SELECT thr.lang, thr.b,
           |           CAST(COALESCE(sum(s.n_toks), 0) AS BIGINT) AS m
           |         FROM thr LEFT JOIN s
           |           ON s.lang = thr.lang AND s.score > thr.t
           |         GROUP BY thr.lang, thr.b),
           |ccum AS (SELECT thr.lang, thr.b, s.doc_id,
           |           CAST(sum(s.n_toks) OVER (PARTITION BY thr.lang,
           |             thr.b ORDER BY s.doc_id ROWS UNBOUNDED PRECEDING)
           |             AS BIGINT) AS cumt
           |         FROM s JOIN thr
           |           ON s.lang = thr.lang AND s.score = thr.t),
           |ctot AS (SELECT thr.lang, thr.b,
           |           CAST(COALESCE(sum(s.n_toks), 0) AS BIGINT) AS ct
           |         FROM thr LEFT JOIN s
           |           ON s.lang = thr.lang AND s.score = thr.t
           |         GROUP BY thr.lang, thr.b),
           |bid AS (SELECT thr.lang, thr.b, CASE
           |          WHEN base.m + ctot.ct <= thr.b THEN tot.imax
           |          ELSE (SELECT min(cc.doc_id) FROM ccum cc
           |                WHERE cc.lang = thr.lang AND cc.b = thr.b
           |                  AND base.m + cc.cumt > thr.b) - 1
           |          END AS i
           |        FROM thr JOIN base USING (lang, b)
           |          JOIN ctot USING (lang, b) JOIN tot USING (lang)),
           |sel AS (SELECT thr.b, s.lang, s.n_toks, thr.t, bid.i,
           |          CASE WHEN s.score > thr.t
           |            OR (s.score = thr.t AND s.doc_id <= bid.i)
           |          THEN 1 ELSE 0 END AS selected
           |        FROM s JOIN thr USING (lang)
           |          JOIN bid ON bid.lang = s.lang AND bid.b = thr.b)
           |SELECT sel.lang, sel.b AS budget_tokens,
           |  sel.t AS threshold_score, sel.i AS boundary_id,
           |  CAST(sum(selected) AS BIGINT) AS n_selected,
           |  CAST(COALESCE(sum(CASE WHEN selected=1 THEN n_toks END),0)
           |    AS BIGINT) AS tokens_selected,
           |  tot.n_docs, tot.total AS tokens_total,
           |  CAST(COALESCE(sum(CASE WHEN selected=1 THEN n_toks END),0)
           |    * 1000000 // sel.b AS BIGINT) AS fill_ppm
           |FROM sel JOIN tot USING (lang)
           |GROUP BY sel.lang, sel.b, sel.t, sel.i, tot.n_docs, tot.total
           |ORDER BY sel.lang, budget_tokens""".stripMargin
      }),

    // Two-level cap sweep (r17): ext175's card at K cap values
    // against ONE global budget — the curve the CAP POLICY is chosen
    // FROM (how tight can per-source caps be before the global
    // budget under-fills; how loose before one source floods the
    // survivor pool). Stage 1 = the ext176 batched (stratum × cap)
    // searches; each cap's survivors are a predicate off ONE pivoted
    // 1:1 envelope join; stage-2 domains, rounds and selection sums
    // each batch all K caps as columns in one job. The 2500 rung
    // must equal ext175's card — cross-query consistency the oracle
    // enforces.
    Query("ext177_cap_sweep", (s, dir) =>
      Sampling.twoLevelCapSweep(
        TextOps.quality(docs(s, dir)).withColumn("score_ppm", expr(ScorePpmExpr)),
        "lang", col("score_ppm"), StratumFillBudgets,
        TwoLevelGlobalTokens),
      // Two-level cap sweep: ext175's two-stage replay crossed with the
      // caps VALUES ladder — per-cap stage-1 per-lang threshold/
      // boundary, survivor set, stage-2 global threshold/boundary over
      // each cap's survivors, one card row per cap (empty-survivor
      // rungs LEFT-JOIN to null threshold/boundary with telemetry
      // intact). Validated equal to an independent two-stage prefix
      // replay — masses AND exact survivor sets — before wiring; the
      // shared rung equals ext175's card.
      {
        val capsLadder = StratumFillBudgets.map(c => s"($c)").mkString(", ")
        val g = TwoLevelGlobalTokens
        s"""WITH cs AS (SELECT CAST(c AS BIGINT) AS c
           |          FROM (VALUES $capsLadder) v(c)),
           |d AS (SELECT lang, doc_id,
           |    CAST(len(string_split(text,' ')) AS BIGINT) AS n_toks,
           |    CAST(len(list_filter(string_split(text,' '),
           |      t -> t IN ($stopList))) AS BIGINT) AS n_stop
           |  FROM documents),
           |s AS (SELECT lang, doc_id, n_toks,
           |    CAST(least(n_toks*10000, 1000000)//2
           |      + (n_stop*1000000//n_toks)//2 AS BIGINT) AS score
           |  FROM d),
           |tot1 AS (SELECT lang, CAST(sum(n_toks) AS BIGINT) AS total,
           |                min(score) AS smin, max(doc_id) AS imax
           |         FROM s GROUP BY lang),
           |cls1 AS (SELECT lang, score,
           |           CAST(sum(n_toks) AS BIGINT) AS ct
           |         FROM s GROUP BY lang, score),
           |ca1 AS (SELECT lang, score, CAST(COALESCE(sum(ct) OVER (
           |          PARTITION BY lang ORDER BY score DESC
           |          ROWS BETWEEN UNBOUNDED PRECEDING
           |          AND 1 PRECEDING), 0) AS BIGINT) AS above FROM cls1),
           |thr1 AS (SELECT tot1.lang, cs.c, CASE
           |           WHEN tot1.total <= cs.c THEN tot1.smin - 1
           |           ELSE (SELECT min(score) FROM ca1
           |                 WHERE ca1.lang = tot1.lang AND above <= cs.c)
           |           END AS t
           |         FROM tot1, cs),
           |base1 AS (SELECT thr1.lang, thr1.c,
           |            CAST(COALESCE(sum(s.n_toks), 0) AS BIGINT) AS m
           |          FROM thr1 LEFT JOIN s
           |            ON s.lang = thr1.lang AND s.score > thr1.t
           |          GROUP BY thr1.lang, thr1.c),
           |ccum1 AS (SELECT thr1.c, s.lang, s.doc_id,
           |            CAST(sum(s.n_toks) OVER (PARTITION BY thr1.c,
           |              s.lang ORDER BY s.doc_id
           |              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumt
           |          FROM s JOIN thr1
           |            ON s.lang = thr1.lang AND s.score = thr1.t),
           |ctot1 AS (SELECT thr1.lang, thr1.c,
           |            CAST(COALESCE(sum(s.n_toks), 0) AS BIGINT) AS ct
           |          FROM thr1 LEFT JOIN s
           |            ON s.lang = thr1.lang AND s.score = thr1.t
           |          GROUP BY thr1.lang, thr1.c),
           |bid1 AS (SELECT thr1.lang, thr1.c, CASE
           |           WHEN base1.m + ctot1.ct <= thr1.c THEN tot1.imax
           |           ELSE (SELECT min(cc.doc_id) FROM ccum1 cc
           |                 WHERE cc.lang = thr1.lang AND cc.c = thr1.c
           |                   AND base1.m + cc.cumt > thr1.c) - 1
           |           END AS i
           |         FROM thr1 JOIN base1 USING (lang, c)
           |           JOIN ctot1 USING (lang, c) JOIN tot1 USING (lang)),
           |surv AS (SELECT thr1.c, s.doc_id, s.n_toks, s.score
           |         FROM s JOIN thr1 USING (lang)
           |           JOIN bid1 ON bid1.lang = s.lang AND bid1.c = thr1.c
           |         WHERE s.score > thr1.t
           |           OR (s.score = thr1.t AND s.doc_id <= bid1.i)),
           |tot2 AS (SELECT c, CAST(sum(n_toks) AS BIGINT) AS total,
           |                CAST(count(*) AS BIGINT) AS n_surv,
           |                min(score) AS smin, max(doc_id) AS imax
           |         FROM surv GROUP BY c),
           |cls2 AS (SELECT c, score, CAST(sum(n_toks) AS BIGINT) AS ct
           |         FROM surv GROUP BY c, score),
           |ca2 AS (SELECT c, score, CAST(COALESCE(sum(ct) OVER (
           |          PARTITION BY c ORDER BY score DESC
           |          ROWS BETWEEN UNBOUNDED PRECEDING
           |          AND 1 PRECEDING), 0) AS BIGINT) AS above FROM cls2),
           |thr2 AS (SELECT tot2.c, CASE WHEN tot2.total <= $g
           |           THEN tot2.smin - 1
           |           ELSE (SELECT min(score) FROM ca2
           |                 WHERE ca2.c = tot2.c AND above <= $g)
           |           END AS t
           |         FROM tot2),
           |base2 AS (SELECT thr2.c,
           |            CAST(COALESCE(sum(surv.n_toks), 0) AS BIGINT) AS m
           |          FROM thr2 LEFT JOIN surv
           |            ON surv.c = thr2.c AND surv.score > thr2.t
           |          GROUP BY thr2.c),
           |ccum2 AS (SELECT thr2.c, surv.doc_id,
           |            CAST(sum(surv.n_toks) OVER (PARTITION BY thr2.c
           |              ORDER BY surv.doc_id ROWS UNBOUNDED PRECEDING)
           |              AS BIGINT) AS cumt
           |          FROM surv JOIN thr2
           |            ON surv.c = thr2.c AND surv.score = thr2.t),
           |ctot2 AS (SELECT thr2.c,
           |            CAST(COALESCE(sum(surv.n_toks), 0) AS BIGINT) AS ct
           |          FROM thr2 LEFT JOIN surv
           |            ON surv.c = thr2.c AND surv.score = thr2.t
           |          GROUP BY thr2.c),
           |bid2 AS (SELECT thr2.c, CASE
           |           WHEN base2.m + ctot2.ct <= $g THEN tot2.imax
           |           ELSE (SELECT min(cc.doc_id) FROM ccum2 cc
           |                 WHERE cc.c = thr2.c
           |                   AND base2.m + cc.cumt > $g) - 1
           |           END AS i
           |         FROM thr2 JOIN base2 USING (c) JOIN ctot2 USING (c)
           |           JOIN tot2 USING (c)),
           |selagg AS (SELECT surv.c,
           |             CAST(COALESCE(sum(CASE WHEN surv.score > thr2.t
           |               OR (surv.score = thr2.t
           |                   AND surv.doc_id <= bid2.i)
           |               THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_selected,
           |             CAST(COALESCE(sum(CASE WHEN surv.score > thr2.t
           |               OR (surv.score = thr2.t
           |                   AND surv.doc_id <= bid2.i)
           |               THEN surv.n_toks END), 0) AS BIGINT)
           |               AS tokens_selected
           |           FROM surv JOIN thr2 USING (c) JOIN bid2 USING (c)
           |           GROUP BY surv.c),
           |gtot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
           |                CAST(sum(n_toks) AS BIGINT) AS tokens_total
           |         FROM s)
           |SELECT cs.c AS cap_tokens, thr2.t AS threshold_score,
           |  bid2.i AS boundary_id,
           |  COALESCE(selagg.n_selected, 0) AS n_selected,
           |  COALESCE(selagg.tokens_selected, 0) AS tokens_selected,
           |  COALESCE(tot2.n_surv, 0) AS n_surv,
           |  COALESCE(tot2.total, 0) AS tokens_surv,
           |  gtot.n_docs, gtot.tokens_total,
           |  CAST($g AS BIGINT) AS budget_tokens,
           |  CAST(COALESCE(selagg.tokens_selected, 0) * 1000000 // $g
           |    AS BIGINT) AS fill_ppm
           |FROM cs LEFT JOIN tot2 ON tot2.c = cs.c
           |  LEFT JOIN thr2 ON thr2.c = cs.c
           |  LEFT JOIN bid2 ON bid2.c = cs.c
           |  LEFT JOIN selagg ON selagg.c = cs.c, gtot
           |ORDER BY cap_tokens""".stripMargin
      }),

    // Corpus snapshot diff (r17): the lineage audit between two
    // crawl/curation versions — per stratum: added / removed /
    // changed / moved (the langid-re-run reclassification, counted
    // out of the old stratum and into the new) / unchanged doc
    // counts plus both sides' token masses. ONE data shuffle (the
    // full-outer id join), ≤2 bounded contributions per doc, one
    // map-side-combined aggregate. The "old" snapshot is derived
    // deterministically from the table (drop %11 docs → added,
    // re-stratify %17 → moved, append " legacy" to %7 texts →
    // changed, shift %13 ids out of range → removed) so both
    // engines diff identical snapshots. The "removed" ids are
    // shifted by max(doc_id) + 1 — collision-free BY CONSTRUCTION at
    // any scale factor (every shifted id exceeds every genuine id;
    // the r17 1000000L literal collided once real ids reached 1e6
    // and aborted on the duplicate-id guard) — the oracle computes
    // the identical shift in a CTE.
    Query("ext178_corpus_diff", (s, dir) => {
      val d = docs(s, dir)
      val shift =
        d.agg(max(col("doc_id"))).first().getLong(0) + 1L
      val oldSnap = d.filter(col("doc_id") % 11 =!= 0)
        .withColumn("lang", when(col("doc_id") % 17 === 0, lit("xx"))
          .otherwise(col("lang")))
        .withColumn("text", when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" legacy"))).otherwise(col("text")))
        .unionByName(d.filter(col("doc_id") % 13 === 0)
          .withColumn("doc_id", col("doc_id") + lit(shift)))
      Sampling.corpusDiff(oldSnap, d, "lang").orderBy("lang")
    },
      // Corpus snapshot diff: both engines derive the identical "old"
      // snapshot from the table, full-outer-join on id, classify
      // (added / removed / moved-trumps-changed / changed / unchanged),
      // attribute each doc to its NEW stratum and its OLD stratum
      // (moved mass leaves one row and arrives in another), aggregate.
      // Validated against an independent set-operation recount of
      // every class before wiring.
      """WITH newd AS (SELECT doc_id, lang, text FROM documents),
        |mx AS (SELECT max(doc_id) + 1 AS sh FROM documents),
        |oldd AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 17 = 0 THEN 'xx' ELSE lang END AS lang,
        |    CASE WHEN doc_id % 7 = 0 THEN text || ' legacy'
        |      ELSE text END AS text
        |  FROM documents WHERE doc_id % 11 <> 0
        |  UNION ALL
        |  SELECT doc_id + (SELECT sh FROM mx), lang, text
        |  FROM documents WHERE doc_id % 13 = 0),
        |j AS (SELECT n.doc_id AS nid, o.doc_id AS oid,
        |        n.lang AS ns, o.lang AS os,
        |        md5(n.text) AS nt, md5(o.text) AS ot,
        |        CAST(len(string_split(n.text,' ')) AS BIGINT) AS ntoks,
        |        CAST(len(string_split(o.text,' ')) AS BIGINT) AS otoks
        |      FROM newd n FULL OUTER JOIN oldd o
        |        ON n.doc_id = o.doc_id),
        |contrib AS (
        |  SELECT ns AS s,
        |    CASE WHEN oid IS NULL THEN 1 ELSE 0 END AS a, 0 AS r,
        |    CASE WHEN oid IS NOT NULL AND ns IS NOT DISTINCT FROM os
        |      AND nt IS DISTINCT FROM ot THEN 1 ELSE 0 END AS c,
        |    CASE WHEN oid IS NOT NULL AND ns IS DISTINCT FROM os
        |      THEN 1 ELSE 0 END AS mi,
        |    0 AS mo,
        |    CASE WHEN oid IS NOT NULL AND ns IS NOT DISTINCT FROM os
        |      AND nt IS NOT DISTINCT FROM ot THEN 1 ELSE 0 END AS u,
        |    ntoks AS tn, 0 AS tok_o
        |  FROM j WHERE nid IS NOT NULL
        |  UNION ALL
        |  SELECT os, 0,
        |    CASE WHEN nid IS NULL THEN 1 ELSE 0 END, 0, 0,
        |    CASE WHEN nid IS NOT NULL AND ns IS DISTINCT FROM os
        |      THEN 1 ELSE 0 END, 0, 0, otoks
        |  FROM j WHERE oid IS NOT NULL)
        |SELECT s AS lang,
        |  CAST(sum(a) AS BIGINT) AS n_added,
        |  CAST(sum(r) AS BIGINT) AS n_removed,
        |  CAST(sum(c) AS BIGINT) AS n_changed,
        |  CAST(sum(mi) AS BIGINT) AS n_moved_in,
        |  CAST(sum(mo) AS BIGINT) AS n_moved_out,
        |  CAST(sum(u) AS BIGINT) AS n_unchanged,
        |  CAST(sum(tn) AS BIGINT) AS tokens_new,
        |  CAST(sum(tok_o) AS BIGINT) AS tokens_old,
        |  CAST(sum(tn) - sum(tok_o) AS BIGINT) AS token_delta
        |FROM contrib GROUP BY s ORDER BY lang""".stripMargin),

    // Versioned corpus diff (r18): the keep-latest lineage serve
    // under the ORACLE gate — ext178 diffs two materialized
    // snapshots; this serves the SAME audit from the family's
    // versioned partials (batch=N is the version, the one-sink
    // discipline), putting foldPartials' versioned max_by-struct
    // arbitration itself under DuckDB replay. Version 1 re-ingests
    // %17 docs under stratum 'xx' (moved), bumps %7-not-%17 docs'
    // score (changed — the sink's (score, toks) fingerprint, text
    // is never stored), and ingests brand-new docs (%13, ids
    // shifted by max+1) first seen at v1 (added). An append-only
    // log cannot REMOVE, so n_removed = 0 structurally (the
    // backward diff is the spec-held transpose).
    Query("ext179_corpus_diff_versioned", (s, dir) => {
      val d = TextOps.quality(docs(s, dir))
        .withColumn("score_ppm", expr(ScorePpmExpr))
      // The partials projection feeds THREE union branches (v0, the
      // re-ingest filter, the shifted new-docs branch) — materialize
      // once or the tokenize+quality corpus scan plans and runs once
      // per branch under the two version folds (r19; the ext15
      // two-consumer rule).
      val parts = graft.ops.Reuse.shared(
        Sampling.budgetSelectStratumPartials(
          d, col("lang"), col("score_ppm")))
      val shift =
        d.agg(max(col("doc_id"))).first().getLong(0) + 1L
      val v0 = parts.withColumn("_ver", lit(0L))
      val v1 = parts
        .filter(col("_id") % 17 === 0 || col("_id") % 7 === 0)
        .withColumn("_s", when(col("_id") % 17 === 0, lit("xx"))
          .otherwise(col("_s")))
        .withColumn("_score", when(col("_id") % 17 =!= 0,
          col("_score") + 1L).otherwise(col("_score")))
        .unionByName(parts.filter(col("_id") % 13 === 0)
          .withColumn("_id", col("_id") + lit(shift)))
        .withColumn("_ver", lit(1L))
      Sampling.corpusDiffFromVersioned(v0.unionByName(v1), 0L, 1L,
        "lang").orderBy("lang")
    },
      // Versioned corpus diff: the oracle replays BOTH halves of the
      // serve independently — the keep-latest fold (version-1 rows
      // override version-0 rows per id; applied directly, since the
      // mods are deterministic) and the (score, toks)-fingerprint
      // classification. Validated in DuckDB against an independent
      // set-operation recount of every class (39/0/67/30/30/403 at
      // sf0.01) and token conservation (Σ token_delta == tokens of
      // the added docs) before wiring.
      s"""WITH d AS (SELECT lang, doc_id,
         |    CAST(len(string_split(text,' ')) AS BIGINT) AS n_toks,
         |    CAST(len(list_filter(string_split(text,' '),
         |      t -> t IN ($stopList))) AS BIGINT) AS n_stop
         |  FROM documents),
         |s AS (SELECT lang, doc_id, n_toks,
         |    CAST(least(n_toks*10000, 1000000)//2
         |      + (n_stop*1000000//n_toks)//2 AS BIGINT) AS score
         |  FROM d),
         |mx AS (SELECT max(doc_id) + 1 AS sh FROM documents),
         |snap0 AS (SELECT lang, doc_id, score, n_toks FROM s),
         |snap1 AS (
         |  SELECT CASE WHEN doc_id % 17 = 0 THEN 'xx' ELSE lang END
         |      AS lang,
         |    doc_id,
         |    CASE WHEN doc_id % 17 <> 0 AND doc_id % 7 = 0
         |      THEN score + 1 ELSE score END AS score, n_toks
         |  FROM s
         |  UNION ALL
         |  SELECT lang, doc_id + (SELECT sh FROM mx), score, n_toks
         |  FROM s WHERE doc_id % 13 = 0),
         |j AS (SELECT n.doc_id AS nid, o.doc_id AS oid, n.lang AS ns,
         |        o.lang AS os, n.score AS nsc, o.score AS osc,
         |        n.n_toks AS ntk, o.n_toks AS otk
         |      FROM snap1 n FULL OUTER JOIN snap0 o
         |        ON n.doc_id = o.doc_id),
         |contrib AS (
         |  SELECT ns AS s2,
         |    CASE WHEN oid IS NULL THEN 1 ELSE 0 END AS a, 0 AS r,
         |    CASE WHEN oid IS NOT NULL AND ns IS NOT DISTINCT FROM os
         |      AND (nsc IS DISTINCT FROM osc
         |        OR ntk IS DISTINCT FROM otk)
         |      THEN 1 ELSE 0 END AS c,
         |    CASE WHEN oid IS NOT NULL AND ns IS DISTINCT FROM os
         |      THEN 1 ELSE 0 END AS mi,
         |    0 AS mo,
         |    CASE WHEN oid IS NOT NULL AND ns IS NOT DISTINCT FROM os
         |      AND nsc IS NOT DISTINCT FROM osc
         |      AND ntk IS NOT DISTINCT FROM otk
         |      THEN 1 ELSE 0 END AS u,
         |    ntk AS tn, 0 AS tok_o
         |  FROM j WHERE nid IS NOT NULL
         |  UNION ALL
         |  SELECT os, 0, CASE WHEN nid IS NULL THEN 1 ELSE 0 END,
         |    0, 0,
         |    CASE WHEN nid IS NOT NULL AND ns IS DISTINCT FROM os
         |      THEN 1 ELSE 0 END, 0, 0, otk
         |  FROM j WHERE oid IS NOT NULL)
         |SELECT s2 AS lang,
         |  CAST(sum(a) AS BIGINT) AS n_added,
         |  CAST(sum(r) AS BIGINT) AS n_removed,
         |  CAST(sum(c) AS BIGINT) AS n_changed,
         |  CAST(sum(mi) AS BIGINT) AS n_moved_in,
         |  CAST(sum(mo) AS BIGINT) AS n_moved_out,
         |  CAST(sum(u) AS BIGINT) AS n_unchanged,
         |  CAST(sum(tn) AS BIGINT) AS tokens_new,
         |  CAST(sum(tok_o) AS BIGINT) AS tokens_old,
         |  CAST(sum(tn) - sum(tok_o) AS BIGINT) AS token_delta
         |FROM contrib GROUP BY s2 ORDER BY lang""".stripMargin),

    // Salt-and-replicate skew join: lineitem×part revenue per brand
    // through the salted plan — the manual skew pattern for joins
    // AQE's splitting can't reach (over-broadcast dims, stateful
    // joins). The salt never reaches the result, so the oracle is the
    // PLAIN join + aggregate: correctness of the rewrite itself is
    // what's checked.
    // Per-language rank normalization (the CCNet perplexity-percentile
    // convention): raw scores aren't comparable across strata, so the
    // filter operates on the within-stratum percentile — here the doc
    // length signal, rank-normalized per lang, exact integer
    // percent-rank.
    Query("ext116_rank_normalize", (s, dir) =>
      Sampling.rankNormalize(
          docs(s, dir).select("doc_id", "lang", "n_chars"),
          Seq("lang"), col("doc_id"), col("n_chars"))
        .orderBy("doc_id"),
      // Exact integer percent-rank over the same (signal, id) order.
      """WITH r AS (
        |  SELECT doc_id, lang, n_chars,
        |         row_number() OVER (PARTITION BY lang
        |           ORDER BY n_chars ASC, doc_id ASC) AS rk,
        |         count(*) OVER (PARTITION BY lang) AS n
        |  FROM documents)
        |SELECT doc_id, lang, n_chars,
        |       CAST(CASE WHEN n = 1 THEN 0
        |            ELSE ((rk - 1) * 1000000) // (n - 1) END AS BIGINT)
        |         AS pct_ppm
        |FROM r ORDER BY doc_id""".stripMargin),

    // Two-phase curriculum ledger: bulk (α=1, 90% of budget) + anneal
    // (α=0.5, 10%) per source off ONE counts aggregate — the plan
    // sheet of a bulk+anneal pretraining run; epochs_q > 1e6 on an
    // anneal row is the overfit warning.
    Query("ext121_anneal_ledger", (s, dir) =>
      Sampling.annealLedger(docs(s, dir), TokenBudget)
        .orderBy("phase", "source"),
      // Two-phase ledger: one counts CTE feeds the proportional bulk
      // weights and the ext62 sqrt-temperature anneal weights; budgets
      // split by exact integer ppm (inlined from the same constants the
      // Spark side uses).
      {
        val annealBudget = TokenBudget * 100000L / 1000000L
        val bulkBudget = TokenBudget - annealBudget
        s"""WITH c AS (
           |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           |         CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
           |           AS n_tokens
           |  FROM documents GROUP BY 1),
           |t AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS nd FROM c),
           |q AS (SELECT source, n_docs, n_tokens,
           |             CAST(floor(1000000.0 * sqrt(CAST(n_docs AS DOUBLE)))
           |               AS BIGINT) AS q_s
           |      FROM c),
           |qt AS (SELECT CAST(SUM(q_s) AS BIGINT) AS q_tot FROM q),
           |aw AS (SELECT source, n_docs, n_tokens,
           |              CAST(floor(1000000.0 * (CAST(q_s AS DOUBLE)
           |                   / CAST(q_tot AS DOUBLE))) AS BIGINT)
           |                AS weight_q
           |       FROM q, qt),
           |u AS (
           |  SELECT 'bulk' AS phase, source, n_docs, n_tokens,
           |         (n_docs * 1000000) // nd AS weight_q,
           |         (CAST($bulkBudget AS BIGINT)
           |           * ((n_docs * 1000000) // nd)) // 1000000
           |           AS planned_tokens
           |  FROM c, t
           |  UNION ALL
           |  SELECT 'anneal', source, n_docs, n_tokens, weight_q,
           |         (CAST($annealBudget AS BIGINT) * weight_q) // 1000000
           |  FROM aw)
           |SELECT phase, source, n_docs, n_tokens, weight_q,
           |       planned_tokens,
           |       CASE WHEN n_tokens > 0
           |            THEN (planned_tokens * 1000000) // n_tokens
           |            ELSE CAST(0 AS BIGINT) END AS epochs_q
           |FROM u ORDER BY phase, source""".stripMargin
      }),

    // END-TO-END curation pipeline (r9 verdict item 6): the full
    // modern chain composed ONCE as a graded query — gopher rules →
    // within-doc repetition surgery → cross-doc span surgery →
    // semantic + Bloom decontamination → sqrt-temperature mixture →
    // pack — each stage the EXISTING operator (ext71/123/96/122/102/
    // 62/59 respectively), benchmark = doc_id < 20 (the ext97/102
    // convention), corpus = the rest. Output: the per-stage data card
    // (docs/toks surviving, removed vs the previous stage), then one
    // mix:<source> row per stratum with its planned token draw, then
    // the pack row (sequences at ctx 512, padding waste). Every stage
    // is a keyed aggregate / broadcast-artifact join — composing them
    // adds no new shuffle shape, which is the point: the pipeline IS
    // the operators.
    // indexKey routes the snapshot artifacts (keeper relation, bench
    // shingles, Bloom bits, bench vectors) through Reuse.index — the
    // bench's second pass and any repeated card pay the builds once
    // (r10 verdict item 6), with the card itself unchanged.
    Query("ext126_curation_pipeline", (s, dir) =>
      Curation.pipelineCard(docs(s, dir), embs(s, dir),
          NumQueryVecs.toLong, TokenBudget, CurationCtx,
          indexKey = Some(dir))
        .orderBy("stage_ord", "stage"),
      // End-to-end curation pipeline: every stage's existing twin CTEs
      // chained over the previous stage's output relation — gopher
      // (ext71) → rep surgery (ext123, prefix r) → span surgery (ext96,
      // prefix s) → semantic flag (ext122's cosine over c3's survivors)
      // → bloom flag (ext102's k-bit probe over c4's CLEANED text) →
      // ext62 mixture → ext59-style pack at ctx 512.
      {
        def bp(j: Int, e: String) =
          s"((($e) * ${Hashing.seedA(j)} + ${Hashing.seedB(j)}) % $P)" +
            s" % ${Sketches.BloomM}"
        def posUnion(src: String, cols: String) =
          (0 until Sketches.BloomK).map(j =>
            s"SELECT $cols, ${bp(j, "h")} AS bit FROM $src")
            .mkString("\n  |  UNION ALL\n  |  ")
        // MATERIALIZED (r14): the stage chain re-reads each prior stage's
        // output several times (16 s -> 0.2 s, identical rows, both SFs).
        materializeCtes(s"""WITH c0 AS (SELECT doc_id, text, source FROM documents
           |        WHERE doc_id >= $NumQueryVecs),
           |gm AS (
           |  SELECT doc_id, text, source,
           |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
           |    (CAST(len(replace(text, ' ', '')) AS BIGINT) * 1000)
           |      // CAST(len(string_split(text, ' ')) AS BIGINT) AS mwl_q,
           |    CAST(len(list_filter(string_split(text, ' '),
           |      t -> t IN ($stopList))) AS BIGINT) AS stop_hits
           |  FROM c0),
           |c1 AS (SELECT doc_id, text, source FROM gm
           |       WHERE n_toks BETWEEN ${TextOps.GopherMinToks}
           |             AND ${TextOps.GopherMaxToks}
           |         AND mwl_q BETWEEN ${TextOps.GopherMinMwlQ}
           |             AND ${TextOps.GopherMaxMwlQ}
           |         AND stop_hits >= ${TextOps.GopherMinStop}),
           |${surgerySqlCtes("c1", "r", rep = true)},
           |c2 AS (SELECT o.doc_id, o.clean_text AS text, c1.source
           |       FROM rout o JOIN c1 USING (doc_id)),
           |${surgerySqlCtes("c2", "s", rep = false)},
           |c3 AS (SELECT o.doc_id, o.clean_text AS text, c2.source
           |       FROM sout o JOIN c2 USING (doc_id)),
           |${QuantFlatSql.stripPrefix("WITH ")},
           |bd AS (
           |  SELECT a.vec_id AS vid, b.vec_id AS bid,
           |         CAST(SUM(a.qi * b.qi) AS BIGINT) AS dot
           |  FROM flat a JOIN flat b ON b.i = a.i
           |  WHERE a.vec_id IN (SELECT doc_id FROM c3)
           |    AND b.vec_id < $NumQueryVecs
           |  GROUP BY 1, 2),
           |semsc AS (
           |  SELECT vid, CAST(dot AS DOUBLE) /
           |           sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE))
           |           AS cos
           |  FROM bd JOIN n2 na ON na.vec_id = bd.vid
           |       JOIN n2 nb ON nb.vec_id = bd.bid),
           |semflag AS (SELECT vid AS doc_id FROM semsc GROUP BY 1
           |            HAVING max(cos) >= ${Similarity.NearDupThreshold}),
           |c4 AS (SELECT * FROM c3
           |       WHERE doc_id NOT IN (SELECT doc_id FROM semflag)),
           |btoks AS (SELECT doc_id, string_split(text, ' ') AS tk
           |          FROM documents WHERE doc_id < $NumQueryVecs),
           |bh AS (
           |  SELECT DISTINCT
           |         ${hashSql("tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]")} AS h
           |  FROM btoks JOIN range(1, ${Dedup.MaxShinglesPerDoc + 1}) g(i)
           |    ON i <= len(tk) - 2),
           |c4toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM c4),
           |c4sh AS (
           |  SELECT DISTINCT doc_id,
           |         ${hashSql("tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]")} AS h
           |  FROM c4toks JOIN range(1, ${Dedup.MaxShinglesPerDoc + 1}) g(i)
           |    ON i <= len(tk) - 2),
           |bbits AS (SELECT DISTINCT bit FROM (
           |  ${posUnion("bh", "h AS bh2")})),
           |bpos AS (
           |  ${posUnion("c4sh", "doc_id, h")}),
           |bhits AS (
           |  SELECT p2.doc_id, p2.h,
           |         CASE WHEN count(b.bit) = ${Sketches.BloomK}
           |              THEN 1 ELSE 0 END AS bloom_hit
           |  FROM bpos p2 LEFT JOIN bbits b USING (bit) GROUP BY 1, 2),
           |bper AS (SELECT doc_id, count(*) AS n_sh,
           |                SUM(bloom_hit) AS n_bloom
           |         FROM bhits GROUP BY 1),
           |bloomflag AS (SELECT doc_id FROM bper
           |              WHERE CAST(n_bloom AS DOUBLE)
           |                    / CAST(n_sh AS DOUBLE)
           |                    >= ${Curation.BloomFlagThreshold}),
           |c5 AS (SELECT * FROM c4
           |       WHERE doc_id NOT IN (SELECT doc_id FROM bloomflag)),
           |mc AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           |              CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
           |                AS n_tokens
           |       FROM c5 GROUP BY 1),
           |mq AS (SELECT source, n_docs, n_tokens,
           |              CAST(floor(1000000.0
           |                * sqrt(CAST(n_docs AS DOUBLE))) AS BIGINT) AS q_s
           |       FROM mc),
           |mt AS (SELECT CAST(SUM(q_s) AS BIGINT) AS q_tot FROM mq),
           |mw AS (SELECT source, n_docs,
           |              CAST(floor(1000000.0 * (CAST(q_s AS DOUBLE)
           |                   / CAST(q_tot AS DOUBLE))) AS BIGINT)
           |                AS weight_q
           |       FROM mq, mt),
           |mixrows AS (
           |  SELECT CAST(6 AS BIGINT) AS stage_ord,
           |         'mix:' || source AS stage, n_docs AS docs,
           |         (CAST($TokenBudget AS BIGINT) * weight_q) // 1000000
           |           AS toks,
           |         CAST(0 AS BIGINT) AS removed_docs,
           |         CAST(0 AS BIGINT) AS removed_toks
           |  FROM mw),
           |pk AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
           |              CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
           |                AS total_toks,
           |              CAST(SUM((len(string_split(text, ' '))
           |                + ${CurationCtx - 1})
           |                // $CurationCtx) AS BIGINT) AS chunks_padded
           |       FROM c5),
           |packrow AS (
           |  SELECT CAST(7 AS BIGINT) AS stage_ord, 'pack' AS stage,
           |         chunks_padded AS docs, total_toks AS toks,
           |         CAST(0 AS BIGINT) AS removed_docs,
           |         chunks_padded * $CurationCtx - total_toks
           |           AS removed_toks
           |  FROM pk WHERE n_docs > 0),
           |k0 AS (SELECT CAST(count(*) AS BIGINT) AS d,
           |              CAST(COALESCE(SUM(len(string_split(text, ' '))), 0)
           |                AS BIGINT) AS t FROM c0),
           |k1 AS (SELECT CAST(count(*) AS BIGINT) AS d,
           |              CAST(COALESCE(SUM(len(string_split(text, ' '))), 0)
           |                AS BIGINT) AS t FROM c1),
           |k2 AS (SELECT CAST(count(*) AS BIGINT) AS d,
           |              CAST(COALESCE(SUM(len(string_split(text, ' '))), 0)
           |                AS BIGINT) AS t FROM c2),
           |k3 AS (SELECT CAST(count(*) AS BIGINT) AS d,
           |              CAST(COALESCE(SUM(len(string_split(text, ' '))), 0)
           |                AS BIGINT) AS t FROM c3),
           |k4 AS (SELECT CAST(count(*) AS BIGINT) AS d,
           |              CAST(COALESCE(SUM(len(string_split(text, ' '))), 0)
           |                AS BIGINT) AS t FROM c4),
           |k5 AS (SELECT CAST(count(*) AS BIGINT) AS d,
           |              CAST(COALESCE(SUM(len(string_split(text, ' '))), 0)
           |                AS BIGINT) AS t FROM c5),
           |card AS (
           |  SELECT CAST(0 AS BIGINT) AS stage_ord, 'input' AS stage,
           |         d AS docs, t AS toks, CAST(0 AS BIGINT) AS removed_docs,
           |         CAST(0 AS BIGINT) AS removed_toks FROM k0
           |  UNION ALL SELECT CAST(1 AS BIGINT), 'gopher', k1.d, k1.t,
           |         k0.d - k1.d, k0.t - k1.t FROM k1, k0
           |  UNION ALL SELECT CAST(2 AS BIGINT), 'rep_surgery', k2.d, k2.t,
           |         k1.d - k2.d, k1.t - k2.t FROM k2, k1
           |  UNION ALL SELECT CAST(3 AS BIGINT), 'span_surgery', k3.d, k3.t,
           |         k2.d - k3.d, k2.t - k3.t FROM k3, k2
           |  UNION ALL SELECT CAST(4 AS BIGINT), 'semantic_decon', k4.d,
           |         k4.t, k3.d - k4.d, k3.t - k4.t FROM k4, k3
           |  UNION ALL SELECT CAST(5 AS BIGINT), 'bloom_decon', k5.d, k5.t,
           |         k4.d - k5.d, k4.t - k5.t FROM k5, k4)
           |SELECT * FROM (
           |  SELECT * FROM card
           |  UNION ALL SELECT * FROM mixrows
           |  UNION ALL SELECT * FROM packrow)
           |ORDER BY stage_ord, stage""".stripMargin)
      })
  )
}
