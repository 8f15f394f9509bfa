package graft.ops

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StructField,
  StructType}

/**
 * Deterministic sampling for corpus construction.
 *
 * Like [[Splits]], selection is by portable hash, not RNG: the sample is
 * reproducible across engines and reruns, stable under repartitioning,
 * and append-stable in the sense that a document's hash rank never
 * changes (new docs can displace old ones only at the stratum boundary).
 *
 * Scale shape: `row_number` over (stratum ORDER BY hash) + `rank <= k`
 * filter is recognized by Catalyst's WindowGroupLimit rule — each map
 * task keeps only its local top-k per stratum BEFORE the shuffle, so the
 * exchange carries O(strata × k × tasks) rows, not the corpus. A
 * hash-threshold Bernoulli sample (`hash % N < M`, no shuffle at all) is
 * the alternative when the size need only be approximate; the fixed-k
 * variant is exact.
 */
object Sampling {

  /** Exactly min(k, |stratum|) docs per stratum, smallest portable hash
    * first; `rank` (1-based) is the selection order within the stratum. */
  def stratifiedTopK(df: DataFrame, strata: Seq[String], id: Column,
      k: Int, salt: String = "samp"): DataFrame = {
    val h = Hashing.portableHash32(
      concat(lit(salt + ":"), id.cast("string")))
    val w = Window.partitionBy(strata.map(col): _*)
      .orderBy(col("_h"), id)
    df.withColumn("_h", h)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .drop("_h")
  }

  /** Deterministic WEIGHTED priority sample: selection priority is
    * `hash(id) / weight` ascending, so a document's selection pressure
    * grows with its weight while the draw stays reproducible (the
    * portable hash plays the uniform variate; the priority is ONE
    * exactly-rounded IEEE division, so any engine ranks identically).
    * The classical A-ES exponential form (-ln u / w) would need `ln`,
    * which is not bit-portable across engines; h/w keeps the same
    * monotone-in-weight ordering with portable arithmetic. Same
    * WindowGroupLimit pre-shuffle bound and append-stability as
    * [[stratifiedTopK]]. */
  def weightedTopK(df: DataFrame, strata: Seq[String], id: Column,
      weight: Column, k: Int, salt: String = "wsamp"): DataFrame = {
    val h = Hashing.portableHash32(
      concat(lit(salt + ":"), id.cast("string")))
    val w = Window.partitionBy(strata.map(col): _*)
      .orderBy(col("_pri"), id)
    df.withColumn("_pri", h.cast("double") / weight.cast("double"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .drop("_pri")
  }

  /** Approximate-rate Bernoulli sample: keep iff hash(id) mod den < num.
    * Pure projection — no shuffle, no state; composes with [[Splits]]. */
  def bernoulli(df: DataFrame, id: Column, num: Int, den: Int = 1000,
      salt: String = "samp"): DataFrame = {
    require(num >= 0 && num <= den, "rate must be within [0, den]")
    val h = Hashing.portableHash32(
      concat(lit(salt + ":"), id.cast("string")))
    df.filter(h % den < num)
  }

  /**
   * Per-stratum cap audit card — the RefinedWeb-style "no source may
   * exceed N documents" policy, PRICED before it is applied: per
   * stratum, how many docs and how much token mass the cap at `cap`
   * keeps vs drops (the selection is [[stratifiedTopK]]'s deterministic
   * hash rank, so the audited policy IS the policy a later enforcement
   * pass applies — same salt, same draw). The capacity-planning
   * companion of [[tokenLedger]] (budget-driven) and
   * [[mixtureWeights]] (α-weighted): a hard ceiling per source.
   *
   * Scale shape: the kept side reads [[stratifiedTopK]], whose
   * rank ≤ cap filter Catalyst rewrites to WindowGroupLimit — each map
   * task keeps ≤ cap rows per stratum BEFORE the shuffle; the totals
   * side is a plain map-side-combined aggregate. Two bounded scans
   * instead of one full per-stratum sort: at 100 TB the full window
   * would sort every stratum end to end, the group-limit form moves
   * O(strata × cap × tasks) rows.
   */
  def capAudit(df: DataFrame, strata: Seq[String], id: Column,
      tokens: Column, cap: Int, salt: String = "samp"): DataFrame = {
    // the inner join below relies on cap >= 1: every nonempty stratum
    // keeps at least one doc, so no stratum silently vanishes from the
    // card (cap <= 0 would drop ALL strata instead of reporting
    // everything dropped — r8 ADVICE)
    require(cap >= 1, s"cap must be >= 1, got $cap")
    val kept = stratifiedTopK(df.withColumn("_tok", tokens),
        strata, id, cap, salt)
      .groupBy(strata.map(col): _*)
      .agg(count(lit(1)).as("n_kept"), sum(col("_tok")).as("tokens_kept"))
    val totals = df.withColumn("_tok", tokens)
      .groupBy(strata.map(col): _*)
      .agg(count(lit(1)).as("n_docs"), sum(col("_tok")).as("tokens_total"))
    // every nonempty stratum appears on BOTH sides (cap ≥ 1 keeps ≥ 1)
    totals.join(kept, strata)
      .withColumn("docs_dropped", col("n_docs") - col("n_kept"))
      // token-mass × 1e6 leaves int64 near 10¹³ corpus tokens — the
      // ext152/ext115 overflow lesson applied before it bites
      .withColumn("tokens_dropped_ppm",
        when(col("tokens_total") === 0L, 0L).otherwise(
          expr("CAST(cast(tokens_total - tokens_kept AS DECIMAL(38,0))" +
            " * 1000000 DIV tokens_total AS BIGINT)")))
  }

  /**
   * Per-stratum RANK normalization of a quality signal — the CCNet
   * convention (perplexity percentiles per language): raw scores are
   * not comparable across strata (a "good" perplexity in English is a
   * different number than in German), so threshold-free curation
   * filters on the within-stratum percentile instead. `pct_ppm` is the
   * exact percent-rank `(rank − 1) · 1e6 DIV (n − 1)` over the
   * (signal, id) total order — integer arithmetic, engine-portable;
   * singleton strata read 0. Composes with [[acceptByRate]] /
   * quantile-threshold curation: "keep each stratum's best X%" without
   * knowing any stratum's score scale.
   *
   * Scale shape: one full sort per stratum (the exact-rank price,
   * same accepted shape as ext24's exact quantiles; ext33's
   * hash-sampled form is the at-scale alternative when approximate
   * ranks suffice).
   */
  def rankNormalize(df: DataFrame, strata: Seq[String], id: Column,
      signal: Column, outName: String = "pct_ppm"): DataFrame = {
    val w = Window.partitionBy(strata.map(col): _*)
      .orderBy(signal.asc, id.asc)
    val n = Window.partitionBy(strata.map(col): _*)
    df.withColumn("_rk", row_number().over(w).cast("long"))
      .withColumn("_n", count(lit(1)).over(n))
      .withColumn(outName,
        when(col("_n") === 1L, 0L)
          .otherwise(expr("((_rk - 1) * 1000000) DIV (_n - 1)")))
      .drop("_rk", "_n")
  }

  /**
   * Temperature-based mixture weights per stratum — the data-mixing
   * step of a pretraining pipeline (sample sources ∝ n^α instead of ∝ n
   * so small high-quality sources aren't drowned). α is fixed at 0.5
   * because `sqrt` is an IEEE-754 correctly-rounded operation — the ONE
   * exponent whose weights are bit-portable across engines (`pow`'s
   * libm last-ulp is not): `q_s = floor(1e6·sqrt(n_s))`, then
   * `weight_q = floor(1e6·q_s/Σq)` with an exact integer Σ.
   *
   * Scale shape: one keyed count per stratum + a broadcast 1-row total.
   *
   * EAGER (r6 ADVICE): constructing the returned frame materializes the
   * per-stratum counts (one Spark job) via the [[Reuse.shared]] cut that
   * keeps the corpus from being scanned twice — `explain` and other
   * plan-only callers pay that job too. Callers that must stay lazy
   * should aggregate counts themselves and keep the whole plan tree.
   */
  def mixtureWeights(df: DataFrame,
      strata: Seq[String] = Seq("source")): DataFrame =
    withMixtureWeights(
      df.groupBy(strata.map(col): _*).agg(count(lit(1)).as("n_docs")))

  /** Append `q_s`/`weight_q` to any per-stratum relation carrying
    * `n_docs` (the [[mixtureWeights]] math over precomputed counts, so
    * [[tokenLedger]] shares ONE aggregation pass with the doc counts).
    * The counts relation (|strata| rows) is materialized once: both the
    * per-stratum output and the broadcast 1-row total consume it, and
    * without the cut Spark re-plans the whole corpus scan under the
    * total — TWO corpus scans where one suffices (the r6 ext62 plan
    * audit caught ext44 doing exactly that). Batch-only, as documented
    * on [[temperatureRates]] (weights are an offline corpus property). */
  private def withMixtureWeights(counts: DataFrame): DataFrame = {
    val q = Reuse.shared(counts).withColumn("q_s",
      floor(lit(1000000.0d) * sqrt(col("n_docs").cast("double")))
        .cast("long"))
    val tot = q.agg(sum(col("q_s")).as("q_tot"))
    q.crossJoin(broadcast(tot))
      .withColumn("weight_q",
        floor(lit(1000000.0d) *
          (col("q_s").cast("double") / col("q_tot").cast("double")))
          .cast("long"))
      .drop("q_tot")
  }

  /**
   * Capacity-planning token ledger — the table a large pretraining run
   * plans its mixture with BEFORE any data moves: per stratum, document
   * and token counts, the temperature mixture weight
   * ([[mixtureWeights]]), the planned token draw out of a total token
   * budget, and the effective epoch count over the stratum's own tokens
   * (epochs_q > 1e6 means the stratum repeats — the repetition-rate
   * red flag the mixture literature prices). The whole ledger is ONE
   * map-side-combinable keyed aggregate over the corpus (doc + token
   * counts fused) plus a broadcast 1-row total; every derived column
   * past the shared weight math is exact int64 arithmetic, so any
   * engine produces the identical plan sheet.
   */
  def tokenLedger(df: DataFrame, totalTokenBudget: Long,
      strata: Seq[String] = Seq("source"),
      text: String = "text",
      tokens: Option[Column] = None): DataFrame = {
    require(totalTokenBudget > 0, "totalTokenBudget must be positive")
    // `tokens`: a pre-computed per-row token count — callers that
    // already tokenized the relation for another report pass it so the
    // ledger never re-scans the text (r19; the ext126 card shares one
    // tokenize pass across its three token-weighted rows).
    val nt = tokens.getOrElse(size(TextOps.tokens(col(text))).cast("long"))
    val counts = df.groupBy(strata.map(col): _*)
      .agg(count(lit(1)).as("n_docs"),
        sum(nt).as("n_tokens"))
    withMixtureWeights(counts)
      // budget × weight and planned × 1e6 both leave int64 at a
      // ~10¹³-token budget — decimal(38,0) intermediates (ext152 rule)
      .withColumn("planned_tokens",
        expr(s"CAST(cast($totalTokenBudget AS DECIMAL(38,0))" +
          " * weight_q DIV 1000000 AS BIGINT)"))
      .withColumn("epochs_q",
        when(col("n_tokens") > 0,
          expr("CAST(cast(planned_tokens AS DECIMAL(38,0))" +
            " * 1000000 DIV n_tokens AS BIGINT)"))
          .otherwise(lit(0L)))
  }

  /**
   * Two-phase curriculum ledger — the bulk + anneal token plan of a
   * modern pretraining run: the BULK phase spends (1e6 − annealPpm)
   * ppm of the budget sampling strata PROPORTIONALLY (α = 1 —
   * coverage; weight is the stratum's exact doc share), and the
   * ANNEAL phase spends the rest under the sqrt temperature (α = 0.5,
   * [[mixtureWeights]]' one bit-portable exponent) so small
   * high-quality strata are upweighted exactly when the
   * learning-rate anneal makes each token count the most. The
   * curriculum question ("how much of source S does phase P see, and
   * how many epochs of S is that?") becomes one plan sheet.
   *
   * ONE counts aggregate feeds both phases (the ext62 fused-scan
   * rule); the budget split and every derived column are exact int64
   * (`annealBudget = totalBudget·annealPpm DIV 1e6`), so the sheet is
   * engine-portable. `epochs_q > 1e6` on an anneal row is the
   * overfit warning the ledger exists to raise: the phase plans more
   * tokens from the stratum than the stratum has.
   *
   * Scale shape: identical to [[tokenLedger]] — one map-side-combined
   * keyed aggregate plus broadcast 1-row totals; the union is
   * |strata| × 2 rows. Batch-only like [[mixtureWeights]]: a training
   * plan sheet is a corpus-snapshot property (recomputing weights
   * in-stream would drift the plan with arrival order).
   */
  def annealLedger(df: DataFrame, totalTokenBudget: Long,
      annealPpm: Long = 100000L, strata: Seq[String] = Seq("source"),
      text: String = "text"): DataFrame = {
    require(totalTokenBudget > 0, "totalTokenBudget must be positive")
    require(annealPpm >= 0L && annealPpm <= 1000000L,
      s"annealPpm must be in [0, 1e6], got $annealPpm")
    val annealBudget = totalTokenBudget * annealPpm / 1000000L
    val bulkBudget = totalTokenBudget - annealBudget
    val counts = Reuse.shared(df.groupBy(strata.map(col): _*)
      .agg(count(lit(1)).as("n_docs"),
        sum(size(TextOps.tokens(col(text))).cast("long")).as("n_tokens")))
    val ndTot = counts.agg(sum(col("n_docs")).as("nd_tot"))
    val bulk = counts.crossJoin(broadcast(ndTot))
      .withColumn("weight_q", expr("(n_docs * 1000000) DIV nd_tot"))
      .drop("nd_tot")
      .withColumn("phase", lit("bulk"))
      .withColumn("planned_tokens",
        expr(s"CAST(cast($bulkBudget AS DECIMAL(38,0))" +
          " * weight_q DIV 1000000 AS BIGINT)"))
    val anneal = withMixtureWeights(counts)
      .drop("q_s")
      .withColumn("phase", lit("anneal"))
      .withColumn("planned_tokens",
        expr(s"CAST(cast($annealBudget AS DECIMAL(38,0))" +
          " * weight_q DIV 1000000 AS BIGINT)"))
    bulk.unionByName(anneal)
      .withColumn("epochs_q",
        when(col("n_tokens") > 0,
          expr("CAST(cast(planned_tokens AS DECIMAL(38,0))" +
            " * 1000000 DIV n_tokens AS BIGINT)"))
          .otherwise(lit(0L)))
      .select((Seq(col("phase")) ++ strata.map(col) ++
        Seq(col("n_docs"), col("n_tokens"), col("weight_q"),
          col("planned_tokens"), col("epochs_q"))): _*)
  }

  /**
   * Temperature resampling to a target corpus size: each stratum's
   * acceptance rate is its [[mixtureWeights]] share of `targetDocs`
   * spread over its own population —
   * `rate_q(s) = min(1e6, targetDocs·weight_q(s) DIV n_s)` (pure int64,
   * portable) — and a doc is kept iff
   * `hash(id) mod 1e6 < rate_q(stratum)`. Expected kept per stratum ≈
   * its temperature share of the target; the draw is the same
   * deterministic hash-threshold as [[bernoulli]] (reproducible,
   * repartition- and append-stable), so the whole resample is a
   * broadcast join + filter — NO shuffle of the corpus.
   */
  /** The per-stratum acceptance-rate table of [[temperatureResample]] —
    * computed OFFLINE per corpus snapshot in production (recomputing
    * weights inside a stream would drift the rates with arrival order);
    * [[temperatureResampleAgainst]] applies it to a live stream
    * unchanged. */
  def temperatureRates(df: DataFrame, targetDocs: Long,
      strata: Seq[String] = Seq("source")): DataFrame =
    mixtureWeights(df, strata)
      .withColumn("rate_q",
        least(lit(1000000L),
          expr(s"CAST(cast($targetDocs AS DECIMAL(38,0))" +
            " * weight_q DIV n_docs AS BIGINT)")))
      .select(strata.map(col) :+ col("rate_q"): _*)

  /** Keep iff `hash(id) mod 1e6 < rate_q` — the shared draw of the batch
    * and streaming resamplers. */
  def acceptByRate(df: DataFrame, id: Column,
      salt: String = "mix"): DataFrame = {
    val h = Hashing.portableHash32(
      concat(lit(salt + ":"), id.cast("string")))
    df.filter(h % 1000000L < col("rate_q"))
  }

  def temperatureResample(df: DataFrame, id: Column, targetDocs: Long,
      strata: Seq[String] = Seq("source"),
      salt: String = "mix"): DataFrame =
    temperatureResampleAgainst(df,
      temperatureRates(df, targetDocs, strata), id, strata, salt)

  /** [[temperatureResample]] against a precomputed [[temperatureRates]]
    * table — the streaming twin (ext45): the rates are broadcast against
    * the live stream and the portable-hash draw admits exactly the docs
    * the batch operator would. Stateless, append-mode, no shuffle, so
    * the streamed mix converges to the batch selection no matter how
    * rows arrive. */
  def temperatureResampleAgainst(df: DataFrame, rates: DataFrame,
      id: Column, strata: Seq[String] = Seq("source"),
      salt: String = "mix"): DataFrame =
    acceptByRate(df.join(broadcast(rates), strata), id, salt)

  // ---- DSIR: data selection via importance resampling ------------------

  /** Hashed-feature buckets for [[dsirScores]]. */
  val DsirBuckets = 256

  /**
   * DSIR importance scores (Xie et al., "Data Selection for Language
   * Models via Importance Resampling", NeurIPS 2023): score every raw
   * document by how much more likely its hashed-unigram bag is under
   * the TARGET domain's distribution than under the raw corpus's —
   * log w(d) = Σ_tokens [log p_target(b(tok)) − log p_raw(b(tok))] —
   * then resample raw docs proportional to w. Selecting by w reshapes
   * the kept corpus toward the target domain using only counts, no
   * model.
   *
   * Engine-exact variant: the per-bucket log-ratio is quantized to
   * OCTAVES — lr_oct[b] ≈ floor(log₂ r̃[b]) with r̃ the Laplace-smoothed
   * target/raw ratio in ppm, computed from pure int64 arithmetic
   * (`length(bin(ratio_ppm)) − 21`, the ext56 bit-length idiom;
   * bitlen − 21 = floor(log₂ ratio_ppm) − 20 ≈ log₂ r − 0.07 on
   * average, i.e. near-unbiased per token — the earlier `− 20` form
   * over-counted ~+0.93 bits/token, which cancels in equal-length
   * comparisons but systematically inflates LONG documents' weights by
   * ~2^(0.93·n_toks); `− 21` removes that length bias). A doc's score
   * is then an int64
   * sum of small integers — order-independent, mergeable, and replayed
   * bit-for-bit by the oracle; the octave coarsening (≤1 bit per
   * bucket) is the price of never summing engine-specific `ln`s.
   *
   * Scale shape: one token pass builds both count vectors (target
   * rides a conditional sum on the same groupBy — at 100 TB this is
   * the one corpus-wide shuffle, keyed by 256 buckets after map-side
   * combine), the 256-row log-ratio table broadcasts, and scoring is a
   * map-side broadcast-join + per-doc sum. Int64 headroom: the ppm
   * ratio's numerator is 1e6·(c_t+1)·(N_r+B) — fine through ~10^12
   * token corpora; past that, pre-divide both counts by a common 2^s
   * (octaves are shift-invariant).
   *
   * Output: (doc_id, dsir_log2w, n_toks) — log₂ of the (octave-
   * quantized) importance weight; docs with no tokens score 0.
   */
  def dsirScores(doc: DataFrame, targetPred: Column,
      buckets: Int = DsirBuckets): DataFrame = {
    val toks = doc
      .select(col("doc_id"), targetPred.as("is_target"),
        explode(split(col("text"), " ")).as("tok"))
      .select(col("doc_id"), col("is_target"),
        (Hashing.portableHash32(concat(lit("dsir:"), col("tok")))
          % buckets).as("b"))
    // ONE corpus explode (r19; guide §2.3 aggregate-before-shuffle):
    // both consumers — the per-bucket LM counts and the per-doc score
    // sum — fold exactly from the compacted (doc, is_target, bucket,
    // n) matrix, so the explode+hash pass runs once and what
    // materializes is token-count-compressed (≤ min(|tokens|,
    // |docs|·buckets) rows of four ints), never the raw token stream.
    val db = Reuse.shared(toks
      .groupBy("doc_id", "is_target", "b")
      .agg(count(lit(1)).as("n")))
    val counts = db.groupBy("b").agg(
      sum(when(col("is_target"), col("n")).otherwise(0L)).as("c_t"),
      sum("n").as("c_r"))
    val totals = counts.agg(sum("c_t").as("n_t"), sum("c_r").as("n_r"))
    val lr = counts.crossJoin(broadcast(totals))
      .select(col("b"),
        (length(expr(s"bin(greatest((1000000 * (c_t + 1) * (n_r + $buckets))"
          + s" DIV ((c_r + 1) * (n_t + $buckets)), 1))")).cast("long")
          - 21L).as("lr_oct"))
    val scored = db.join(broadcast(lr), "b")
      .groupBy("doc_id")
      .agg(sum(col("lr_oct") * col("n")).as("dsir_log2w"),
        sum("n").as("n_toks"))
    doc.select(col("doc_id")).join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("dsir_log2w"), lit(0L)).as("dsir_log2w"),
        coalesce(col("n_toks"), lit(0L)).as("n_toks"))
  }

  /** DSIR selection: [[weightedTopK]] with weight 2^clamp(score, ±31)
    * — the importance draw (h/w priority) over octave weights. Every
    * weight is a power of two, so the priority h·2^−e is EXACT in IEEE
    * arithmetic: the draw is not merely portable but rounding-free. */
  def dsirSelect(doc: DataFrame, targetPred: Column, k: Int,
      buckets: Int = DsirBuckets, salt: String = "dsir"): DataFrame = {
    val scoresOnly = dsirScores(doc, targetPred, buckets)
    val w = expr("shiftleft(CAST(1 AS BIGINT), " +
      "CAST(greatest(least(dsir_log2w, 31), -31) + 31 AS INT))")
    weightedTopK(doc.join(scoresOnly, "doc_id"), Seq.empty,
      col("doc_id"), w, k, salt)
  }

  /**
   * Quality-ordered token-budget selection (ext172) — "take the best
   * docs until the token budget", the doc-LEVEL curation cut the
   * FineWeb/DCLM-style pipelines run after scoring (the per-STRATUM
   * plan is [[tokenLedger]]/[[annealLedger]]; this executes the cut):
   * docs in (score DESC, id ASC) order are admitted while the running
   * token total stays ≤ budget; the first doc that would cross stops
   * the prefix (prefix semantics, not knapsack back-fill — determinism
   * and engine parity beat the marginal fill, and the skipped tail is
   * visible in fill_ppm).
   *
   * Scale shape — NO GLOBAL SORT, zero data shuffles (the
   * ext151/ext170 bisection discipline), because the running total in
   * (score DESC, id ASC) order is monotone. [[budgetCut]] finds
   *  1. threshold: the smallest integer t with
   *     tokens(score > t) ≤ budget (~log₆₄ score-span rounds, each one
   *     single-stage [[ProbeScan]] pass over the materialized
   *     (id, score, toks) projection);
   *  2. boundary id INSIDE the t class: the largest id* with
   *     tokens(score > t) + tokens(score = t, id ≤ id*) ≤ budget
   *     (~log₆₄ id-span more rounds — handles an arbitrarily large
   *     tie class without ever ranking it).
   * selected ⟺ score > t ∨ (score = t ∧ id ≤ id*) — a pure scan
   * predicate ([[budgetSelectDocs]] returns the per-doc relation for
   * composition); [[budgetSelectCard]] is the one-row audit card.
   * Requires an integer score (the ppm-quantization house rule — a
   * double score would make the bisection domain engine-unportable).
   */
  def budgetSelectCard(doc: DataFrame, score: Column, budgetTokens: Long,
      id: String = "doc_id", text: String = "text"): DataFrame = {
    require(budgetTokens > 0, "token budget must be positive")
    globalCard(Reuse.shared(budgetSelectPartials(doc, score, id, text)),
      budgetTokens)
  }

  /** The card's column list — single source for [[cardOf]] and the
    * empty-corpus schema (no boundary exists: the temporalSplit
    * empty-card convention). */
  private val CardCols = Seq("threshold_score", "boundary_id",
    "n_selected", "tokens_selected", "n_docs", "tokens_total",
    "budget_tokens", "fill_ppm")

  /** The `lead` fields, then one LongType field per name in `longs`. */
  private def longSchema(lead: Seq[StructField],
      longs: Seq[String]): StructType =
    StructType(lead ++ longs.map(StructField(_, LongType)))

  /** A frame of `schema` with no rows: the result of every card over an
    * empty corpus. */
  private def emptyFrame(spark: SparkSession,
      schema: StructType): DataFrame =
    spark.createDataFrame(new java.util.ArrayList[Row](), schema)

  /** A card's fill computed on the driver: tokens selected per million
    * budget tokens, in BigInt (the product leaves int64 near 10¹³
    * tokens). [[cardOf]] and [[cardsByStratumOf]] compute the same
    * number in SQL, inside their plans. */
  private def fillPpm(tokSel: Long, budget: Long): Long =
    (BigInt(tokSel) * 1000000 / BigInt(budget)).toLong

  private def cardOf(e: DataFrame, t: Long, idStar: Long,
      budgetTokens: Long): DataFrame = {
    val sel = col("_score") > t ||
      (col("_score") === t && col("_id") <= idStar)
    e.agg(count(lit(1)).as("n_docs"), sum("_toks").as("tokens_total"),
        coalesce(sum(when(sel, 1L).otherwise(0L)), lit(0L))
          .as("n_selected"),
        coalesce(sum(when(sel, col("_toks")).otherwise(0L)), lit(0L))
          .as("tokens_selected"))
      .select(lit(t).as("threshold_score"),
        lit(idStar).as("boundary_id"), col("n_selected"),
        col("tokens_selected"), col("n_docs"), col("tokens_total"),
        lit(budgetTokens).as("budget_tokens"),
        expr(s"CAST(cast(tokens_selected AS DECIMAL(38,0))" +
          s" * 1000000 DIV ${budgetTokens}L AS BIGINT)")
          .as("fill_ppm"))
  }

  /** [[budgetSelectCard]] over a one-row-per-doc (_id, _score, _toks)
    * relation: the direct path's projection or a guarded stored fold. */
  private def globalCard(e: DataFrame, budgetTokens: Long): DataFrame =
    globalCut(e, budgetTokens) match {
      case None => emptyFrame(e.sparkSession, longSchema(Nil, CardCols))
      case Some((t, idStar)) => cardOf(e, t, idStar, budgetTokens)
    }

  /** The per-doc relation of [[budgetSelectCard]]'s selection:
    * (id, score, n_toks, selected). */
  def budgetSelectDocs(doc: DataFrame, score: Column, budgetTokens: Long,
      id: String = "doc_id", text: String = "text"): DataFrame = {
    require(budgetTokens > 0, "token budget must be positive")
    val e = Reuse.shared(budgetSelectPartials(doc, score, id, text))
    globalCut(e, budgetTokens) match {
      case None => emptyFrame(doc.sparkSession,
        longSchema(Nil, Seq(id, "score", "n_toks", "selected")))
      case Some((t, idStar)) =>
        e.select(col("_id").as(id), col("_score").as("score"),
          col("_toks").as("n_toks"),
          (col("_score") > t ||
            (col("_score") === t && col("_id") <= idStar))
            .cast("long").as("selected"))
    }
  }

  /** The per-doc (id, score, toks) projection — also the STORED
    * partial of the streaming twin (docs arrive whole, so the
    * relation is a pure append; identical rows from a replayed batch
    * fold by distinct). The score must already be INTEGRAL (the
    * ppm-quantization house rule) — a double would be silently
    * floored by the cast, so [[Guards.requireIntegral]] refuses it
    * up front; null ids/scores raise in the scan rather than
    * silently leaving the bisection domain while still counting in
    * the card's n_docs/tokens_total (r15 verdict item 1 + ADVICE). */
  def budgetSelectPartials(doc: DataFrame, score: Column,
      id: String = "doc_id", text: String = "text"): DataFrame = {
    Guards.requireIntegral(doc, score, "budgetSelect", "score")
    // ids drive the boundary bisection and the tie order — a
    // fractional id flooring would silently merge distinct docs
    Guards.requireIntegral(doc, col(id), "budgetSelect", "id")
    doc.select(
      Guards.notNull(col(id).cast("long"), "budgetSelect", "id")
        .as("_id"),
      Guards.notNull(score.cast("long"), "budgetSelect", "score")
        .as("_score"),
      // a null text yields size(NULL) = NULL, which would count in
      // n_docs yet vanish from every token sum — the same silent
      // class as a null score (r17 ADVICE); raise in the scan
      Guards.notNull(size(TextOps.tokens(col(text))).cast("long"),
        "budgetSelect", "token count (null text)").as("_toks"))
  }

  /** [[budgetSelectCard]] from a stored per-doc partials relation —
    * the streaming serve path: identical bisections over the folded
    * rows, zero text rescans. The whole-row distinct only collapses
    * bit-identical replays, so a RE-CRAWLED doc (same `_id`,
    * changed text or score) would survive as two rows and silently
    * inflate n_docs/tokens_total while the boundary bisection sees
    * a multi-valued id — the one-row-per-doc class the ext167 label
    * guard closed; [[foldPartials]] rejects it loudly (r15 verdict
    * item 2). A keep-latest fold is the CALLER's policy (partials
    * carry no version column to arbitrate by), so the guard demands
    * one rather than inventing an order. */
  def budgetSelectCardFromCounts(counts: DataFrame,
      budgetTokens: Long): DataFrame =
    globalCard(foldPartials(counts, "budgetSelectCardFromCounts",
      strata = false, versioned = false), budgetTokens)

  /** The keep-latest fold the re-crawl guard above DEMANDS, shipped:
    * [[budgetSelectCardFromCounts]] over versioned partials — each
    * row carries an integral `_ver` (the streaming sink's batch id:
    * the replay key IS the version, no new sink columns), and a doc
    * re-ingested in a later version REPLACES its older row via one
    * max_by-struct aggregate. Versions can only arbitrate ACROSS
    * versions: the same (_id, _ver) carrying two different payloads
    * (an in-batch duplicate with changed text — a producer bug, not
    * a replay) has no latest to keep, and silently picking the
    * (score, toks)-max would diverge from the batch operator (which
    * counts both rows) with no error — so it is rejected loudly,
    * the same refusal class as the unversioned path. Exact replays
    * still fold away by distinct before the check. */
  def budgetSelectCardFromVersioned(counts: DataFrame,
      budgetTokens: Long): DataFrame =
    globalCard(foldPartials(counts, "budgetSelectCardFromVersioned",
      strata = false, versioned = true), budgetTokens)

  /**
   * Per-STRATUM token-budget cuts (ext173) — [[budgetSelectCard]]
   * executed for every stratum at once: the source/lang-balancing
   * step that EXECUTES what tokenLedger/annealLedger PLAN per
   * stratum (each stratum admits its best docs in (score DESC,
   * id ASC) order until ITS budget — per-stratum prefix semantics,
   * so one over-represented source cannot eat another's allocation).
   *
   * Scale shape — still NO global sort and zero data shuffles in the
   * searches: [[budgetCut]] keys one search per stratum, and every
   * round evaluates ALL strata's probe ladders in ONE single-stage
   * [[ProbeScan]] pass (each probe keyed to its stratum's group), so
   * the job count is the SAME as one ext172 cut (~log₆₄ score-span +
   * log₆₄ id-span rounds), not |strata| of them. Driver state is one
   * bracket per stratum — requires LOW-CARDINALITY strata
   * (lang/source, the ext24 assumption). `budgets` overrides the
   * default budget per stratum (keyed by the stratum value's string
   * rendering — the planned masses a tokenLedger emits); a stratum
   * absent from the map gets `budgetTokens`. Null strata are rejected
   * loudly (a null key would silently drop out of the envelope join).
   * Output: one [[budgetSelectCard]] row per stratum,
   * stratum-labelled — spec-asserted equal to running
   * budgetSelectCard on each stratum alone.
   */
  def budgetSelectCardsByStratum(doc: DataFrame, stratum: String,
      score: Column, budgetTokens: Long,
      budgets: Map[String, Long] = Map.empty, id: String = "doc_id",
      text: String = "text"): DataFrame = {
    Guards.requireIntegral(doc, score, "budgetSelectByStratum", "score")
    cardsByStratumOf(
      Reuse.shared(budgetSelectStratumPartials(doc, col(stratum),
        score, id, text)),
      stratum, doc.select(col(stratum)).schema.head.dataType,
      budgetTokens, budgets, "budgetSelectCardsByStratum")
  }

  /** The stratified per-doc (stratum, id, score, toks) projection —
    * the ONE stored partial whose fold serves the per-stratum cards
    * ([[budgetSelectCardsByStratumFromCounts]]) AND, with `_s`
    * dropped, the global [[budgetSelectCardFromCounts]] at any
    * budget: one sink, every card (the trend-matrix discipline).
    * Same guards as [[budgetSelectPartials]]. */
  def budgetSelectStratumPartials(doc: DataFrame, stratum: Column,
      score: Column, id: String = "doc_id",
      text: String = "text"): DataFrame = {
    Guards.requireIntegral(doc, score, "budgetSelectByStratum", "score")
    Guards.requireIntegral(doc, col(id), "budgetSelectByStratum", "id")
    doc.select(stratum.as("_s"),
      Guards.notNull(col(id).cast("long"), "budgetSelectByStratum",
        "id").as("_id"),
      Guards.notNull(score.cast("long"), "budgetSelectByStratum",
        "score").as("_score"),
      Guards.notNull(size(TextOps.tokens(col(text))).cast("long"),
        "budgetSelectByStratum", "token count (null text)")
        .as("_toks"))
  }

  /** [[budgetSelectCardsByStratum]] from a stored stratified partials
    * relation — the streaming serve path: identical batched
    * bisections over the folded rows, zero text rescans, and both
    * the budget AND the per-stratum plan are serve-time knobs. The
    * same re-crawl guard as the global serve path (whole-row
    * distinct collapses exact replays; a re-ingested doc — same
    * (_s, _id), changed score/toks — is rejected loudly). */
  def budgetSelectCardsByStratumFromCounts(counts: DataFrame,
      stratum: String, budgetTokens: Long,
      budgets: Map[String, Long] = Map.empty): DataFrame = {
    val who = "budgetSelectCardsByStratumFromCounts"
    val e = foldPartials(counts, who, strata = true, versioned = false)
    cardsByStratumOf(e, stratum, e.schema("_s").dataType,
      budgetTokens, budgets, who)
  }

  /** The guarded fold of stored budget partials into one row per doc —
    * under every serve path of the family. Its keys come from the
    * columns the partials carry: `_id`, plus `_s` for the stratified
    * sink (`strata`) and `_ver` for a versioned one (`versioned`).
    * Exact replays collapse by whole-row distinct; then ONE check
    * aggregate rejects, in diagnosis order: null keys (countDistinct
    * skips them, so they would read as phantom duplicates), null
    * `_score`/`_toks` values (r17 ADVICE — such a row counts in the
    * totals yet is never selectable, and an all-null-score stratum
    * would NPE the domain read), conflicting payloads under one key,
    * and, on the unversioned stratified path, a doc id under MORE THAN
    * ONE stratum (r16 verdict item 1).
    *
    * Unversioned, the key is (stratum, id): a re-crawled doc (changed
    * score/toks) is refused, because a keep-latest fold is the
    * caller's policy. The cross-stratum class is ambiguous from the
    * partials alone — a re-ingested doc whose stratum changed (langid
    * re-run: the versioned keep-latest path is the fix) is
    * indistinguishable from per-source id numbering where the same id
    * names DIFFERENT docs (re-keying is the fix; keep-latest would
    * silently collapse them) — so the stored-fold serve contract
    * requires GLOBALLY unique ids and refuses rather than guess. The
    * DIRECT batch operators carry no such ambiguity (one snapshot, one
    * row per doc) and stay permissive.
    *
    * Versioned, the key is (id, version): each doc keeps its NEWEST
    * row, stratum included, via one max-by-struct aggregate, so ids
    * are globally unique by construction after the fold. The same
    * (id, version) under two payloads has no latest to keep and is
    * refused. CONTRACT: an id must name ONE doc globally — the fold
    * groups by `_id`, so per-source numbering would be silently
    * collapsed to the newest row; re-key such corpora before versioned
    * serving. */
  private def foldPartials(counts: DataFrame, who: String,
      strata: Boolean, versioned: Boolean): DataFrame = {
    if (versioned) Guards.requireIntegral(counts, col("_ver"), who,
      "version")
    val s = if (strata) Seq("_s") else Nil
    val v = if (versioned) Seq("_ver") else Nil
    val d = Reuse.shared(counts.select((v ++ s ++
      Seq("_id", "_score", "_toks")).map(col): _*).distinct())
    val conflictKey = if (versioned) Seq("_id", "_ver") else s :+ "_id"
    val crossStrata = strata && !versioned
    val chk = d.agg(count(lit(1)).as("_n"),
      countDistinct(col(conflictKey.head),
        conflictKey.tail.map(col): _*).as("_nk"),
      (if (crossStrata) countDistinct(col("_id")) else lit(0L)).as("_gid"),
      coalesce(sum(when((s ++ Seq("_id") ++ v).map(col(_).isNull)
        .reduce(_ || _), 1L).otherwise(0L)), lit(0L)).as("_nulls"),
      coalesce(sum(when(col("_score").isNull || col("_toks").isNull,
        1L).otherwise(0L)), lit(0L)).as("_nullv")).first()
    val Seq(n, nKey, nId, nulls, nullv) = (0 until 5).map(chk.getLong)
    // each key column with what it names
    val keys = (if (strata) Seq("stratum" -> "stratum") else Nil) ++
      Seq("_id" -> "doc") ++ (if (versioned) Seq("_ver" -> "version") else Nil)
    def listed(xs: Seq[String], conj: String): String =
      Seq(xs.init.mkString(", "), xs.last).filter(_.nonEmpty)
        .mkString(s" $conj ")
    if (nulls > 0)
      throw new IllegalArgumentException(
        s"$who: $nulls partial rows carry a null " +
          s"${listed(keys.map(_._1), "or")} — every " +
          s"${if (versioned) "versioned" else "stored"} partial must " +
          s"name its ${listed(keys.map(_._2), "and")}")
    if (nullv > 0)
      throw new IllegalArgumentException(
        s"$who: $nullv partial rows carry a null _score or _toks — " +
          "such rows would count in n_docs/tokens_total yet never be " +
          "selectable; fix the producing projection (the library's own " +
          "sink guards these at write time)")
    if (n != nKey)
      throw new IllegalArgumentException(
        if (versioned)
          s"$who: ${n - nKey} conflicting rows share an (_id, _ver) — " +
            "a within-version duplicate with changed " +
            s"${if (strata) "stratum/" else ""}score/toks has no latest " +
            "to keep; fix the producing batch"
        else
          s"$who: ${n - nKey} conflicting partial rows share " +
            s"${if (strata) "a (stratum, _id)" else "an _id"} (a " +
            "re-crawled doc with changed score/toks) — the fold would " +
            "double-count its tokens; apply a keep-latest rule to one " +
            "row per doc before serving")
    if (crossStrata && nKey != nId)
      throw new IllegalArgumentException(
        s"$who: ${nKey - nId} ids appear under more than one stratum " +
          "— EITHER a re-ingested doc whose stratum changed (a langid " +
          "re-run reclassification: serve via the FromVersioned " +
          "keep-latest path) OR per-source id numbering where the same " +
          "id names DIFFERENT docs in different strata (re-key to " +
          "globally unique ids — keep-latest would silently collapse " +
          "distinct docs). The fold cannot tell these apart, so it " +
          "refuses rather than double-count or mis-fold")
    if (!versioned) d
    else Reuse.shared(d
      .select(col("_id"), struct((v ++ s ++ Seq("_score", "_toks"))
        .map(col): _*).as("_vst"))
      .groupBy("_id").agg(max(col("_vst")).as("_vst"))
      .select((s.map(c => col(s"_vst.$c").as(c)) ++ Seq(col("_id"),
        col("_vst._score").as("_score"),
        col("_vst._toks").as("_toks"))): _*))
  }

  /** The keep-latest fold the stratified re-crawl guard demands,
    * shipped (r16 verdict item 1): [[budgetSelectCardsByStratumFromCounts]]
    * over versioned partials — each row carries an integral `_ver`
    * (the streaming sink's batch id: the replay key IS the version),
    * and a doc re-ingested in a later version replaces its older row
    * INCLUDING ITS STRATUM via one max_by-struct aggregate — a
    * reclassified doc counts only in its newest stratum's card,
    * exactly what the batch operator computes over newest-crawl
    * rows. The same (_id, _ver) under two payloads (or two strata —
    * an in-batch reclassification has no latest to keep either) is
    * rejected loudly, the [[budgetSelectCardFromVersioned]] refusal
    * class. */
  def budgetSelectCardsByStratumFromVersioned(counts: DataFrame,
      stratum: String, budgetTokens: Long,
      budgets: Map[String, Long] = Map.empty): DataFrame = {
    val who = "budgetSelectCardsByStratumFromVersioned"
    val latest = foldPartials(counts, who, strata = true,
      versioned = true)
    cardsByStratumOf(latest, stratum, latest.schema("_s").dataType,
      budgetTokens, budgets, who)
  }

  /** The batched per-stratum searches over a prepared
    * (_s, _id, _score, _toks) projection — shared by the direct and
    * stored-fold paths. */
  private def cardsByStratumOf(e: DataFrame, stratum: String,
      sType: DataType, budgetTokens: Long,
      budgets: Map[String, Long], who: String): DataFrame =
    stratumEnvelope(e, sType, budgetTokens, budgets, who) match {
      case None => emptyFrame(e.sparkSession,
        longSchema(Seq(StructField(stratum, sType)), CardCols))
      case Some(env) =>
        val sel = col("_score") > col("_t") ||
          (col("_score") === col("_t") && col("_id") <= col("_i"))
        e.join(broadcast(env), "_s")
          .groupBy("_s", "_t", "_i", "_b")
          .agg(count(lit(1)).as("n_docs"),
            sum("_toks").as("tokens_total"),
            coalesce(sum(when(sel, 1L).otherwise(0L)), lit(0L))
              .as("n_selected"),
            coalesce(sum(when(sel, col("_toks")).otherwise(0L)),
              lit(0L)).as("tokens_selected"))
          .select(col("_s").as(stratum),
            col("_t").as("threshold_score"),
            col("_i").as("boundary_id"), col("n_selected"),
            col("tokens_selected"), col("n_docs"),
            col("tokens_total"), col("_b").as("budget_tokens"),
            expr("CAST(cast(tokens_selected AS DECIMAL(38,0))" +
              " * 1000000 DIV _b AS BIGINT)").as("fill_ppm"))
    }

  /** The per-stratum (t, id*, B) selection envelope — the batched
    * searches' result as a broadcastable ≤|strata|-row relation
    * `(_s, _t, _i, _b)`; None on an empty corpus. The card, docs and
    * two-level paths all project off this one envelope. */
  private def stratumEnvelope(e: DataFrame, sType: DataType,
      budgetTokens: Long, budgets: Map[String, Long],
      who: String): Option[DataFrame] = {
    require(budgetTokens > 0, "token budget must be positive")
    require(budgets.values.forall(_ > 0),
      "every per-stratum budget must be positive")
    def bOf(s: Any): Long =
      budgets.getOrElse(String.valueOf(s), budgetTokens)
    val cuts = scoreCuts(e, grouped = true, s => Seq(bOf(s)), who,
      budgets.keySet)
    if (cuts.isEmpty) None
    else Some(e.sparkSession.createDataFrame(cuts.map {
      case (s, Seq((t, i))) => Row(s, t, i, bOf(s)) }.asJava,
      longSchema(Seq(StructField("_s", sType)), Seq("_t", "_i", "_b"))))
  }

  /** Per-doc relation of [[budgetSelectCardsByStratum]]'s selection:
    * (stratum, id, score, n_toks, selected) — the envelope projected
    * back onto the docs, for composition (the [[budgetSelectDocs]]
    * convention, stratified). */
  def budgetSelectDocsByStratum(doc: DataFrame, stratum: String,
      score: Column, budgetTokens: Long,
      budgets: Map[String, Long] = Map.empty, id: String = "doc_id",
      text: String = "text"): DataFrame = {
    Guards.requireIntegral(doc, score, "budgetSelectByStratum", "score")
    val sType = doc.select(col(stratum)).schema.head.dataType
    val e = Reuse.shared(budgetSelectStratumPartials(doc, col(stratum),
      score, id, text))
    stratumEnvelope(e, sType, budgetTokens, budgets,
        "budgetSelectDocsByStratum") match {
      case None => emptyFrame(doc.sparkSession,
        longSchema(Seq(StructField(stratum, sType)),
          Seq(id, "score", "n_toks", "selected")))
      case Some(env) =>
        e.join(broadcast(env), "_s")
          .select(col("_s").as(stratum), col("_id").as(id),
            col("_score").as("score"), col("_toks").as("n_toks"),
            (col("_score") > col("_t") ||
              (col("_score") === col("_t") && col("_id") <= col("_i")))
              .cast("long").as("selected"))
    }
  }

  /**
   * Two-level allocation (ext175) — the FineWeb-style cut a real
   * mixture runs: per-stratum CAPS first (no one source can eat the
   * pool, [[budgetSelectCardsByStratum]]'s rule), then ONE global
   * budget takes the best-scored survivors ([[budgetSelectCard]]'s
   * rule over the capped set). The card reports both levels: the
   * global threshold/boundary/selection plus the cap stage's
   * surviving mass, so the cost of the cap policy (tokens the caps
   * withheld from an under-filled global budget, or vice versa) is a
   * number, not a guess.
   *
   * Scale shape: stage 1 is the batched stratified bisections (one
   * job per round for ALL strata); the survivor relation is a scan
   * predicate off the broadcast envelope (never materialized to the
   * driver); stage 2 runs the global bisections over that filtered
   * projection — zero data shuffles in every search, one labelled
   * aggregate at the end.
   *
   * Contracts: ids must be GLOBALLY unique — the global stage drops
   * the stratum, so per-source doc numbering (stratum a doc 1 and
   * stratum b doc 1) would silently double-step the boundary
   * bisection; rejected loudly instead (the serve-path guard class).
   * `cap_tokens` echoes the DEFAULT cap; strata overridden by
   * `budgets` are audited per-stratum via
   * [[budgetSelectCardsByStratum]] (a one-row card cannot carry the
   * map). Caps so tight that NO doc survives still return one row —
   * null threshold/boundary (no stage-2 boundary exists) with the
   * cap-stage telemetry intact, exactly the shape the declarative
   * oracle produces; only an EMPTY CORPUS returns an empty frame
   * (the ext172 convention).
   */
  def twoLevelBudgetCard(doc: DataFrame, stratum: String,
      score: Column, stratumCap: Long, globalBudget: Long,
      budgets: Map[String, Long] = Map.empty, id: String = "doc_id",
      text: String = "text"): DataFrame = {
    Guards.requireIntegral(doc, score, "twoLevelBudget", "score")
    twoLevelOf(
      Reuse.shared(budgetSelectStratumPartials(doc, col(stratum),
        score, id, text)),
      doc.select(col(stratum)).schema.head.dataType,
      stratumCap, globalBudget, budgets, "twoLevelBudget")
  }

  /** [[twoLevelBudgetCard]] from a stored stratified partials
    * relation — the SAME sink that serves the per-stratum cards
    * (ext173) and, with `_s` dropped, the global card: one sink,
    * every card, now including the two-level plan with the cap,
    * global budget AND per-stratum overrides all serve-time knobs.
    * Same guarded fold as [[budgetSelectCardsByStratumFromCounts]]
    * (null keys/values, within-stratum re-crawls, cross-stratum
    * re-ingests all rejected loudly). */
  def twoLevelBudgetCardFromCounts(counts: DataFrame,
      stratumCap: Long, globalBudget: Long,
      budgets: Map[String, Long] = Map.empty): DataFrame = {
    val who = "twoLevelBudgetCardFromCounts"
    val e = foldPartials(counts, who, strata = true, versioned = false)
    twoLevelOf(e, e.schema("_s").dataType, stratumCap, globalBudget,
      budgets, who)
  }

  /** [[twoLevelBudgetCard]] from VERSIONED stored partials — the
    * keep-latest rule the fold guard demands, shipped for the
    * two-level path too (the [[budgetSelectCardsByStratumFromVersioned]]
    * fold: a re-ingested doc counts only in its newest crawl's
    * stratum, then the caps and the global cut run over the folded
    * one-row-per-doc relation). */
  def twoLevelBudgetCardFromVersioned(counts: DataFrame,
      stratumCap: Long, globalBudget: Long,
      budgets: Map[String, Long] = Map.empty): DataFrame = {
    val who = "twoLevelBudgetCardFromVersioned"
    val latest = foldPartials(counts, who, strata = true,
      versioned = true)
    twoLevelOf(latest, latest.schema("_s").dataType, stratumCap,
      globalBudget, budgets, who)
  }

  /** Corpus totals (docs, tokens) of a prepared stratified projection,
    * with the cap-INDEPENDENT global-uniqueness guard riding the same
    * aggregate: the two-level stage drops the stratum, so it needs
    * GLOBALLY unique ids over the FULL relation, not the cap
    * survivors — a duplicate id whose extra copy is capped out must
    * raise identically at any cap setting (r16 verdict item 2). */
  private def uniqueIdTotals(e: DataFrame, who: String): (Long, Long) = {
    val tot = e.agg(count(lit(1)).as("_n"),
      coalesce(sum("_toks"), lit(0L)).as("_t"),
      countDistinct(col("_id")).as("_nid")).first()
    if (tot.getLong(0) != tot.getLong(2))
      throw new IllegalArgumentException(
        s"$who: ${tot.getLong(0) - tot.getLong(2)}" +
          " rows share an id (per-source numbering across strata," +
          " or a duplicated doc within one) — the global stage" +
          " needs GLOBALLY unique ids (a shared id would silently" +
          " double-step the boundary bisection); re-key ids or" +
          " apply a keep-latest rule (the FromVersioned path)")
    (tot.getLong(0), tot.getLong(1))
  }

  /** The two-level cut over a prepared (_s, _id, _score, _toks)
    * projection — shared by the direct and stored-fold paths. */
  private def twoLevelOf(e: DataFrame, sType: DataType,
      stratumCap: Long, globalBudget: Long, budgets: Map[String, Long],
      who: String): DataFrame = {
    require(globalBudget > 0, "global budget must be positive")
    val outSchema = longSchema(Nil, Seq("threshold_score",
      "boundary_id", "n_selected", "tokens_selected", "n_surv",
      "tokens_surv", "n_docs", "tokens_total", "cap_tokens",
      "budget_tokens", "fill_ppm"))
    stratumEnvelope(e, sType, stratumCap, budgets, who) match {
      case None => emptyFrame(e.sparkSession, outSchema)
      case Some(env) =>
        // n_surv/tokens_surv come free from the stage-2 card (its
        // n_docs/tokens_total ARE the survivor masses), and survivor
        // emptiness falls out of the stage-2 domain probe — no
        // survivor-scoped check job at all
        val (nDocs, tokTot) = uniqueIdTotals(e, who)
        val surv = Reuse.shared(e.join(broadcast(env), "_s")
          .filter(col("_score") > col("_t") ||
            (col("_score") === col("_t") && col("_id") <= col("_i")))
          .select("_id", "_score", "_toks"))
        globalCut(surv, globalBudget) match {
          case None =>
            // caps admitted nothing: no stage-2 boundary exists, but
            // the cap-stage telemetry is the card's point — one row,
            // null threshold/boundary (the oracle's shape)
            e.sparkSession.createDataFrame(
              java.util.Arrays.asList(Row(null, null, 0L, 0L, 0L, 0L,
                nDocs, tokTot, stratumCap, globalBudget, 0L)), outSchema)
          case Some((t, idStar)) =>
            cardOf(surv, t, idStar, globalBudget)
              .select(col("threshold_score"), col("boundary_id"),
                col("n_selected"), col("tokens_selected"),
                col("n_docs").as("n_surv"),
                col("tokens_total").as("tokens_surv"),
                lit(nDocs).as("n_docs"),
                lit(tokTot).as("tokens_total"),
                lit(stratumCap).as("cap_tokens"),
                col("budget_tokens"), col("fill_ppm"))
        }
    }
  }

  /** A budget (or cap) ladder: non-empty, positive and distinct, since
    * each rung is one output row. */
  private def requireLadder(budgets: Seq[Long], who: String): Unit = {
    require(budgets.nonEmpty && budgets.forall(_ > 0),
      s"$who: budgets must be non-empty and positive")
    require(budgets.distinct.size == budgets.size,
      s"$who: budgets must be distinct (each is one output row)")
  }

  /**
   * Budget→fill planning curve (ext174): [[budgetSelectCard]] at K
   * budgets — "how much budget buys how much of the corpus's best
   * mass", the curve a curation plan is chosen FROM (the ext110/
   * ext118 probe-curve idiom applied to the cut itself).
   *
   * Scale shape — K budgets cost ONE cut, not K: [[budgetCut]] keys
   * one search per budget, and the probe sums tokens(score > m) are
   * BUDGET-INDEPENDENT, so each threshold round sums the union of all
   * budgets' probe ladders once, in one single-stage [[ProbeScan]]
   * pass, and every budget's bracket advances off the shared sums;
   * only the boundary rounds carry per-budget class conditions (each
   * budget may cut a different score class), still one pass per
   * round. Zero data shuffles anywhere, same as ext172. Output: one
   * card row per budget, spec-asserted equal to running
   * [[budgetSelectCard]] per budget.
   */
  def budgetFillCurve(doc: DataFrame, score: Column,
      budgets: Seq[Long], id: String = "doc_id",
      text: String = "text"): DataFrame = {
    requireLadder(budgets, "budgetFillCurve")
    val spark = doc.sparkSession
    val curveSchema = longSchema(Nil,
      "budget_tokens" +: CardCols.filterNot(_ == "budget_tokens"))
    val e = Reuse.shared(budgetSelectPartials(doc, score, id, text))
    val cuts = scoreCuts(e, grouped = false, _ => budgets,
      "budgetFillCurve")
    if (cuts.isEmpty) return emptyFrame(spark, curveSchema)
    val cutOf = budgets.zip(cuts.head._2).toMap
    // one final aggregate: shared totals + per-budget selection sums
    val sel = budgets.map { b =>
      val (t, i) = cutOf(b)
      col("_score") > t || (col("_score") === t && col("_id") <= i)
    }
    val aggs = Seq(count(lit(1)).as("_nd"),
      sum("_toks").as("_tt")) ++
      budgets.indices.flatMap { i =>
        Seq(coalesce(sum(when(sel(i), 1L).otherwise(0L)), lit(0L))
            .as(s"_n$i"),
          coalesce(sum(when(sel(i), col("_toks")).otherwise(0L)),
            lit(0L)).as(s"_t$i"))
      }
    val row = e.agg(aggs.head, aggs.tail: _*).first()
    val (nDocs, tTot) = (row.getLong(0), row.getLong(1))
    val out = budgets.sorted.map { b =>
      val i = budgets.indexOf(b)
      val tokSel = row.getLong(3 + 2 * i)
      Row(b, cutOf(b)._1, cutOf(b)._2, row.getLong(2 + 2 * i), tokSel,
        nDocs, tTot, fillPpm(tokSel, b))
    }
    spark.createDataFrame(out.asJava, curveSchema)
  }

  /**
   * Per-stratum budget→fill curves (ext176) — [[budgetFillCurve]]
   * executed for every stratum at once: the planning TABLE a
   * per-source/lang allocation is chosen FROM (ext173 executes ONE
   * plan; this prices K candidate budgets per stratum so the plan's
   * masses can be read off a curve instead of re-run per guess).
   * Completes the family matrix: ext173 = strata × one budget,
   * ext174 = one stratum × K budgets, this = strata × K budgets.
   *
   * Scale shape — |strata| × K cards cost the SAME job count as ONE
   * ext172 cut: [[budgetCut]] keys one search per (stratum, budget),
   * and threshold probe sums `tokens_s(score > m)` are
   * budget-independent, so each round sums the per-stratum UNION of
   * all budgets' probe ladders in one single-stage [[ProbeScan]] pass
   * (~log₆₄ span rounds in all); boundary rounds batch the
   * per-(stratum, threshold-class, probe) conditions the same way.
   * The final cards are one labelled aggregate over a pivoted 1:1
   * envelope join (2K columns per stratum, never K× the rows).
   * Driver state: one bracket per (stratum, budget) — requires
   * low-cardinality strata × a small budget ladder (the ext173/
   * ext174 preconditions, multiplied).
   */
  def budgetFillCurveByStratum(doc: DataFrame, stratum: String,
      score: Column, budgets: Seq[Long], id: String = "doc_id",
      text: String = "text"): DataFrame = {
    Guards.requireIntegral(doc, score, "budgetFillCurveByStratum",
      "score")
    val e = Reuse.shared(budgetSelectStratumPartials(doc, col(stratum),
      score, id, text))
    fillCurveByStratumOf(e, stratum,
      doc.select(col(stratum)).schema.head.dataType, budgets,
      "budgetFillCurveByStratum")
  }

  /** [[budgetFillCurveByStratum]] from the SAME stored stratified
    * partials that serve the ext173 cards, the global card and the
    * two-level plan — one sink, every card, curves included (same
    * guarded fold). */
  def budgetFillCurveByStratumFromCounts(counts: DataFrame,
      stratum: String, budgets: Seq[Long]): DataFrame = {
    val who = "budgetFillCurveByStratumFromCounts"
    val e = foldPartials(counts, who, strata = true, versioned = false)
    fillCurveByStratumOf(e, stratum, e.schema("_s").dataType, budgets,
      who)
  }

  /** [[budgetFillCurveByStratum]] from VERSIONED partials — the
    * keep-latest serve the cross-stratum refusal in [[foldPartials]]
    * recommends (r17 verdict: the diagnostic previously named a path
    * that did not exist for this caller): each doc's NEWEST
    * (stratum, score, toks) row prices the curve, so a reclassified
    * doc contributes to its newest stratum only — the curve the
    * batch operator would compute over newest-crawl rows. */
  def budgetFillCurveByStratumFromVersioned(counts: DataFrame,
      stratum: String, budgets: Seq[Long]): DataFrame = {
    val who = "budgetFillCurveByStratumFromVersioned"
    val latest = foldPartials(counts, who, strata = true,
      versioned = true)
    fillCurveByStratumOf(latest, stratum, latest.schema("_s").dataType,
      budgets, who)
  }

  /** The (t, id*) of every (stratum, rung) cut as a ≤|strata|-row
    * frame, pivoted to columns `_<t>k`/`_<i>k` per rung k (a 1:1
    * broadcast join — never K× the rows). */
  private def pivotedEnvelope(spark: SparkSession, sType: DataType,
      cuts: Seq[(Any, Seq[(Long, Long)])], t: String,
      i: String): DataFrame =
    spark.createDataFrame(cuts.map { case (s, tis) =>
      Row.fromSeq(s +: tis.flatMap { case (tk, ik) => Seq(tk, ik) })
    }.asJava, longSchema(Seq(StructField("_s", sType)),
      cuts.head._2.indices.flatMap(k => Seq(s"$t$k", s"$i$k"))))

  /** The per-stratum fill-curve cards over a prepared projection —
    * shared by the direct, stored-fold and versioned serve paths
    * (`who` threads the caller's name into the shared guards so
    * errors name what the user called). */
  private def fillCurveByStratumOf(e: DataFrame, stratum: String,
      sType: DataType, budgets: Seq[Long], who: String): DataFrame = {
    requireLadder(budgets, who)
    val spark = e.sparkSession
    val outSchema = longSchema(Seq(StructField(stratum, sType)),
      "budget_tokens" +: CardCols.filterNot(_ == "budget_tokens"))
    val cuts = scoreCuts(e, grouped = true, _ => budgets, who)
    if (cuts.isEmpty) return emptyFrame(spark, outSchema)
    val cutOf = cuts.map { case (s, tis) => s -> budgets.zip(tis).toMap }
      .toMap
    // final cards: one labelled aggregate over the pivoted envelope,
    // |strata| rows to the driver
    val K = budgets.size
    val env = pivotedEnvelope(spark, sType, cuts, "_t", "_i")
    val selAggs = Seq(count(lit(1)).as("_nd"),
      sum("_toks").as("_tt")) ++
      (0 until K).flatMap { k =>
        val selK = col("_score") > col(s"_t$k") ||
          (col("_score") === col(s"_t$k") && col("_id") <= col(s"_i$k"))
        Seq(coalesce(sum(when(selK, 1L).otherwise(0L)), lit(0L))
            .as(s"_n$k"),
          coalesce(sum(when(selK, col("_toks")).otherwise(0L)),
            lit(0L)).as(s"_k$k"))
      }
    val perSRows = e.join(broadcast(env), "_s").groupBy("_s")
      .agg(selAggs.head, selAggs.tail: _*).collect()
    val out = perSRows.toSeq
      .sortBy(r => String.valueOf(r.get(0))).flatMap { r =>
        val s = r.get(0)
        val (nd, tt) = (r.getLong(1), r.getLong(2))
        budgets.sorted.map { b =>
          val k = budgets.indexOf(b)
          val tokSel = r.getLong(4 + 2 * k)
          val (t, i) = cutOf(s)(b)
          Row.fromSeq(Seq(s, b, t, i, r.getLong(3 + 2 * k), tokSel, nd,
            tt, fillPpm(tokSel, b)))
        }
      }
    spark.createDataFrame(out.asJava, outSchema)
  }

  /**
   * Two-level cap sweep (ext177) — [[twoLevelBudgetCard]] at K cap
   * values against ONE global budget: the curve the CAP POLICY is
   * chosen FROM ("how tight can per-source caps be before the global
   * budget under-fills, and how loose before one source floods the
   * survivor pool"). One ext175 card row per cap rung, so the cost
   * of each candidate policy is a number before any data moves.
   *
   * Scale shape: stage 1 is [[budgetCut]] per (stratum, cap) — the
   * CAPS as the budget ladder, |strata| × K searches for one cut's
   * job count; each cap's survivor set is a scan predicate off ONE
   * pivoted 1:1 envelope join (2K columns per stratum — never K× the
   * rows); stage-2 domains and survivor masses are ONE aggregate,
   * stage 2 is [[budgetCut]] again, one search per cap over the
   * survivor predicate (each round one single-stage [[ProbeScan]]
   * pass for all K caps), and the final selection sums are ONE
   * aggregate. Zero data shuffles in every search; the
   * global-uniqueness guard rides the corpus-totals aggregate
   * (cap-independent, the ext175 contract). Caps so tight a rung's
   * survivors are empty produce that rung's row with null
   * threshold/boundary and the cap-stage telemetry intact (the
   * ext175 empty-survivor shape); only an empty corpus returns an
   * empty frame.
   */
  def twoLevelCapSweep(doc: DataFrame, stratum: String, score: Column,
      caps: Seq[Long], globalBudget: Long, id: String = "doc_id",
      text: String = "text"): DataFrame = {
    Guards.requireIntegral(doc, score, "twoLevelCapSweep", "score")
    val e = Reuse.shared(budgetSelectStratumPartials(doc, col(stratum),
      score, id, text))
    capSweepOf(e, doc.select(col(stratum)).schema.head.dataType,
      caps, globalBudget, "twoLevelCapSweep")
  }

  /** [[twoLevelCapSweep]] from the SAME stored stratified partials as
    * the rest of the family (guarded fold) — the caps ladder and the
    * global budget are serve-time knobs. */
  def twoLevelCapSweepFromCounts(counts: DataFrame, caps: Seq[Long],
      globalBudget: Long): DataFrame = {
    val who = "twoLevelCapSweepFromCounts"
    val e = foldPartials(counts, who, strata = true, versioned = false)
    capSweepOf(e, e.schema("_s").dataType, caps, globalBudget, who)
  }

  /** [[twoLevelCapSweep]] from VERSIONED partials — the keep-latest
    * serve the cross-stratum refusal in [[foldPartials]] recommends
    * (r17 verdict: previously a dead-end for this caller): each doc's
    * newest (stratum, score, toks) row enters stage 1, so the priced
    * cap policies are the ones the batch sweep would compute over
    * newest-crawl rows. Ids are globally unique AFTER the fold by
    * construction, so the sweep's cap-independent global-uniqueness
    * guard is satisfied structurally on this path. */
  def twoLevelCapSweepFromVersioned(counts: DataFrame, caps: Seq[Long],
      globalBudget: Long): DataFrame = {
    val who = "twoLevelCapSweepFromVersioned"
    val latest = foldPartials(counts, who, strata = true,
      versioned = true)
    capSweepOf(latest, latest.schema("_s").dataType, caps,
      globalBudget, who)
  }

  /** The cap-sweep cards over a prepared projection — shared by the
    * direct, stored-fold and versioned serve paths (`who` threads the
    * caller's name into the shared guards). */
  private def capSweepOf(e: DataFrame, sType: DataType, caps: Seq[Long],
      globalBudget: Long, who: String): DataFrame = {
    require(globalBudget > 0, "global budget must be positive")
    requireLadder(caps, who)
    val spark = e.sparkSession
    val outSchema = longSchema(Nil, Seq("cap_tokens", "threshold_score",
      "boundary_id", "n_selected", "tokens_selected", "n_surv",
      "tokens_surv", "n_docs", "tokens_total", "budget_tokens",
      "fill_ppm"))
    val cuts = scoreCuts(e, grouped = true, _ => caps, who)
    if (cuts.isEmpty) return emptyFrame(spark, outSchema)
    val K = caps.size
    val (nDocs, tokTot) = uniqueIdTotals(e, who)
    // ONE pivoted envelope join (1:1 on stratum) carries every cap's
    // (t, id*) as columns; each cap's survivor set is the predicate
    val env = pivotedEnvelope(spark, sType, cuts, "_ct", "_ci")
    val ej = Reuse.shared(e.join(broadcast(env), "_s")
      .select(col("_id") +: col("_score") +: col("_toks") +:
        (0 until K).flatMap(k =>
          Seq(col(s"_ct$k"), col(s"_ci$k"))): _*))
    def surv(k: Int): Column =
      col("_score") > col(s"_ct$k") ||
        (col("_score") === col(s"_ct$k") && col("_id") <= col(s"_ci$k"))
    // stage-2 domains + survivor masses for ALL caps in one job
    val domAggs = (0 until K).flatMap { k =>
      Seq(min(when(surv(k), col("_score"))).as(s"_slo$k"),
        max(when(surv(k), col("_score"))).as(s"_shi$k"),
        min(when(surv(k), col("_id"))).as(s"_ilo$k"),
        max(when(surv(k), col("_id"))).as(s"_ihi$k"),
        coalesce(sum(when(surv(k), 1L).otherwise(0L)), lit(0L))
          .as(s"_ns$k"),
        coalesce(sum(when(surv(k), col("_toks")).otherwise(0L)),
          lit(0L)).as(s"_ts$k"))
    }
    val domRow = ej.agg(domAggs.head, domAggs.tail: _*).first()
    val nSurv = (0 until K).map(k => domRow.getLong(6 * k + 4))
    val tokSurv = (0 until K).map(k => domRow.getLong(6 * k + 5))
    val active = (0 until K).filter(nSurv(_) > 0L)
    // stage 2: one search per active cap, its probes reading each
    // row's own pivoted (_ct k, _ci k) survivor columns. (No
    // Long.MinValue domain guard needed here: survivor domains are
    // subsets of the per-stratum corpus domains stage 1 checked.)
    val pscan2 = new ProbeScan(ej, Nil)
    val ctOrd = (0 until K).map(k => ej.schema.fieldIndex(s"_ct$k"))
    val ciOrd = (0 until K).map(k => ej.schema.fieldIndex(s"_ci$k"))
    val cut2 = budgetCut[Int](pscan2, active.map(k =>
        k -> (domRow.getLong(6 * k), domRow.getLong(6 * k + 1),
          domRow.getLong(6 * k + 2), domRow.getLong(6 * k + 3))),
      _ => Seq(globalBudget),
      (k, m) => ProbeScan.Spec(ProbeScan.SurvScoreGt, 0L, m, ctOrd(k),
        ciOrd(k), -1),
      (k, t, m) => ProbeScan.Spec(ProbeScan.SurvEqIdLe, t, m, ctOrd(k),
        ciOrd(k), -1))
    def t2i2(k: Int): (Long, Long) = cut2((k, globalBudget))
    // final selection sums for all active caps in one aggregate
    val selVs =
      if (active.isEmpty) Seq.empty[Long]
      else {
        val aggs = active.flatMap { k =>
          val (t, i) = t2i2(k)
          val sel = surv(k) && (col("_score") > t ||
            (col("_score") === t && col("_id") <= i))
          Seq(coalesce(sum(when(sel, 1L).otherwise(0L)), lit(0L))
              .as(s"_n$k"),
            coalesce(sum(when(sel, col("_toks")).otherwise(0L)),
              lit(0L)).as(s"_t$k"))
        }
        val row = ej.agg(aggs.head, aggs.tail: _*).first()
        aggs.indices.map(row.getLong)
      }
    val selOf = active.zipWithIndex.map { case (k, j) =>
      k -> (selVs(2 * j), selVs(2 * j + 1)) }.toMap
    val out = caps.sorted.map { c =>
      val k = caps.indexOf(c)
      if (nSurv(k) == 0L)
        Row(c, null, null, 0L, 0L, 0L, 0L, nDocs, tokTot, globalBudget,
          0L)
      else {
        val (nSel, tokSel) = selOf(k)
        val (t, i) = t2i2(k)
        Row(c, t, i, nSel, tokSel, nSurv(k), tokSurv(k), nDocs, tokTot,
          globalBudget, fillPpm(tokSel, globalBudget))
      }
    }
    spark.createDataFrame(out.asJava, outSchema)
  }

  /**
   * Corpus snapshot diff (ext178) — the lineage audit a pipeline
   * runs between two crawl/curation versions BEFORE retraining on
   * the new one: per stratum, how many docs were added, removed,
   * changed (same id + stratum, different text), moved (same id,
   * different stratum — the langid-re-run class the serve guards
   * refuse to arbitrate silently), unchanged, and the token masses
   * on both sides (token_delta = tokens_new − tokens_old, attributed
   * per SIDE so a moved doc's mass leaves its old stratum and
   * arrives in its new one — no misattribution).
   *
   * Classification is per doc id: added (new only), removed (old
   * only), moved (both, stratum differs — trumps changed: a moved
   * doc's text diff is a property of the move), changed (both, same
   * stratum, text differs), unchanged (rest). Each doc contributes
   * to its NEW stratum's row (added/changed/moved_in/unchanged) and
   * its OLD stratum's row (removed/moved_out) — ≤2 bounded
   * contributions, never a fan-out.
   *
   * Scale shape: ONE data shuffle — the full-outer id join (under
   * id-bucketed snapshot layouts, the ext26 discipline, it is a
   * zero-exchange sort-merge) — then a map-side-combined aggregate
   * keyed by |strata|. The join carries an md5 CONTENT FINGERPRINT,
   * not the text (the [[Dedup.exact]] hash-compare discipline —
   * r17 review), so the exchange is ~40 bytes/row instead of both
   * snapshots' full text payloads; the oracle replays the identical
   * md5 rule. Duplicate ids WITHIN a snapshot would fan the join
   * and double-count silently: rejected loudly per side (the
   * serve-guard class).
   *
   * Null contract (audit vs selection semantics — BY DESIGN, not an
   * oversight): a null text folds to 0 tokens and a null md5, so two
   * null-text sides compare UNCHANGED via `<=>`, where the cut
   * operators ([[budgetSelect]] family) REFUSE null text — a cut
   * must not select what it cannot weigh, but an audit must describe
   * the corpus as it is, nulls included, or the lineage report
   * silently drops exactly the rows most worth flagging. Likewise a
   * null stratum is a real bucket here: null-stratum docs group into
   * one null-keyed output row (the stratified serve operators reject
   * null strata because a null key silently drops out of their probe
   * JOIN; this aggregate has no such join, so the row is reportable).
   */
  def corpusDiff(oldDocs: DataFrame, newDocs: DataFrame,
      stratum: String, id: String = "doc_id",
      text: String = "text"): DataFrame = {
    def proj(d: DataFrame, side: String): DataFrame = {
      Guards.requireIntegral(d, col(id), "corpusDiff", s"$side id")
      val p = Reuse.shared(d.select(
        Guards.notNull(col(id).cast("long"), "corpusDiff",
          s"$side id").as("_id"),
        col(stratum).as("_s"), md5(col(text)).as("_h"),
        coalesce(size(TextOps.tokens(col(text))).cast("long"),
          lit(0L)).as("_toks")))
      val chk = p.agg(count(lit(1)).as("_n"),
        countDistinct(col("_id")).as("_nid")).first()
      if (chk.getLong(0) != chk.getLong(1))
        throw new IllegalArgumentException(
          s"corpusDiff: ${chk.getLong(0) - chk.getLong(1)} duplicate " +
            s"ids in the $side snapshot — the id join would fan out " +
            "and double-count; one row per doc per snapshot")
      p
    }
    corpusDiffOf(proj(oldDocs, "old"), proj(newDocs, "new"), stratum)
  }

  /** [[corpusDiff]] served from the family's ONE versioned sink
    * (r17 verdict item 2): the `batch=N` replay key is the version,
    * so each version id `v` names the corpus snapshot "every doc's
    * newest row among batches ≤ v" — two keep-latest folds
    * ([[foldPartials]] filtered at `verOld` / `verNew`)
    * diffed by the same core as the direct operator. The lineage
    * audit between any two ingest points becomes a serve-time query
    * over the sink that already serves every card, curve and sweep.
    *
    * Content fingerprint granularity: the sink stores (stratum, id,
    * score, toks) — text is never persisted, by design — so
    * "changed" here means the doc's (score, toks) payload changed. A
    * re-crawl whose text edit moves neither its score nor its token
    * count reads UNCHANGED at this serve; run the direct
    * [[corpusDiff]] over materialized snapshots when byte-level text
    * lineage is required. A version cut matching no batch yields an
    * empty side (every doc reads added/removed) — version ids are
    * the sink's batch numbers. Ids are globally unique after each
    * fold by construction, so the duplicate-id refusal of the direct
    * path is satisfied structurally here. Null strata: this serve
    * REFUSES them (the versioned fold's guard — the stratified
    * sink's cut serves would reject the same rows, so the audit
    * surfaces the producer bug too), unlike the direct
    * [[corpusDiff]], which reports a null-keyed bucket: a
    * free-standing snapshot owes the reader a complete description,
    * a family sink owes its producer a contract. An append-only
    * version log
    * never REMOVES a doc, so a forward diff (verOld < verNew) always
    * reports n_removed = 0; diff backward (verOld > verNew) to audit
    * a rollback — the result is the exact transpose (added↔removed,
    * moved_in↔moved_out, tokens swapped, delta negated; spec-held). */
  def corpusDiffFromVersioned(counts: DataFrame, verOld: Long,
      verNew: Long, stratum: String): DataFrame = {
    def snap(v: Long): DataFrame = {
      val latest = foldPartials(counts.filter(col("_ver") <= v),
        "corpusDiffFromVersioned", strata = true, versioned = true)
      Reuse.shared(latest.select(col("_id"), col("_s"),
        struct(col("_score"), col("_toks")).as("_h"), col("_toks")))
    }
    corpusDiffOf(snap(verOld), snap(verNew), stratum)
  }

  /** The diff core over two (_id, _s, _h, _toks) snapshot
    * projections — `_h` is any equality-comparable content
    * fingerprint (md5 of text on the direct path, the (score, toks)
    * struct on the versioned serve); shared by both. */
  private def corpusDiffOf(o: DataFrame, n: DataFrame,
      stratum: String): DataFrame = {
    val j = n.as("n").join(o.as("o"),
      col("n._id") === col("o._id"), "full_outer")
    val bothPresent = col("n._id").isNotNull && col("o._id").isNotNull
    val moved = bothPresent && !(col("n._s") <=> col("o._s"))
    val sameStratum = bothPresent && (col("n._s") <=> col("o._s"))
    val newContrib = struct(
      col("n._id").isNotNull.as("_p"), col("n._s").as("_s"),
      when(col("o._id").isNull, 1L).otherwise(0L).as("_a"),
      lit(0L).as("_r"),
      when(sameStratum && !(col("n._h") <=> col("o._h")), 1L)
        .otherwise(0L).as("_c"),
      when(moved, 1L).otherwise(0L).as("_mi"),
      lit(0L).as("_mo"),
      when(sameStratum && (col("n._h") <=> col("o._h")), 1L)
        .otherwise(0L).as("_u"),
      coalesce(col("n._toks"), lit(0L)).as("_tn"),
      lit(0L).as("_to"))
    val oldContrib = struct(
      col("o._id").isNotNull.as("_p"), col("o._s").as("_s"),
      lit(0L).as("_a"),
      when(col("n._id").isNull, 1L).otherwise(0L).as("_r"),
      lit(0L).as("_c"), lit(0L).as("_mi"),
      when(moved, 1L).otherwise(0L).as("_mo"),
      lit(0L).as("_u"), lit(0L).as("_tn"),
      coalesce(col("o._toks"), lit(0L)).as("_to"))
    j.select(explode(array(newContrib, oldContrib)).as("_x"))
      .filter(col("_x._p"))
      .groupBy(col("_x._s").as(stratum))
      .agg(sum("_x._a").as("n_added"), sum("_x._r").as("n_removed"),
        sum("_x._c").as("n_changed"),
        sum("_x._mi").as("n_moved_in"),
        sum("_x._mo").as("n_moved_out"),
        sum("_x._u").as("n_unchanged"),
        sum("_x._tn").as("tokens_new"),
        sum("_x._to").as("tokens_old"))
      .withColumn("token_delta",
        col("tokens_new") - col("tokens_old"))
  }

  /** Probes per search round: each round is ONE single-stage
    * [[ProbeScan]] pass computing up to `BisectFanout − 1` conditional
    * sums, so the round count drops from log₂(span) to log_F(span).
    * Job-scheduling overhead (not scan cost) dominates these
    * searches locally, and at 100 TB each round is a full pass over
    * the partials relation, so fewer-but-wider rounds win at every
    * scale: the per-row cost of F−1 conditional sums is a short
    * primitive loop while the pass count falls as 1/log₂F. r18
    * measured (sf0.1 local[32]; PerfLab's profile prints these job
    * counts): fanout 8 → 32 cut the family's sequential job counts
    * ~40% (ext177 86 → ~52 jobs) with the identical converged result
    * (64 after the ProbeScan rewrite made probe cost flat) — the
    * searches are exact for ANY fanout ≥ 2, the ladder only changes
    * how fast brackets narrow. */
  private[graft] val BisectFanout = 64

  /** [[budgetSelectCard]]'s one-budget cut of a one-row-per-doc
    * (_id, _score, _toks) relation: (t, id*), None on an empty
    * relation (no boundary exists — the temporalSplit empty-card
    * convention). */
  private def globalCut(e: DataFrame,
      budgetTokens: Long): Option[(Long, Long)] = {
    require(budgetTokens > 0, "token budget must be positive")
    scoreCuts(e, grouped = false, _ => Seq(budgetTokens), "budgetSelect")
      .headOption.map(_._2.head)
  }

  /** [[budgetCut]] over a prepared (_id, _score, _toks) relation, one
    * group per `_s` value when `grouped`, else the whole relation as
    * one group: the domain probe (ONE job — each group's score and id
    * ranges), then the searches over a [[ProbeScan]] of `e`. Returns
    * each group's (t, id*) per budget, in `budgets` order; empty on an
    * empty relation. Refuses, naming the cause:
    *  - a `planKeys` key (a per-stratum budget plan's) matching no
    *    observed stratum (r16 verdict item 3): in a PLAN a misspelled
    *    stratum ("en-US" vs "en") is almost certainly an error. Checked
    *    BEFORE the empty-relation return (r17 ADVICE): an empty corpus
    *    observes no strata, so a plan keyed at all is keyed wrong;
    *  - a null stratum, which would silently drop out of the envelope
    *    join;
    *  - a score or id domain reaching Long.MinValue: the searches start
    *    one below the observed minimum ("none selected" must be
    *    representable), which would wrap (64-bit-hash ids are
    *    realistic; probe arithmetic itself is BigInt-safe for any other
    *    span). */
  private def scoreCuts(e: DataFrame, grouped: Boolean,
      budgets: Any => Seq[Long], who: String,
      planKeys: Set[String] = Set.empty): Seq[(Any, Seq[(Long, Long)])] = {
    val ranges = Seq(min("_score"), max("_score"), min("_id"), max("_id"))
    val rows =
      if (grouped)
        e.groupBy("_s").agg(ranges.head, ranges.tail: _*).collect().toSeq
      else Seq(e.agg(ranges.head, ranges.tail: _*).first())
        .filterNot(_.isNullAt(0))
    val observed = rows.map(r => String.valueOf(r.get(0))).toSet
    val unmatched = planKeys.diff(observed)
    require(unmatched.isEmpty,
      s"$who: budgets/plan keys matching no " +
        s"observed stratum: ${unmatched.toSeq.sorted.mkString(", ")}" +
        s" — keys must equal a stratum value's string rendering " +
        s"(observed: ${observed.toSeq.sorted.take(20).mkString(", ")})")
    val o = if (grouped) 1 else 0
    val doms = rows.map { r =>
      require(!r.isNullAt(0), s"$who: null stratum value — a null key " +
        "would silently drop out of the probe join; filter or bucket " +
        "nulls explicitly")
      val (sLo, iLo) = (r.getLong(o), r.getLong(o + 2))
      require(sLo > Long.MinValue && iLo > Long.MinValue,
        "budgetSelect needs score and id domains above Long.MinValue")
      (if (grouped) r.get(0) else (),
        (sLo, r.getLong(o + 1), iLo, r.getLong(o + 3)))
    }
    val pscan = new ProbeScan(e, if (grouped) Seq("_s") else Nil)
    if (grouped) pscan.setGroups(doms.map(d => Seq(d._1)))
    val gOf: Map[Any, Int] = doms.map(d => d._1 ->
      (if (grouped) pscan.groupIndex(Seq(d._1)) else -1)).toMap
    val cut = budgetCut[Any](pscan, doms, budgets,
      (s, m) => ProbeScan.Spec(ProbeScan.ScoreGt, 0L, m, -1, -1, gOf(s)),
      (s, t, m) =>
        ProbeScan.Spec(ProbeScan.ScoreEqIdLe, t, m, -1, -1, gOf(s)))
    doms.map { case (s, _) => s -> budgets(s).map(b => cut((s, b))) }
  }

  /** The budget cut — the one engine under every search of the
    * family (ext172-ext177). One search per (group g, budget B) key,
    * over g's domain (sLo, sHi, iLo, iHi):
    *  1. threshold: the least t in [sLo − 1, sHi] with
    *     tokens_g(score > t) ≤ B (monotone; t = sLo − 1 means the
    *     whole group fits);
    *  2. base = tokens_g(score > t);
    *  3. boundary: the greatest id* in [iLo − 1, iHi] with
    *     base + tokens_g(score = t, id ≤ id*) ≤ B (monotone; iLo − 1
    *     always holds, as base ≤ B by t's construction).
    * A group is a stratum, a cap rung of the two-level sweep, or the
    * whole relation. `gt(g, m)` and `eqLe(g, t, m)` build g's probe
    * specs for score > m and score = t ∧ id ≤ m; a spec shared by
    * several keys (budgets of one group share every threshold probe)
    * is summed once. Each search round, and the base, is one
    * single-stage `pscan` pass over all keys, so K budgets × |groups|
    * cost the job count of one cut. */
  private def budgetCut[G](pscan: ProbeScan,
      doms: Seq[(G, (Long, Long, Long, Long))], budgets: G => Seq[Long],
      gt: (G, Long) => ProbeScan.Spec,
      eqLe: (G, Long, Long) => ProbeScan.Spec): Map[(G, Long), (Long, Long)] = {
    val dom = doms.toMap
    val keys = for ((g, _) <- doms; b <- budgets(g)) yield (g, b)
    val tOf = keyedSearch[(G, Long)](keys.map { case k @ (g, _) =>
        k -> (dom(g)._1 - 1, dom(g)._2) }.toMap,
      minProbes, minUpdate, ladders => {
        val v = pscan.sumsBySpec(ladders.flatMap { case ((g, _), ps) =>
          ps.map(gt(g, _)) })
        ladders.map { case (k @ (g, b), ps) =>
          k -> ps.map(p => v(gt(g, p)) <= b) }.toMap
      })
    val base = pscan.sumsBySpec(keys.map { case k @ (g, _) =>
      gt(g, tOf(k)) })
    val iOf = keyedSearch[(G, Long)](keys.map { case k @ (g, _) =>
        k -> (dom(g)._3 - 1, dom(g)._4) }.toMap,
      maxProbes, maxUpdate, ladders => {
        val v = pscan.sumsBySpec(ladders.flatMap { case (k @ (g, _), ps) =>
          ps.map(eqLe(g, tOf(k), _)) })
        ladders.map { case (k @ (g, b), ps) =>
          val above = base(gt(g, tOf(k)))
          k -> ps.map(p => above + v(eqLe(g, tOf(k), p)) <= b) }.toMap
      })
    keys.map(k => k -> (tOf(k), iOf(k))).toMap
  }

  /** Shared driver for a BATCH of simultaneous monotone bisections,
    * one bracket per key ((group, budget) in [[budgetCut]], (stratum,
    * quantile) in [[Sketches.selectionQuantiles]]): each round
    * finishes converged brackets, builds every active key's probe
    * ladder, evaluates ALL ladders through the caller's `eval` (which
    * owns the batching — one single-stage [[ProbeScan]] pass per
    * round, ~log₆₄(span) rounds), and narrows each bracket via
    * [[minUpdate]]/[[maxUpdate]]. The bracket/ladder bookkeeping and
    * its probe-alignment invariants live HERE, once, instead of in
    * each operator's loop (r17 review). */
  private[graft] def keyedSearch[K](init: Map[K, (Long, Long)],
      probes: (Long, Long) => Seq[Long],
      update: (Long, Long, Seq[Long], Seq[Boolean]) => (Long, Long),
      eval: Seq[(K, Seq[Long])] => Map[K, Seq[Boolean]])
      : Map[K, Long] = {
    var br = init
    val out = scala.collection.mutable.Map.empty[K, Long]
    while (br.nonEmpty) {
      val (fin, act) = br.partition { case (_, (lo, hi)) => lo >= hi }
      out ++= fin.map { case (k, (lo, _)) => k -> lo }
      if (act.isEmpty) br = Map.empty
      else {
        val ladders = act.toSeq.map { case (k, (lo, hi)) =>
          k -> probes(lo, hi) }
        val vs = eval(ladders)
        br = ladders.map { case (k, ps) =>
          val (lo, hi) = act(k)
          k -> update(lo, hi, ps, vs(k))
        }.toMap
      }
    }
    out.toMap
  }

  /** Probe ladder for one min-true round: `BisectFanout − 1` evenly
    * spaced probes, strictly increasing in [lo, hi) — every point of
    * [lo, hi) once the bracket is narrower than the fanout, so such a
    * bracket converges in that round. BigInt width/probe arithmetic:
    * a full-Long span (64-bit hash ids or values) overflows hi − lo,
    * which would silently corrupt the ladder. */
  private[graft] def minProbes(lo: Long, hi: Long): Seq[Long] = {
    val width = BigInt(hi) - BigInt(lo)
    (1 until BisectFanout)
      .map(i => (BigInt(lo) + width * i / BisectFanout).toLong).distinct
  }

  /** Bracket update for one min-true round: narrow to the segment
    * between the last-false and first-true probe. */
  private[graft] def minUpdate(lo: Long, hi: Long, ps: Seq[Long],
      vs: Seq[Boolean]): (Long, Long) = {
    val idx = vs.indexWhere(identity)
    if (idx >= 0) (if (idx > 0) ps(idx - 1) + 1 else lo, ps(idx))
    else (ps.last + 1, hi)
  }

  /** Probe ladder for one max-true round: probes in (lo, hi]. */
  private[graft] def maxProbes(lo: Long, hi: Long): Seq[Long] = {
    val width = BigInt(hi) - BigInt(lo)
    val k = width.min(BigInt(BisectFanout))
    val probes = (BigInt(1) until k)
      .map(i => (BigInt(lo) + width * i / k).toLong)
      .distinct.filter(p => p > lo && p <= hi)
    if (probes.isEmpty) Seq((BigInt(lo) + (width + 1) / 2).toLong)
    else probes
  }

  /** Bracket update for one max-true round. */
  private[graft] def maxUpdate(lo: Long, hi: Long, ps: Seq[Long],
      vs: Seq[Boolean]): (Long, Long) = {
    val idx = vs.lastIndexWhere(identity)
    if (idx >= 0)
      (ps(idx), if (idx < ps.size - 1) ps(idx + 1) - 1 else hi)
    else (lo, ps.head - 1)
  }
}
