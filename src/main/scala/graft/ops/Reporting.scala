package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Corpus-level reporting aggregates (dedup impact report ext64, data
 * card ext66), factored so the batch queries and their streaming twins
 * share one derivation.
 *
 * The split mirrors production's artifact boundary:
 *  - [[cardPartials]] is the ALGEBRAIC per-(lang, source) partial —
 *    commutative and associative, so any partitioning of the corpus
 *    into micro-batches sums back to the corpus-wide card. The
 *    streaming twin writes one partial per micro-batch and never
 *    re-reads corpus text.
 *  - [[clusterStats]] reads the build-once near-dup cluster map (a
 *    corpus-SNAPSHOT artifact, like ext69's shingle-df table): the
 *    redundancy term of a card is a property of a corpus generation,
 *    computed offline, not drifted incrementally.
 */
object Reporting {

  /**
   * The one corpus scan behind the data card: per-(lang, source) doc
   * and token counts. Every card field is a duplicate-key-insensitive
   * aggregate over these rows (sum / countDistinct / grouped sum), so
   * callers may pass partials that repeat a (lang, source) key — e.g.
   * the union of per-micro-batch partials — without merging first.
   */
  def cardPartials(doc: DataFrame): DataFrame =
    doc.groupBy("lang", "source")
      .agg(count(lit(1)).as("c"),
        sum(size(TextOps.tokens(col("text"))).cast("long")).as("t"))

  /**
   * Cluster-map summary feeding both reports: family count, docs in
   * families, and the largest family, off the stored `(doc_id,
   * cluster_id)` map. One keyed count + a 1-row rollup.
   */
  def clusterStats(clusterMap: DataFrame): DataFrame =
    clusterMap.groupBy("cluster_id").agg(count(lit(1)).as("n"))
      .agg(count(lit(1)).as("n_clusters"),
        coalesce(sum(col("n")), lit(0L)).as("n_clustered_docs"),
        coalesce(max(col("n")), lit(0L)).as("max_cluster"))

  /**
   * ext64's dedup impact report from its two artifacts: the cluster
   * summary ([[clusterStats]]) and a 1-row `n_total` doc count. The
   * streaming twin folds `n_total` from the per-batch counts of a
   * [[graft.stream.StreamingPipeline.partials]] store of
   * [[cardPartials]]; the cluster summary is the build-once map's, a
   * corpus-snapshot artifact.
   * `dup_mass_q` is the corpus ppm a min-per-cluster keeper removes.
   */
  def dupStats(cluster: DataFrame, total: DataFrame): DataFrame =
    cluster.crossJoin(broadcast(total))
      .select(col("n_clusters"), col("n_clustered_docs"),
        col("max_cluster"),
        expr("((n_clustered_docs - n_clusters) * 1000000) DIV n_total")
          .as("dup_mass_q"))

  /**
   * ext66's one-row data card from [[cardPartials]] rows (merged or
   * per-batch) and the [[clusterStats]] summary. Both extra terms ride
   * broadcast 1-row relations; the partials are scanned twice (base
   * rollup + top-source), which is why the batch query wraps them in
   * `Reuse.shared` — partials are |langs × sources| rows, so the
   * streaming derivation reads its tiny state table twice instead.
   */
  def dataCard(partials: DataFrame, cluster: DataFrame): DataFrame = {
    val base = partials.agg(sum(col("c")).as("n_docs"),
      sum(col("t")).as("n_tokens"),
      countDistinct(col("lang")).as("n_langs"),
      countDistinct(col("source")).as("n_sources"))
    val topSrc = partials.groupBy("source").agg(sum(col("c")).as("sc"))
      .agg(max(col("sc")).as("max_src"))
    val cl = cluster.select(col("n_clusters"),
      col("n_clustered_docs").as("n_clustered"))
    base.crossJoin(broadcast(topSrc)).crossJoin(broadcast(cl))
      .select(col("n_docs"), col("n_tokens"), col("n_langs"),
        col("n_sources"),
        expr("(max_src * 1000000) DIV n_docs").as("top_source_share_q"),
        expr("((n_clustered - n_clusters) * 1000000) DIV n_docs")
          .as("dup_mass_q"))
  }

  /**
   * Per-stratum composition drift between two corpus snapshots — the
   * "did the crawl's language/source mix move" audit run next to
   * [[graft.ops.Dedup.snapshotDiff]]'s content diff: each stratum's
   * doc share of its own snapshot (ppm) on both sides, and the
   * absolute share delta. A large `drift_ppm` on a stratum is the
   * re-mix signal (re-weight via [[Sampling.mixtureWeights]], or gate
   * the new snapshot) that raw counts hide when the snapshots differ
   * in size.
   *
   * Scale shape: ONE pass over the tagged union (a keyed count with
   * two conditional sums, map-side combined) + a broadcast 1-row
   * total; |strata| output rows. All int64; empty-side guards keep
   * ANSI division safe. The counts relation is materialized once
   * ([[Reuse.shared]] — EAGER like mixtureWeights) because the totals
   * row and the share projection both consume it.
   */
  def compositionDrift(a: DataFrame, b: DataFrame,
      strata: Seq[String] = Seq("lang")): DataFrame = {
    val sc = strata.map(col)
    driftFromTagged(
      a.select(sc :+ lit(1L).as("_a") :+ lit(0L).as("_b"): _*)
        .union(b.select(sc :+ lit(0L).as("_a") :+ lit(1L).as("_b"): _*)),
      strata)
  }

  /** Single-scan form of [[compositionDrift]] for the common case of
    * two snapshots living in ONE table (a generation column, a parity
    * split...): `sideA` picks snapshot A per row, so the corpus is
    * read once instead of once per side — at 100 TB the difference is
    * a full extra pass. */
  def compositionDriftBy(df: DataFrame, sideA: Column,
      strata: Seq[String] = Seq("lang")): DataFrame =
    driftFromTagged(
      df.select(strata.map(col)
        :+ when(sideA, 1L).otherwise(0L).as("_a")
        :+ when(sideA, 0L).otherwise(1L).as("_b"): _*),
      strata)

  private def driftFromTagged(tagged: DataFrame,
      strata: Seq[String]): DataFrame =
    driftFromCounts(tagged.groupBy(strata.map(col): _*)
      .agg(sum(col("_a")).as("docs_a"), sum(col("_b")).as("docs_b")))

  /** The share/delta math over a (strata..., docs_a, docs_b) counts
    * relation. The counts are COMMUTATIVE partials — the streaming
    * twin ([[graft.stream.StreamingPipeline.partialsSink]])
    * accumulates them per micro-batch and folds here; duplicate
    * stratum keys across batches are summed before the share math,
    * so the fold is exact at any batching. Materialized once
    * ([[Reuse.shared]]) because the totals row and the share
    * projection both consume it. */
  def driftFromCounts(rawCounts: DataFrame): DataFrame = {
    val keys = rawCounts.columns
      .filterNot(Set("docs_a", "docs_b")).toSeq
    val counts = Reuse.shared(rawCounts.groupBy(keys.map(col): _*)
      .agg(sum(col("docs_a")).as("docs_a"),
        sum(col("docs_b")).as("docs_b")))
    val tot = counts.agg(sum(col("docs_a")).as("tot_a"),
      sum(col("docs_b")).as("tot_b"))
    counts.crossJoin(broadcast(tot))
      .withColumn("share_a_ppm",
        when(col("tot_a") > 0, expr("(docs_a * 1000000) DIV tot_a"))
          .otherwise(lit(0L)))
      .withColumn("share_b_ppm",
        when(col("tot_b") > 0, expr("(docs_b * 1000000) DIV tot_b"))
          .otherwise(lit(0L)))
      .withColumn("drift_ppm",
        abs(col("share_a_ppm") - col("share_b_ppm")))
      .drop("tot_a", "tot_b")
  }

  /** Per-micro-batch drift partials: the tagged conditional counts of
    * [[compositionDriftBy]], one tiny relation per batch. */
  def driftPartials(df: DataFrame, sideA: Column,
      strata: Seq[String] = Seq("lang")): DataFrame =
    df.select(strata.map(col)
      :+ when(sideA, 1L).otherwise(0L).as("_a")
      :+ when(sideA, 0L).otherwise(1L).as("_b"): _*)
      .groupBy(strata.map(col): _*)
      .agg(sum(col("_a")).as("docs_a"), sum(col("_b")).as("docs_b"))

  /** Key pattern of the JSON profile — kept in the Java-regex ∩ RE2
    * portable subset (the [[graft.ops.TextOps.PiiPatterns]]
    * discipline) so the ext99 oracle runs the same strings. */
  val JsonPairPattern = "\"([A-Za-z0-9_]+)\"\\s*:\\s*[^,}\\]]+"
  val JsonNumericPattern = "^-?[0-9]+(\\.[0-9]+)?$"

  /**
   * Schema-on-read profile of a JSON string column: one row per
   * top-level key with occurrence and value-type counts — the audit a
   * permissive-wire-schema ingest (OP-04's `from_json` tolerates
   * missing/extra fields) ships before anyone hardcodes a schema:
   * which keys actually occur, how often, and as what types. Regex
   * pair extraction (codegen'd, no JSON parser on the scan) classifies
   * each value as numeric / string / bool / null; nested objects and
   * arrays land in `n_other`. One scan, |keys|-row output, every
   * column algebraic — streams with the partials pattern
   * ([[jsonKeyProfileFromCounts]]).
   */
  def jsonKeyProfile(df: DataFrame, json: Column): DataFrame =
    df.select(explode(regexp_extract_all(json,
        lit(JsonPairPattern), lit(0))).as("pair"))
      .select(
        regexp_extract(col("pair"), "\"([A-Za-z0-9_]+)\"", 1).as("key"),
        trim(regexp_extract(col("pair"), ":\\s*(.+)$", 1)).as("v"))
      .groupBy("key")
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("v").rlike(JsonNumericPattern), 1L).otherwise(0L))
          .as("n_numeric"),
        sum(when(col("v").startsWith("\""), 1L).otherwise(0L))
          .as("n_string"),
        sum(when(col("v").isin("true", "false"), 1L).otherwise(0L))
          .as("n_bool"),
        sum(when(col("v") === "null", 1L).otherwise(0L)).as("n_null"))

  /** Re-fold of [[jsonKeyProfile]] partials: all columns are sums. */
  def jsonKeyProfileFromCounts(raw: DataFrame): DataFrame =
    raw.groupBy("key")
      .agg(sum(col("n_pairs")).as("n_pairs"),
        sum(col("n_numeric")).as("n_numeric"),
        sum(col("n_string")).as("n_string"),
        sum(col("n_bool")).as("n_bool"),
        sum(col("n_null")).as("n_null"))

  /**
   * Pairwise Pearson correlation of per-row INTEGER signals — the
   * signal-redundancy audit behind curation-filter ablations: two
   * signals at |corr| → 1 gate the same documents, so one of them is
   * budget spent twice (the DataComp-style question "which filters are
   * actually independent"). Signals must be int64 columns (quantize
   * ratios to ppm first): all five moment sums (n, Σx, Σx², Σxy) are
   * then EXACT and order/partition-independent, and the one corr
   * expression per pair is a fixed IEEE double sequence off those
   * integers — bit-portable to the oracle, like the cosine contract.
   *
   * Scale shape: ONE map-side-combined aggregate over the scan
   * produces every moment (k + k + k(k+1)/2 columns); the pair
   * explosion happens on the 1-row result. Zero-variance signals
   * yield corr 0 by guard (not NaN). At test scale the int64 moments
   * are exact; at ~10⁹+ rows × ppm-scaled signals carry them as
   * DECIMAL(38,0) (the ext95 escape) — the audit is usually run on a
   * shard sample anyway.
   */
  def signalCorrelations(df: DataFrame,
      signals: Seq[(String, Column)]): DataFrame =
    correlationsFromMoments(signalMoments(df, signals))

  /** The 1-row exact moment relation (n, s_*, q_*, x_*__*) — every
    * column a pure sum, so duplicate rows (micro-batch partials,
    * shards) FOLD by summation: the ext78/82/84 algebraic-partials
    * contract, which is what the streaming twin writes per batch. */
  def signalMoments(df: DataFrame,
      signals: Seq[(String, Column)]): DataFrame = {
    require(signals.size >= 2, "need at least two signals")
    // The cross-moment columns encode the pair as `x_<a>__<b>`;
    // a name containing "__" would make that encoding ambiguous and
    // mis-parse in [[correlationsFromMoments]] (r8 ADVICE). A leading
    // or trailing single '_' is just as ambiguous once adjacent to the
    // separator ('a_' + 'b' encodes as x_a___b, which re-parses as
    // ('a', '_b') — r9 ADVICE), so the rule is round-trip safety:
    // s"${a}__$b".split("__") must reproduce (a, b) exactly.
    signals.foreach { case (n, _) =>
      require(!n.contains("__") && !n.startsWith("_") && !n.endsWith("_"),
        "signal name must not contain '__' (reserved pair separator) " +
          s"or start/end with '_' (would touch the separator): $n")
    }
    val sel = df.select(signals.map { case (n, c) =>
      c.cast("long").as(n) }: _*)
    val names = signals.map(_._1)
    // Square and cross moments accumulate in decimal(38,0): a
    // ppm-scaled signal squares to ~10¹² per ROW, so the int64 sum
    // wraps (or, under ANSI, aborts) around 10⁷ rows — the ext152
    // overflow class, found live when ext115 started failing at sf0.1
    // while the sf0.01 gate stayed green.
    def dec(c: Column) = c.cast("decimal(38,0)")
    val moments =
      Seq(count(lit(1)).as("n")) ++
        names.map(n => sum(col(n)).as(s"s_$n")) ++
        names.map(n => sum(dec(col(n)) * col(n)).as(s"q_$n")) ++
        names.combinations(2).map { case Seq(a, b) =>
          sum(dec(col(a)) * col(b)).as(s"x_${a}__$b") }.toSeq
    sel.agg(moments.head, moments.tail: _*)
  }

  /** Fold + finish: sum duplicate moment rows exactly, then derive the
    * pairwise correlations. Signal names and pair order are
    * reconstructed from the `x_a__b` column names (unambiguous because
    * [[signalMoments]] rejects names containing "__"), so the fold
    * needs no side-channel configuration. Empty/missing sums coalesce
    * to 0; an EMPTY input still yields the full C(k, 2) pair rows —
    * one per x_ column, each with n = 0 and corr_ppm = 0 via the
    * zero-variance guard (the pair list is schema-derived, not
    * data-derived). */
  def correlationsFromMoments(raw: DataFrame): DataFrame = {
    val sumCols = raw.columns.filter(_ != "n")
    val folded = raw.agg(
      coalesce(sum(col("n")), lit(0L)).as("n"),
      sumCols.map(c => coalesce(sum(col(c)), lit(0L)).as(c)): _*)
    val pairs = raw.columns.filter(_.startsWith("x_")).toSeq
      .map { c =>
        val parts = c.stripPrefix("x_").split("__")
        require(parts.length == 2,
          s"moment column '$c' does not parse as x_<a>__<b>: signal " +
            "names must not contain '__' (enforced by signalMoments)")
        (parts(0), parts(1))
      }
    val pairRows = pairs.map { case (a, b) =>
      // finish arithmetic in decimal too: n·q reaches ~n²·sig² —
      // 2.5·10¹⁹ already at 5000 ppm-scaled rows (the sf0.1 failure);
      // decimal(38,0) holds to ~10¹² rows of ppm signals
      def dec(c: Column) = c.cast("decimal(38,0)")
      val num = dec(col("n")) * col(s"x_${a}__$b") -
        dec(col(s"s_$a")) * col(s"s_$b")
      val va = dec(col("n")) * col(s"q_$a") -
        dec(col(s"s_$a")) * col(s"s_$a")
      val vb = dec(col("n")) * col(s"q_$b") -
        dec(col(s"s_$b")) * col(s"s_$b")
      struct(lit(a).as("sig_a"), lit(b).as("sig_b"), col("n"),
        when(va === 0L || vb === 0L, 0L).otherwise(
          floor(lit(1000000.0d) * (num.cast("double") /
            sqrt(va.cast("double") * vb.cast("double")))).cast("long"))
          .as("corr_ppm"))
    }
    folded.select(explode(array(pairRows: _*)).as("p")).select("p.*")
  }

  /**
   * Octave-quantized Population Stability Index (PSI) — the standard
   * model/data drift tripwire (credit-scoring lineage; PSI =
   * Σ_bins (p_i − q_i)·ln(p_i/q_i)) over the log₂-bucket histogram of
   * `value` between two snapshots sharing one table (`sideA` picks
   * snapshot A per row — the ext82 single-scan convention). The
   * engine-exact substitutions: bins are the ext56 integer log₂
   * buckets (`length(bin(v)) − 1`); p, q are Laplace-smoothed ppm
   * shares ((n+1)·10⁶ DIV (N + |bins|), the ext134 smoothing, floored
   * at 1 ppm so a >1e6-row side cannot truncate a rare bucket's share
   * to 0 and NULL the octave ratio); ln →
   * the bit-length octave of the share ratio (`bitlen(ratio_ppm) − 20`,
   * ratio 1 ↦ 0). Contribution signs align ((p−q) and log(p/q) agree),
   * so every per-bin contribution is ≥ 0 and the TOTAL row
   * (bucket = −1) is a monotone drift score. Quantization is the
   * price: octave 0 spans ratio ∈ [0.52, 1.05), so sub-2× share
   * shifts in a bin contribute 0 — this is a ≥one-octave-shift
   * tripwire with exact cross-engine replay, not a fine-grained PSI
   * (documented trade, same family as ext132's HLL estimate).
   *
   * Scale shape: one corpus scan collapses map-side into ≤ 64
   * (bucket, n_a, n_b) rows; everything after is arithmetic on that
   * bounded relation plus a broadcast 1-row total.
   */
  def psiDrift(df: DataFrame, sideA: Column, value: Column): DataFrame =
    psiFromCounts(psiPartials(df, sideA, value))

  /** [[psiDrift]]'s (bucket, n_a, n_b) histogram counts — pure-addition
    * partials, ≤ 64 rows, the per-micro-batch form its streaming twin
    * writes through [[graft.stream.StreamingPipeline.partialsSink]]. */
  def psiPartials(df: DataFrame, sideA: Column, value: Column): DataFrame =
    df.select(
        (length(bin(greatest(value.cast("long"), lit(1L)))) - lit(1))
          .cast("long").as("bucket"),
        when(sideA, 1L).otherwise(0L).as("n_a"),
        when(sideA, 0L).otherwise(1L).as("n_b"))
      .groupBy("bucket")
      .agg(sum("n_a").as("n_a"), sum("n_b").as("n_b"))

  /** The PSI math over a (bucket, n_a, n_b) counts relation — counts
    * are COMMUTATIVE partials (the streaming twin accumulates them per
    * micro-batch and folds here; duplicate bucket keys sum before the
    * share math, so the fold is exact at any batching). */
  def psiFromCounts(rawCounts: DataFrame): DataFrame = {
    val counts = Reuse.shared(rawCounts.groupBy("bucket")
      .agg(sum("n_a").as("n_a"), sum("n_b").as("n_b")))
    val tot = counts.agg(sum("n_a").as("ta"), sum("n_b").as("tb"),
      count(lit(1)).as("nb"))
    // Shares floor at 1 ppm: once a side's total exceeds ~1e6 rows the
    // integer DIV truncates a rare bucket's smoothed share to 0, and a
    // zero q_ppm would NULL the octave (DIV by zero) — silently dropping
    // the MOST drifted one-sided bucket from the bucket=-1 total. The
    // floor keeps the ratio finite and the (p−q)/octave signs aligned.
    val per = Reuse.shared(counts.crossJoin(broadcast(tot))
      .select(col("bucket"), col("n_a"), col("n_b"),
        expr("greatest((1000000 * (n_a + 1)) DIV (ta + nb), 1)")
          .as("p_ppm"),
        expr("greatest((1000000 * (n_b + 1)) DIV (tb + nb), 1)")
          .as("q_ppm"))
      .withColumn("oct2",
        length(expr("bin((1000000 * p_ppm) DIV q_ppm)")).cast("long")
          - 20L)
      .withColumn("psi_contrib",
        (col("p_ppm") - col("q_ppm")) * col("oct2")))
    per.unionByName(per.agg(
        coalesce(sum("psi_contrib"), lit(0L)).as("psi_contrib"),
        coalesce(sum("n_a"), lit(0L)).as("n_a"),
        coalesce(sum("n_b"), lit(0L)).as("n_b"))
      .select(lit(-1L).as("bucket"), col("n_a"), col("n_b"),
        lit(1000000L).as("p_ppm"), lit(1000000L).as("q_ppm"),
        lit(0L).as("oct2"), col("psi_contrib")))
  }
}
