package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._

/**
 * KMV (k-minimum-values) distinct-count sketch, per group.
 *
 * Why KMV instead of HyperLogLog here: the estimate is a pure function of
 * the k smallest distinct hash values, and the hash is the portable md5
 * scheme of [[Hashing]] — so the sketch is DETERMINISTIC and reproducible
 * in any engine (the DuckDB oracle recomputes the same estimate
 * bit-for-bit), unlike `approx_count_distinct`'s engine-private HLL.
 * Estimator (Bar-Yossef et al., "Counting distinct elements in a data
 * stream", RANDOM 2002): with hashes uniform on [0, P), the k-th smallest
 * distinct hash h_k estimates density k/D ≈ h_k/P, so
 * D̂ = (k-1)·P / h_k (the unbiased variant); when a group has fewer than
 * k distinct hashes the sketch IS the exact distinct set, so D̂ = count.
 *
 * Scale shape: one map-side-combined `distinct` on (group, hash) — the
 * only full shuffle, keyed and combine-reduced so duplicates collapse
 * before the exchange — then a per-group sort limited to k rows via
 * `row_number`. The sketch itself (k int64s per group) is mergeable:
 * union two groups' min-k sets and re-take the k smallest — the property
 * that makes KMV work as a partial aggregate or a stored per-partition
 * summary at 100 TB.
 */
object Sketches {

  val DefaultK = 64

  /** Per-group distinct estimate. Output: (entity, n_mins, kth_min,
    * est_distinct, exact_distinct) — exact included for error inspection.
    */
  def kmvDistinct(df: DataFrame, group: Column, value: Column,
      k: Int = DefaultK): DataFrame = {
    val h = Hashing.portableHash32(
      concat(lit("kmv:"), value.cast("string")))
    val pairs = df.select(group.as("entity"), h.as("h")).distinct()
    val w = Window.partitionBy(col("entity")).orderBy(col("h"))
    val mins = pairs
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .groupBy(col("entity"))
      .agg(count(lit(1)).as("n_mins"), max(col("h")).as("kth_min"))
    val exact = df.groupBy(group.as("entity"))
      .agg(countDistinct(value).as("exact_distinct"))
    mins.join(exact, Seq("entity"))
      .select(col("entity"), col("n_mins"), col("kth_min"),
        estCol(k), col("exact_distinct"))
  }

  /**
   * Same sketch as [[kmvDistinct]], computed as a typed bounded
   * [[KmvAgg]] `Aggregator` — the scale path. The window form first
   * materializes and SHUFFLES every distinct (group, hash) pair; this
   * form keeps a ≤k-element sorted buffer per group per map task, so
   * the exchange carries at most k int64s per (group × partition)
   * regardless of cardinality — the partial-aggregation shape that
   * makes a distinct sketch affordable over 100 TB. The two forms are
   * parity-tested (the sketch is a pure function of the hash SET, so
   * merge order cannot change it).
   */
  def kmvDistinctAgg(df: DataFrame, group: Column, value: Column,
      k: Int = DefaultK): DataFrame =
    df.groupBy(group.as("entity"))
      .agg(kmvSummary(value, k).as("s"),
        countDistinct(value).as("exact_distinct"))
      .select(col("entity"), col("s.nMins").as("n_mins"),
        col("s.kthMin").as("kth_min"), estCol(k), col("exact_distinct"))

  /** The sketch as a plain aggregate Column — usable in any `agg()`,
    * including a STREAMING groupBy (the bounded buffer is legal
    * incremental state; parity with batch is StreamingSpec-tested). */
  def kmvSummary(value: Column, k: Int = DefaultK): Column = {
    val h = Hashing.portableHash32(
      concat(lit("kmv:"), value.cast("string")))
    udaf(new KmvAgg(k), Encoders.scalaLong)(h)
  }

  /** D̂ from (n_mins, kth_min): exact below k, (k-1)·P/h_k at k. The
    * numerator folds to one double literal so the estimate is a single
    * IEEE division — bit-identical across engines. */
  private def estCol(k: Int): Column = {
    val numer = (k - 1).toDouble * Hashing.Mersenne31.toDouble
    when(col("n_mins") < k, col("n_mins").cast("double"))
      .otherwise(lit(numer) / col("kth_min").cast("double"))
      .as("est_distinct")
  }

  /**
   * Mergeable log₂-bucket histogram quantiles — the bounded-state scale
   * path beside exact `percentile` (ext24: per-stratum full sort) and
   * the hash-rank sample (ext33): a non-negative value lands in bucket
   * ⌊log₂ v⌋ (0 for v ≤ 1), computed INTEGER-EXACTLY as
   * `length(bin(v)) − 1` — no IEEE log whose rounding could differ
   * between engines. The histogram is a plain count aggregation —
   * map-side combined, ≤ 64 buckets per stratum no matter the data —
   * and each quantile q is answered by the smallest bucket whose
   * cumulative count reaches ⌈q·n⌉, reported as that bucket's inclusive
   * upper bound 2^(b+1) − 1. The estimate is a GUARANTEED upper bound
   * within 2× of the true quantile (the bucket spans one octave) —
   * the spec asserts exactly that envelope.
   *
   * Output: one row per stratum — n_rows, and p<q>_est per requested q.
   */
  def logHistogramQuantiles(df: DataFrame, strata: Seq[String],
      value: Column, qs: Seq[Int] = Seq(50, 90, 99)): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q > 0 && q < 100),
      "quantiles are integer percents in (0, 100)")
    // The cast's floor is INTENTIONAL here (r16 seam sweep): for any
    // v >= 1, floor(v) stays inside v's octave (2^b <= floor(v) <= v
    // when v < 2^(b+1)), so a fractional value lands in the same
    // bucket either way; < 1 clamps to bucket 0. The selection-family
    // casts ([[selectionQuantiles]], budgetSelect) are guarded
    // instead, where a floor DOES move the answer.
    val bucket = (length(bin(greatest(value.cast("long"), lit(1L))))
      - lit(1)).cast("long")
    val hist = df
      .groupBy((strata.map(col) :+ bucket.as("bucket")): _*)
      .agg(count(lit(1)).as("cnt"))
    val byStratum = Window.partitionBy(strata.map(col): _*)
    val cum = hist
      .withColumn("cum",
        sum(col("cnt")).over(byStratum.orderBy(col("bucket"))))
      .withColumn("n", sum(col("cnt")).over(byStratum))
    // ⌈q·n/100⌉ in exact integer arithmetic: (q·n + 99) div 100 —
    // floor of the double division is exact while q·n < 2^53.
    val picks = qs.map { q =>
      val need = floor((col("n") * q + lit(99L)) / lit(100.0d))
        .cast("long")
      min(when(col("cum") >= need, col("bucket"))).as(s"p${q}_bucket")
    }
    cum.groupBy(strata.map(col): _*)
      .agg(max(col("n")).as("n_rows"), picks: _*)
      .select((strata.map(col) :+ col("n_rows")) ++ qs.map { q =>
        expr(s"shiftleft(CAST(1 AS BIGINT), " +
          s"CAST(p${q}_bucket + 1 AS INT)) - 1").as(s"p${q}_est")
      }: _*)
  }

  /**
   * EXACT per-stratum quantiles WITHOUT sorting — distributed
   * selection by search on the VALUE DOMAIN (the classic
   * k-th-order-statistic trick, Munro/Paterson lineage): the q-th
   * quantile is the k-th smallest with k = ⌈q·n/100⌉, and the smallest
   * v with count(≤ v) ≥ k is found by narrowing an integer [lo, hi]
   * interval ([[Sampling.keyedSearch]], one bracket per (stratum, q)),
   * ZERO data shuffles anywhere. This completes the quantile family's
   * trade square: exact `percentile` (ext24) pays a per-stratum sort —
   * at 100 TB an O(n log n) range-shuffle; [[logHistogramQuantiles]]
   * is one pass but only 2×-bounded; the hash-rank sample (ext33) is
   * one pass but approximate; THIS is exact at ~log₆₄(max−min) rounds
   * (~8 for a year of microseconds), each ONE single-stage
   * [[ProbeScan]] pass evaluating every active (stratum, q) probe
   * ladder (each probe keyed to its stratum's group — no join, no
   * row fan-out).
   *
   * Driver state: one (stratum, q) bracket per active search —
   * requires LOW-CARDINALITY strata (lang/source — the ext24
   * assumption). Ties: converges to the smallest value whose
   * cumulative count reaches k — exactly the k-th element of the
   * sorted multiset.
   */
  def selectionQuantiles(df: DataFrame, strata: Seq[String],
      value: Column, qs: Seq[Int] = Seq(50, 90)): DataFrame = {
    require(strata.nonEmpty, "selection quantiles need stratum keys")
    require(qs.nonEmpty && qs.forall(q => q > 0 && q < 100),
      "quantiles are integer percents in (0, 100)")
    // A double value would be silently floored by the cast below,
    // so the reported quantile would be of the FLOORED distribution
    // — refused up front (the r16 cast('long') seam sweep).
    Guards.requireIntegral(df, value, "selectionQuantiles", "value")
    val spark = df.sparkSession
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    import scala.jdk.CollectionConverters._
    // NULL values must not count toward n: they'd inflate k past the
    // reachable cumulative count (no NULL ever satisfies _v <= m) and
    // the search would silently converge to the stratum max.
    // Strata ride as FLAT columns (r18: the probe rounds read them
    // through ProbeScan's internal-row group lookup, which keys on
    // field values — no struct build needed).
    val sNames = strata.indices.map(i => s"_s$i")
    val base = Reuse.shared(df.select(
      strata.zipWithIndex.map { case (c, i) => col(c).as(s"_s$i") } :+
        value.cast("long").as("_v"): _*).where(col("_v").isNotNull))
    val init = base.groupBy(sNames.map(col): _*)
      .agg(count(lit(1)).as("n"), min("_v").as("lo"), max("_v").as("hi"))
      .collect().toSeq
    val nS = strata.size
    val pscan = new ProbeScan(base, sNames, countRows = true)
    pscan.setGroups(init.map(r => (0 until nS).map(r.get)))
    // per (stratum key values, q): the bracket [lo, hi] and k, with
    // the invariant count(< lo) < k <= count(<= hi) — the predicate
    // count(<= v) >= k holds at the stratum max
    val searches = init.flatMap { r =>
      val s = (0 until nS).map(r.get).toList
      val (n, lo, hi) =
        (r.getLong(nS), r.getLong(nS + 1), r.getLong(nS + 2))
      qs.map(q => (s, q) -> ((q.toLong * n + 99L) / 100L, (lo, hi)))
    }
    val kOf = searches.map { case (sq, (k, _)) => sq -> k }.toMap
    val gOf = init.map { r =>
      val s = (0 until nS).map(r.get).toList
      s -> pscan.groupIndex(s)
    }.toMap
    def le(s: List[Any], m: Long): ProbeScan.Spec =
      ProbeScan.Spec(ProbeScan.ValueLe, 0L, m, -1, -1, gOf(s))
    val found = Sampling.keyedSearch[(List[Any], Int)](
      searches.map { case (sq, (_, br)) => sq -> br }.toMap,
      Sampling.minProbes, Sampling.minUpdate, ladders => {
        val cnt = pscan.sumsBySpec(ladders.flatMap { case ((s, _), ms) =>
          ms.map(le(s, _)) })
        ladders.map { case (sq @ (s, _), ms) =>
          sq -> ms.map(m => cnt(le(s, m)) >= kOf(sq)) }.toMap
      })
    val outSchema = StructType(
      strata.map(c => StructField(c, df.schema(c).dataType)) ++ Seq(
        StructField("q", LongType), StructField("value", LongType)))
    spark.createDataFrame(
      searches.map { case (sq @ (s, q), _) =>
        Row.fromSeq(s ++ Seq(q.toLong, found(sq)))
      }.asJava, outSchema)
  }

  /**
   * Per-batch partials for the STREAMING selection-quantile twin
   * (r13 verdict item 6): a (strata…, _v, cnt) value-count table.
   * Value counts are pure ADDITION partials — micro-batches fold by
   * summing, shards merge the same way — which is exactly what the
   * bisection cannot be (its probe mids depend on the whole corpus,
   * so its rounds don't decompose over batches). State is bounded by
   * |strata| × |distinct values| (length-like domains: thousands),
   * the vocab-bounded discipline of the LM/BPE/spectrum sinks — NOT
   * by corpus size. NULLs are excluded here, matching
   * [[selectionQuantiles]]' n.
   */
  def selectionValueCounts(df: DataFrame, strata: Seq[String],
      value: Column): DataFrame = {
    // Same integral contract as the batch bisection — a double value
    // flooring HERE would silently diverge the streamed twin from a
    // batch run over the same frame (r16 cast('long') seam sweep).
    Guards.requireIntegral(df, value, "selectionValueCounts", "value")
    df.select(strata.map(col) :+ value.cast("long").as("_v"): _*)
      .where(col("_v").isNotNull)
      .groupBy(strata.map(col) :+ col("_v"): _*)
      .agg(count(lit(1)).as("cnt"))
  }

  /**
   * Exact selection quantiles from a (possibly unfolded) value-count
   * table — the serve side of the streaming twin. Duplicate (stratum,
   * value) rows from different batches fold by summing; the quantile
   * is then ONE cumulative-count rank pass over the compact table
   * (per-stratum window over ≤ |distinct values| rows — no corpus
   * rescans at all, where the batch bisection pays ~⌈log₂(hi−lo)⌉ of
   * them). Ties resolve identically to [[selectionQuantiles]]: the
   * smallest value whose cumulative count reaches k = ⌈q·n/100⌉
   * (`100·cum ≥ q·n` is that inequality in overflow-safe int64 —
   * values ≤ 2^53 and counts ≤ 2^46 keep the products exact).
   */
  def selectionQuantilesFromCounts(counts: DataFrame,
      strata: Seq[String], qs: Seq[Int] = Seq(50, 90)): DataFrame = {
    require(strata.nonEmpty, "selection quantiles need stratum keys")
    require(qs.nonEmpty && qs.forall(q => q > 0 && q < 100),
      "quantiles are integer percents in (0, 100)")
    val folded = counts.groupBy(strata.map(col) :+ col("_v"): _*)
      .agg(sum("cnt").as("cnt"))
    val byStratum = Window.partitionBy(strata.map(col): _*)
    val cum = folded
      .withColumn("cum", sum("cnt").over(byStratum.orderBy(col("_v"))))
      .withColumn("n", sum("cnt").over(byStratum))
    cum
      .withColumn("q", explode(array(qs.map(q => lit(q.toLong)): _*)))
      .filter(col("cum") * 100 >= col("q") * col("n"))
      .groupBy(strata.map(col) :+ col("q"): _*)
      .agg(min(col("_v")).as("value"))
  }

  /** Count-Min sketch geometry. Width × depth = 4096 counters — the
    * whole sketch is a broadcast-sized artifact at ANY corpus size;
    * depth-4 rows drive the union-explode and the per-token min. The
    * SAME constants interpolate into the ext98 oracle. */
  val CmsWidth = 1024
  val CmsDepth = 4

  /** Row-j bucket of a [[graft.ops.Hashing.portableHash32]] value —
    * the universal-hash family the MinHash signatures already use
    * (seeds shared via [[Hashing.seedA]]/[[Hashing.seedB]]), reduced
    * mod width. Engine-portable exact integer arithmetic. */
  def cmsBucket(th: Column, j: Int): Column =
    ((th * lit(Hashing.seedA(j)) + lit(Hashing.seedB(j)))
      % lit(Hashing.Mersenne31)) % lit(CmsWidth.toLong)

  /**
   * Count-Min counter table over a token stream: `(j, bucket, cnt)`,
   * ≤ depth × width rows — the classic mergeable heavy-hitter sketch
   * (Cormode & Muthukrishnan). Counters are pure sums, so the sketch
   * is its own algebraic partial: micro-batches' counter tables sum
   * cell-wise ([[countMinMerge]]), shards merge the same way, and the
   * artifact a serving layer probes is 4096 longs no matter whether
   * the corpus was 5 thousand or 5 trillion tokens. One explode ×
   * depth rows per token instance, map-side combined into ≤ 4096
   * groups per task.
   */
  def countMinCounters(doc: DataFrame, text: String = "text"): DataFrame =
    doc.select(explode(TextOps.tokens(col(text))).as("tok"))
      .select(Hashing.portableHash32(col("tok")).as("th"))
      .select(explode(array((0 until CmsDepth).map(j =>
        struct(lit(j).as("j"), cmsBucket(col("th"), j).as("bucket"))): _*))
        .as("jb"))
      .select(col("jb.j").as("j"), col("jb.bucket").as("bucket"))
      .groupBy("j", "bucket").agg(count(lit(1)).as("cnt"))

  /** Cell-wise sum of counter tables — the merge that makes the sketch
    * shardable and streamable (duplicate (j, bucket) keys add). */
  def countMinMerge(counters: DataFrame): DataFrame =
    counters.groupBy("j", "bucket").agg(sum(col("cnt")).as("cnt"))

  /** Point estimates off a counter table for the given distinct-token
    * relation (column `tok`): est = min over rows of the row's bucket
    * counter — the CMS guarantee is est ≥ true count always, with
    * overestimate bounded by the collision mass per bucket. */
  def countMinEstimates(tokens: DataFrame,
      counters: DataFrame): DataFrame =
    tokens.select(col("tok"), Hashing.portableHash32(col("tok")).as("th"))
      .select(col("tok"), explode(array((0 until CmsDepth).map(j =>
        struct(lit(j).as("j"), cmsBucket(col("th"), j).as("bucket"))): _*))
        .as("jb"))
      .select(col("tok"), col("jb.j").as("j"), col("jb.bucket").as("bucket"))
      .join(broadcast(countMinMerge(counters)), Seq("j", "bucket"))
      .groupBy("tok").agg(min(col("cnt")).as("est"))

  /**
   * The sketch priced, ext54/88-style: the exact top-k tokens (the
   * ground truth a heavy-hitter sketch exists to approximate) beside
   * their CMS estimates, with the overestimate in ppm of the true
   * count. `est >= exact` ALWAYS (the one-sided CMS guarantee — the
   * spec asserts it); the audit's number is how much collision mass
   * the 4096-cell budget costs at this corpus' token skew.
   */
  def countMinAccuracyAudit(doc: DataFrame, k: Int = 20,
      text: String = "text"): DataFrame = {
    val counters = countMinCounters(doc, text)
    val top = doc.select(explode(TextOps.tokens(col(text))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("exact"))
      .orderBy(col("exact").desc, col("tok").asc)
      .limit(k)
    top.join(countMinEstimates(top.select("tok"), counters), "tok")
      .withColumn("err_ppm", expr("((est - exact) * 1000000) DIV exact"))
      .select("tok", "exact", "est", "err_ppm")
      .orderBy(col("exact").desc, col("tok").asc)
  }

  // ---- Bloom filter membership -----------------------------------------

  /** Bloom geometry: m bits, k hash functions (the BFF/Dolma-style
    * dedup/decontamination filter runs exactly this shape at ~10^12
    * bits). Constants interpolate into the ext102 oracle. At the test
    * corpus' ~10^4 member shingles this m gives a deliberately
    * MEASURABLE per-probe false-positive rate (fill ~0.3, fpr ~3%) —
    * the audit exists to price it, not hide it. */
  val BloomM = 32768L
  val BloomK = 3

  /** j-th bloom bit position of a [[Hashing.portableHash32]] value —
    * the same universal-hash family as MinHash/CMS, reduced mod m. */
  def bloomPos(h: Column, j: Int, m: Long = BloomM): Column =
    ((h * lit(Hashing.seedA(j)) + lit(Hashing.seedB(j)))
      % lit(Hashing.Mersenne31)) % lit(m)

  /** The set-bit relation of a Bloom filter over a key-hash set (column
    * `h`): ≤ min(m, k·|keys|) distinct `bit` rows. This is THE stored
    * membership artifact — m bits (4 KiB here, ~128 GiB for a
    * trillion-key production filter is still one broadcast per
    * executor), mergeable by union, never the keys themselves. */
  def bloomBits(keys: DataFrame, m: Long = BloomM,
      k: Int = BloomK): DataFrame =
    keys.select(explode(array((0 until k).map(j =>
      bloomPos(col("h"), j, m)): _*)).as("bit")).distinct()

  /**
   * Bloom-probed decontamination, priced against the exact probe — the
   * sketch-vs-truth audit of the [[graft.ops.Dedup.benchmarkOverlap]]
   * decision (ext32) when the benchmark membership set is carried as a
   * Bloom filter instead of the exact hash set (the BFF trade: O(m)
   * bits regardless of key count, one-sided error). Per corpus doc the
   * SAME overlap-fraction ≥ threshold flag is computed both ways; the
   * one-row card reports doc-flag agreement and the shingle-level
   * false-positive rate (a bloom hit on a non-member probe). No false
   * negatives is structural — member positions are set by construction
   * — so flagged_bloom ⊇ flagged_exact always (spec-asserted).
   *
   * Scale shape: ONE corpus shingle pass; the k position probes ride
   * the scan as a k-row explode joined against the BROADCAST bit set —
   * the corpus never shuffles for membership, only the per-doc counts
   * do (ext32's shape). Card columns: docs probed, exact/bloom doc
   * flags, doc false positives, shingle probes, non-member probes,
   * shingle false positives, fpr ppm, bits set.
   */
  /** The per-doc bloom-vs-exact probe: (id, distinct shingles, exact
    * member count, bloom-hit count) against a PRECOMPUTED membership
    * set + bit set — the relation the audit card aggregates, and what
    * the streaming twin (ext102, under
    * [[graft.stream.StreamingPipeline.partialsSink]]) scores per
    * micro-batch (each doc arrives whole; both probe sides are static
    * artifacts, so streamed rows equal the batch operator's at any
    * batching). At a stream's scale the bit set is the point: O(m) bits
    * however many keys the suite grows to. */
  def bloomPerDoc(corpus: DataFrame, benchH: DataFrame, bits: DataFrame,
      id: String = "doc_id", text: String = "text", n: Int = 3,
      m: Long = BloomM, k: Int = BloomK): DataFrame = {
    val ch = Dedup.distinctDocShingles(corpus, id, text, n)
    val probed = ch
      .select(col(id), col("h"), explode(array((0 until k).map(j =>
        bloomPos(col("h"), j, m)): _*)).as("bit"))
      .join(broadcast(bits.withColumn("_b", lit(1L))), Seq("bit"), "left")
      .groupBy(col(id), col("h"))
      .agg((count(col("_b")) === k).cast("long").as("bloom_hit"))
    probed
      .join(broadcast(benchH.withColumn("_in", lit(1L))), Seq("h"), "left")
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_sh"),
        sum(when(col("_in").isNotNull, 1L).otherwise(0L)).as("n_exact"),
        sum(col("bloom_hit")).as("n_bloom"))
  }

  /**
   * Bloom semi-join reduction (ext168) — the shuffle-cutting join
   * pattern: fold the dim side's join keys into an m-bit Bloom
   * LITERAL (m/64 int64 words — 4 KiB here, megabytes in production:
   * always broadcastable), probe every fact row INSIDE the scan with
   * k codegen'd bit tests, and only survivors reach the exchange.
   * This is what Spark's own runtime bloom-join rewrite does, made
   * explicit and deterministic (portable hashes, so the DuckDB oracle
   * replays the probe bit for bit). No false negatives is structural
   * — member keys set their own bits — so the post-probe exact join
   * equals the plain join (the parity law, spec-asserted); false
   * positives only waste shuffle, priced here as fpr_ppm.
   *
   * [[bloomSemiJoin]] returns the pre-filtered fact for composition;
   * the LEDGER prices the reduction: fact/dim cardinalities, rows
   * passing the probe, true matches, false passes, the structural
   * false_neg tripwire (always 0), per-non-member fpr, bits set.
   *
   * The driver folds the dim bit set once (a bounded artifact, the
   * plan-time-literal discipline of the LSH hyperplanes); at 100 TB
   * the dim scan is one pass and the fact side never shuffles a row
   * the dim cannot match (minus fpr).
   */
  def bloomSemiJoin(fact: DataFrame, dim: DataFrame, factKey: Column,
      dimKey: Column, m: Long = BloomM, k: Int = BloomK): DataFrame = {
    requireMatchingKeyTypes(fact, dim, factKey, dimKey, "bloomSemiJoin")
    fact.filter(bloomProbeLit(dimBitWords(dim, dimKey, m, k)._1,
      factKey, m, k))
  }

  /** Both probe sides hash the key's STRING rendering, so the
    * structural no-false-negatives law needs both renderings to agree:
    * an int fact key vs a double dim key ("5" vs "5.0") would hash
    * apart and silently drop true matches. Reject mismatched key
    * types loudly; callers cast both sides to one type explicitly
    * (r14 ADVICE). */
  private def requireMatchingKeyTypes(fact: DataFrame, dim: DataFrame,
      factKey: Column, dimKey: Column, who: String): Unit = {
    val ft = fact.select(factKey).schema.head.dataType
    val dt = dim.select(dimKey).schema.head.dataType
    require(ft == dt, s"$who requires fact and dim keys of the SAME " +
      s"data type (string renderings must agree for the no-false-" +
      s"negative law); got $ft vs $dt — cast both sides explicitly")
  }

  /** The folded dim-side bit words + set-bit count — built
    * DISTRIBUTED: each partition ORs its keys' bits into a local word
    * array, arrays merge by bit-OR (`treeAggregate`, the same shape as
    * Spark's own BloomFilterAggregate). The driver receives m/64-long
    * arrays, never per-bit rows — at 2M keys this replaced a 5.2M-row
    * collect that cost more than the join it was meant to save
    * (measured in the r14 scale smoke; the RDD aggregate is the one
    * genuinely imperative per-partition kernel here). Position
    * arithmetic is byte-identical to [[bloomPos]] — parity is
    * spec-asserted against the relational [[bloomBits]]. */
  private[graft] def dimBitWords(dim: DataFrame, dimKey: Column,
      m: Long, k: Int): (Array[Long], Long) = {
    require(m % 64 == 0, s"bloom bits must fill whole words, got $m")
    val nw = (m / 64).toInt
    val seeds = (0 until k).map(j => (Hashing.seedA(j), Hashing.seedB(j)))
    val words = dim.select(bsjHash(dimKey).cast("long").as("h"))
      .rdd.treeAggregate(new Array[Long](nw))(
        (acc, row) => {
          if (!row.isNullAt(0)) {
            val h = row.getLong(0)
            seeds.foreach { case (a, b) =>
              val pos = ((h * a + b) % Hashing.Mersenne31) % m
              acc((pos / 64).toInt) |= (1L << (pos % 64).toInt)
            }
          }
          acc
        },
        (a, b) => {
          var i = 0
          while (i < nw) { a(i) |= b(i); i += 1 }
          a
        })
    (words, words.map(java.lang.Long.bitCount(_).toLong).sum)
  }

  private def bsjHash(key: Column): Column =
    Hashing.portableHash32(concat(lit("bsj:"), key.cast("string")))

  /** The k-bit-test probe against the plan-time word array — ONE
    * native codegen'd kernel ([[graft.functions.BloomProbe]]): the md5
    * base hash evaluates once per row, the k positions and bit tests
    * fuse (the composed element_at(lit(words), …) column form paid the
    * hash ~6× per row through expression-tree duplication — measured
    * slower than the join it was pruning). */
  private def bloomProbeLit(words: Array[Long], key: Column, m: Long,
      k: Int): Column =
    graft.functions.BloomProbe(bsjHash(key).cast("long"), words, m,
      (0 until k).map(Hashing.seedA).toArray,
      (0 until k).map(Hashing.seedB).toArray)

  def bloomSemiJoinLedger(fact: DataFrame, dim: DataFrame,
      factKey: Column, dimKey: Column, m: Long = BloomM,
      k: Int = BloomK): DataFrame = {
    // Same key expressions as [[bloomSemiJoin]] — no extra cast: a
    // long-canonicalized ledger would measure a DIFFERENT filter than
    // the one bloomSemiJoin runs (and null out non-numeric keys
    // entirely), so its fpr/false_neg rows would describe a filter
    // that was never applied (r14 ADVICE).
    requireMatchingKeyTypes(fact, dim, factKey, dimKey,
      "bloomSemiJoinLedger")
    val dimKeys = Reuse.shared(
      dim.select(dimKey.as("_dk")).distinct())
    val (words, bitsSet) = dimBitWords(dimKeys, col("_dk"), m, k)
    val probed = fact
      .select(factKey.as("_k"))
      .withColumn("_pass",
        bloomProbeLit(words, col("_k"), m, k).cast("long"))
      .join(broadcast(dimKeys.withColumn("_in", lit(1L))),
        col("_k") === col("_dk"), "left")
    val z = (c: Column, n: String) => coalesce(c, lit(0L)).as(n)
    probed.agg(
        count(lit(1)).as("fact_rows"),
        z(sum(when(col("_in").isNotNull, 1L).otherwise(0L)), "matched"),
        z(sum(col("_pass")), "passed"),
        z(sum(when(col("_in").isNull && col("_pass") === 1L, 1L)
          .otherwise(0L)), "false_passed"),
        // structural zero: a member key failing its own bits would be
        // a broken filter — a tripwire column, not a statistic
        z(sum(when(col("_in").isNotNull && col("_pass") === 0L, 1L)
          .otherwise(0L)), "false_neg"))
      .crossJoin(broadcast(
        dimKeys.agg(count(lit(1)).as("dim_keys"))))
      .select(col("fact_rows"), col("dim_keys"), col("matched"),
        col("passed"), col("false_passed"), col("false_neg"),
        expr("(false_passed * 1000000)" +
          " DIV greatest(fact_rows - matched, 1)").as("fpr_ppm"),
        lit(bitsSet).as("bits_set"))
  }

  def bloomContaminationAudit(corpus: DataFrame, bench: DataFrame,
      id: String = "doc_id", text: String = "text", n: Int = 3,
      threshold: Double = 0.8, m: Long = BloomM,
      k: Int = BloomK): DataFrame = {
    val benchH = Reuse.shared(Dedup.benchmarkShingles(bench, id, text, n))
    // Consumed by the probe join AND the bits_set count — built once.
    val bits = Reuse.shared(bloomBits(benchH, m, k))
    val perDoc = bloomPerDoc(corpus, benchH, bits, id, text, n, m, k)
    val frac = (c: Column, tot: Column) => c.cast("double") / tot.cast("double")
    // coalesce: SUM over an empty corpus is SQL NULL — the card must
    // stay one well-defined all-zero row (EmptyInputSpec discipline).
    val z = (c: Column, n: String) => coalesce(c, lit(0L)).as(n)
    perDoc.agg(
        count(lit(1)).as("n_docs"),
        z(sum((frac(col("n_exact"), col("n_sh")) >= threshold)
          .cast("long")), "docs_flagged_exact"),
        z(sum((frac(col("n_bloom"), col("n_sh")) >= threshold)
          .cast("long")), "docs_flagged_bloom"),
        z(sum(((frac(col("n_bloom"), col("n_sh")) >= threshold) &&
          !(frac(col("n_exact"), col("n_sh")) >= threshold))
          .cast("long")), "docs_false_pos"),
        z(sum(col("n_sh")), "shingle_probes"),
        z(sum(col("n_sh") - col("n_exact")), "nonmember_probes"),
        z(sum(col("n_bloom") - col("n_exact")), "shingle_fp"))
      .crossJoin(broadcast(bits.agg(count(lit(1)).as("bits_set"))))
      .withColumn("fpr_ppm",
        when(col("nonmember_probes") === 0L, 0L)
          .otherwise(expr("(shingle_fp * 1000000) DIV nonmember_probes")))
  }

  // ---- HyperLogLog distinct --------------------------------------------

  /** HLL geometry (Flajolet et al., "HyperLogLog: the analysis of a
    * near-optimal cardinality estimation algorithm", AofA 2007): p = 8
    * → m = 256 registers. The portable 31-bit hash splits into register
    * index `h mod m` (low 8 bits) and a 23-bit suffix `w = h div m`;
    * the register rank ρ is the leading-zero count of w in 23 bits plus
    * one, ρ ∈ [1, 24] (ρ = 24 ⇔ w = 0). KMV ([[kmvDistinct]]) holds the
    * k smallest distinct hashes — state k int64s and a distinct pass;
    * HLL's state is m BYTES, FIXED regardless of group cardinality, and
    * needs no distinct at all (register max absorbs duplicates) — which
    * is why it is THE production distinct sketch. The usual objection
    * (engine-private hashing makes `approx_count_distinct` estimates
    * unreproducible) does not apply here: registers derive from the
    * portable md5 hash, so the DuckDB oracle recomputes the SAME
    * registers and the SAME estimate bit-for-bit (the scaled harmonic
    * sum is an exact integer — see [[hllEstimateFromRegisters]]).
    * Saturation boundary: a 31-bit hash space caps the raw estimator
    * around 2^31/30 ≈ 7·10⁷ distinct per group before hash collisions
    * bias it — per-GROUP cardinalities at 100 TB (users per event type,
    * tokens per shard) sit well inside; a whole-corpus single-group
    * count at trillions would want the 64-bit-hash variant instead. */
  val HllM = 256
  val HllRhoMax = 24 // (31 − log₂ m) suffix bits + 1

  /** α_m·m²·2^24 — the harmonic-mean numerator folded to ONE double
    * literal shared textually with the ext132 oracle SQL, so the raw
    * estimate is a single IEEE division in both engines. */
  val HllAlphaNum: Double =
    0.7213 / (1.0 + 1.079 / HllM) * HllM * HllM * (1L << HllRhoMax).toDouble

  /** Domain-tagged portable hash, the kmv:/mh: convention. */
  private def hllHash(value: Column): Column =
    Hashing.portableHash32(concat(lit("hll:"), value.cast("string")))

  /** ρ of the 23-bit suffix w — integer-exact via `length(bin(w))`
    * (minimal binary, the ext56 engine-portable bit-length idiom). */
  private def hllRho(w: Column): Column =
    when(w === 0L, lit(HllRhoMax.toLong))
      .otherwise(lit(HllRhoMax.toLong) - length(bin(w)).cast("long"))

  /** The register relation of a per-group HLL: (entity, idx, ρ_max) —
    * ≤ m rows per group. This is the sketch AS A RELATION: mergeable by
    * union + re-max (shards, snapshots, micro-batches), storable beside
    * a shard manifest, and the shape the oracle replays. No distinct
    * pass: max absorbs duplicates, so the one wide exchange carries ≤ m
    * rows per (group × map task) after partial aggregation — at 100 TB
    * the shuffle is bounded by groups × 256 rows no matter how many
    * billion values each group holds. */
  def hllRegisters(df: DataFrame, group: Column, value: Column): DataFrame = {
    val h = hllHash(value)
    df.select(group.as("entity"), h.as("h"))
      .select(col("entity"), (col("h") % HllM.toLong).as("idx"),
        hllRho(shiftright(col("h"), 8)).as("rho"))
      .groupBy("entity", "idx").agg(max("rho").as("rho"))
  }

  /** est_distinct from (v_zero, harmonic_scaled): the raw harmonic
    * estimate α_m·m²·2^24 / S', switching to linear counting
    * m·ln(m/V) in Flajolet's small-range regime (E ≤ 2.5m with empty
    * registers remaining). One shared literal numerator; both engines
    * run the identical flop sequence. */
  private def hllEstCol: Column = {
    val estRaw = lit(HllAlphaNum) / col("harmonic_scaled").cast("double")
    when(estRaw <= lit(2.5 * HllM) && col("v_zero") > 0L,
      lit(HllM.toDouble)
        * log(lit(HllM.toDouble) / col("v_zero").cast("double")))
      .otherwise(estRaw).as("est_distinct")
  }

  /** Estimate card from a register relation. `harmonic_scaled` is the
    * harmonic sum scaled by 2^24: every addend 2^(24−ρ) is a whole
    * number (ρ ≤ 24), so the sum is an EXACT int64 — order-independent
    * and integer-comparable across engines; the float division happens
    * once at the end. Empty registers contribute 2^24 each (2^−0
    * unscaled), folded in arithmetically from v_zero. */
  def hllEstimateFromRegisters(regs: DataFrame): DataFrame =
    regs.groupBy("entity")
      .agg(count(lit(1)).as("n_hit"),
        sum(expr(s"shiftleft(CAST(1 AS BIGINT), " +
          s"CAST($HllRhoMax - rho AS INT))")).as("hit_scaled"))
      .select(col("entity"),
        (lit(HllM.toLong) - col("n_hit")).as("v_zero"),
        (col("hit_scaled")
          + (lit(HllM.toLong) - col("n_hit")) * lit(1L << HllRhoMax))
          .as("harmonic_scaled"))
      .select(col("entity"), col("v_zero"), col("harmonic_scaled"),
        hllEstCol)

  /** Per-group HLL distinct estimate, relational form (+ exact for
    * error inspection, the ext21 convention — drop the exact join at
    * production scale, it is the audit not the sketch). */
  def hllDistinct(df: DataFrame, group: Column, value: Column): DataFrame =
    hllEstimateFromRegisters(hllRegisters(df, group, value))
      .join(df.groupBy(group.as("entity"))
        .agg(countDistinct(value).as("exact_distinct")), Seq("entity"))

  /** The sketch as a plain aggregate Column — m bytes of buffer per
    * group per task, elementwise-max merged; legal bounded streaming
    * state exactly like [[kmvSummary]] (StreamingSpec parity-tests the
    * two paths). */
  def hllSummary(value: Column): Column =
    udaf(new HllAgg(), Encoders.scalaLong)(hllHash(value))

  /** [[hllDistinct]] as the typed-Aggregator scale path: one groupBy,
    * the exchange carries one 256-byte register array per (group × map
    * task). Parity with the relational form is spec-asserted (the
    * sketch is a pure function of the hash set). */
  def hllDistinctAgg(df: DataFrame, group: Column, value: Column): DataFrame =
    df.groupBy(group.as("entity"))
      .agg(hllSummary(value).as("s"),
        countDistinct(value).as("exact_distinct"))
      .select(col("entity"), col("s.vZero").as("v_zero"),
        col("s.harmonicScaled").as("harmonic_scaled"),
        col("exact_distinct"))
      .select(col("entity"), col("v_zero"), col("harmonic_scaled"),
        hllEstCol, col("exact_distinct"))
}

/** Sketch summary: how many mins are held (< k ⇒ the set is exact) and
  * the k-th smallest distinct hash. */
case class KmvSummary(nMins: Long, kthMin: Long)

/**
 * Bounded KMV buffer: the ≤k smallest DISTINCT hash values, kept sorted
 * ascending. `merge` = union → distinct → k smallest, which is
 * associative, commutative and idempotent-per-value — the result is a
 * pure function of the input hash set, independent of partitioning and
 * merge order. State is at most k int64s, so map-side partial
 * aggregation bounds both memory and shuffle bytes.
 */
class KmvAgg(k: Int) extends Aggregator[Long, Seq[Long], KmvSummary] {
  require(k > 1)

  override def zero: Seq[Long] = Vector.empty

  override def reduce(b: Seq[Long], h: Long): Seq[Long] =
    if (b.contains(h)) b
    else if (b.size < k) insert(b, h)
    else if (h < b.last) insert(b.init, h)
    else b

  private def insert(b: Seq[Long], h: Long): Seq[Long] = {
    val i = b.indexWhere(_ > h) match {
      case -1 => b.size
      case n  => n
    }
    (b.take(i) :+ h) ++ b.drop(i)
  }

  override def merge(b1: Seq[Long], b2: Seq[Long]): Seq[Long] =
    (b1 ++ b2).distinct.sorted.take(k)

  override def finish(r: Seq[Long]): KmvSummary =
    KmvSummary(r.size.toLong, if (r.isEmpty) 0L else r.last)

  override def bufferEncoder: Encoder[Seq[Long]] =
    ExpressionEncoder[Seq[Long]]()
  override def outputEncoder: Encoder[KmvSummary] =
    ExpressionEncoder[KmvSummary]()
}

/** HLL sketch summary: empty-register count V and the 2^24-scaled
  * harmonic sum (an exact int64 — see
  * [[Sketches.hllEstimateFromRegisters]]). */
case class HllSummary(vZero: Long, harmonicScaled: Long)

/**
 * HyperLogLog register buffer: m = 256 bytes holding each register's
 * max rank, FIXED-size regardless of how many values the group holds.
 * `reduce` is a register max (duplicates are absorbed — no distinct
 * pass exists anywhere in the sketch), `merge` is elementwise max —
 * associative, commutative and idempotent, so the registers are a pure
 * function of the input hash SET, independent of partitioning, merge
 * order and replay. That merge law is what makes the sketch shardable
 * (per-shard registers union by max), streamable (bounded state per
 * group) and storable (256 bytes per group in a manifest, re-mergeable
 * forever).
 */
class HllAgg extends Aggregator[Long, Array[Byte], HllSummary] {
  private val m = Sketches.HllM

  override def zero: Array[Byte] = new Array[Byte](m)

  override def reduce(b: Array[Byte], h: Long): Array[Byte] = {
    val idx = (h % m).toInt
    val w = h >>> 8
    val rho = (if (w == 0L) Sketches.HllRhoMax
      else Sketches.HllRhoMax
        - (64 - java.lang.Long.numberOfLeadingZeros(w))).toByte
    if (rho > b(idx)) b(idx) = rho
    b
  }

  override def merge(a: Array[Byte], c: Array[Byte]): Array[Byte] = {
    var i = 0
    while (i < m) { if (c(i) > a(i)) a(i) = c(i); i += 1 }
    a
  }

  override def finish(r: Array[Byte]): HllSummary = {
    var v = 0L
    var s = 0L
    var i = 0
    while (i < m) {
      val rho = r(i)
      if (rho == 0) v += 1L
      // rho = 0 (empty) contributes 2^24 — the unscaled 2^-0 addend.
      s += 1L << (Sketches.HllRhoMax - rho)
      i += 1
    }
    HllSummary(v, s)
  }

  override def bufferEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  override def outputEncoder: Encoder[HllSummary] =
    ExpressionEncoder[HllSummary]()
}
