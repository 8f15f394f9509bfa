package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/**
 * Deterministic dataset splitting — the train/val/test assignment step of
 * a training-data pipeline.
 *
 * Why hash-based and not `randomSplit`: at 100 TB the split must be (a)
 * reproducible across reruns and engines (no RNG, no partition-order
 * dependence), (b) stable under re-partitioning and incremental appends
 * (a document keeps its split forever, so later pipeline runs never leak
 * val/test docs into train), and (c) a pure per-row projection — no
 * shuffle, no state, stays inside the scan's WholeStageCodegen span.
 * `randomSplit` gives none of these. The portable md5 scheme of
 * [[Hashing]] makes the same assignment computable in any engine (the
 * DuckDB oracle checks it row by row).
 *
 * The salt namespaces the split: different salts give independent
 * assignments of the same ids (e.g. one per experiment).
 */
object Splits {

  /** Adds `bucket` (0..99, hash of salt:id) and `split`
    * (train/val/test by bucket cutoffs). */
  def assign(df: DataFrame, id: Column, salt: String = "split",
      trainPct: Int = 90, valPct: Int = 5): DataFrame = {
    require(trainPct + valPct <= 100, "train+val percent must be <= 100")
    val bucket =
      Hashing.portableHash32(concat(lit(salt + ":"), id.cast("string"))) %
        lit(100L)
    df.withColumn("bucket", bucket)
      .withColumn("split",
        when(col("bucket") < trainPct, lit("train"))
          .when(col("bucket") < trainPct + valPct, lit("val"))
          .otherwise(lit("test")))
  }

  /**
   * Leakage-safe split: every member of a near-dup cluster hashes the
   * CLUSTER's canonical id (its min member, from
   * [[Components.connectedComponents]] over the detector's pair graph),
   * so no near-duplicate pair can ever straddle train/val/test — the
   * contamination [[assign]] alone cannot prevent (two near-dup docs
   * hash independently and land in different splits ~10% of the time at
   * 90/5/5). Docs outside any pair keep their own id as the key, so
   * their assignment is IDENTICAL to plain [[assign]] — adopting the
   * leakage-safe form re-splits only the clustered minority.
   *
   * Scale shape: the cluster map is |clustered docs| rows — a tiny
   * fraction of the corpus (broadcast-able left join; Catalyst/AQE picks
   * broadcast when it fits); the assignment itself stays a pure
   * projection. The pair graph is whatever near-dup detector the
   * pipeline already ran (MinHash-LSH, SimHash, embedding-cosine).
   */
  def assignLeakageSafe(doc: DataFrame, pairs: DataFrame,
      id: String = "doc_id", salt: String = "split",
      trainPct: Int = 90, valPct: Int = 5): DataFrame =
    assignLeakageSafeFromClusters(doc,
      Components.connectedComponents(pairs).withColumnRenamed("id", id),
      id, salt, trainPct, valPct)

  /** [[assignLeakageSafe]] against a PREBUILT cluster map
    * `(id, cluster_id)` — the composition entry point for pipelines that
    * keep the dedup clustering as a stored artifact (see
    * [[Reuse.index]]) instead of re-running detector + components per
    * consumer. */
  def assignLeakageSafeFromClusters(doc: DataFrame, clusters: DataFrame,
      id: String = "doc_id", salt: String = "split",
      trainPct: Int = 90, valPct: Int = 5): DataFrame = {
    val keyed = doc.join(clusters, Seq(id), "left")
      .withColumn("split_key", coalesce(col("cluster_id"), col(id)))
      .drop("cluster_id")
    assign(keyed, col("split_key"), salt, trainPct, valPct)
  }

  /**
   * Deterministic shard assignment + within-shard sequence — the
   * training-shard writer shape: `shard` is the portable hash of the id
   * mod `nShards` (stable across reruns, engines and appends — a doc
   * never migrates shards), `seq` ranks the shard's members by
   * (hash draw, id), so each shard's internal order is a reproducible
   * hash-shuffle rather than corpus order (consecutive crawl docs are
   * correlated; training wants them dispersed).
   *
   * Scale shape: ONE keyed shuffle on `shard` + a per-shard sort —
   * exactly `repartition(nShards, shard).sortWithinPartitions(draw, id)`
   * on the write path; nShards bounds the parallelism of the final
   * write, not any intermediate state. No global ordering anywhere.
   */
  /**
   * Mass-balanced leakage-safe k-fold assignment (grouped k-fold) —
   * the cross-validation / held-out-eval builder: every near-dup group
   * lands wholly in ONE fold (no pair straddles folds), and fold
   * MASSES are balanced rather than merely proportional-in-expectation
   * the way [[assign]]'s hash buckets are.
   *
   * Exact mass balance needs a total order over groups — a non-starter
   * at corpus scale. But fold imbalance is driven almost entirely by
   * the heavy HEAD of the group-mass distribution: hashing balances
   * the long tail to sampling noise, while ONE crawl-dup mega-cluster
   * assigned by hash can skew a fold by percent. So the heaviest
   * `headSize` groups — the only relation ever globally ordered,
   * bounded by construction (TakeOrdered) — are dealt round the folds
   * in serpentine (boustrophedon) order: ranks 1..k left-to-right,
   * k+1..2k right-to-left, …, pairing heavy with light
   * deterministically; every tail group hashes `salt:group_key` mod k
   * (stable under appends — a tail group never migrates folds when new
   * groups arrive; head membership is a corpus-snapshot property, like
   * every stored artifact here).
   *
   * Scale shape: one map-side-combined groupBy for group masses, a
   * TakeOrdered(headSize) head ranked within its own ≤headSize rows,
   * a broadcast join of the head back onto docs, and a codegen'd hash
   * projection for the rest. No global sort, no driver loop.
   */
  def balancedFolds(doc: DataFrame, clusters: DataFrame, k: Int,
      mass: Column, headSize: Int = 64, id: String = "doc_id",
      salt: String = "fold"): DataFrame = {
    require(k >= 2, "need at least two folds")
    val keyed = doc.join(clusters, Seq(id), "left")
      .withColumn("group_key", coalesce(col("cluster_id"), col(id)))
      .drop("cluster_id")
    val head = keyed.groupBy("group_key")
      .agg(sum(mass).as("g_mass"))
      .orderBy(col("g_mass").desc, col("group_key").asc)
      .limit(headSize)
      .withColumn("r", row_number().over(
        Window.orderBy(col("g_mass").desc, col("group_key").asc)))
      .withColumn("i", (col("r") - 1) % (2 * k))
      .select(col("group_key").as("h_key"),
        when(col("i") < k, col("i"))
          .otherwise(lit(2L * k - 1) - col("i"))
          .cast("long").as("h_fold"))
    keyed.join(broadcast(head), col("group_key") === col("h_key"), "left")
      .withColumn("fold", coalesce(col("h_fold"),
        Hashing.portableHash32(
          concat(lit(salt + ":"), col("group_key").cast("string")))
          % lit(k.toLong)))
      .withColumn("in_head", col("h_key").isNotNull)
      .select(col(id), col("group_key"), col("fold"), col("in_head"))
  }

  def shardAssign(df: DataFrame, id: Column, nShards: Int,
      salt: String = "shard"): DataFrame = {
    require(nShards > 0, "nShards must be positive")
    val draw =
      Hashing.portableHash32(concat(lit(salt + ":"), id.cast("string")))
    val w = Window.partitionBy(col("shard")).orderBy(col("draw"), id)
    df.withColumn("draw", draw)
      .withColumn("shard", col("draw") % nShards)
      .withColumn("seq", row_number().over(w).cast("long"))
  }

  /**
   * Per-shard content manifest: row count + an order-independent content
   * checksum (sum of portable per-doc content hashes — commutative, so
   * any partitioning and any engine produce the same value) under the
   * SAME shard draw as [[shardAssign]]. This is the integrity record a
   * shard writer emits alongside the data: a re-run, a replica, or a
   * different engine re-derives the manifest and verifies shards
   * byte-identical without re-reading them in order. One map-side-
   * combinable keyed aggregate; no sort, no window.
   */
  def shardManifest(df: DataFrame, id: Column, nShards: Int,
      text: String = "text", salt: String = "shard"): DataFrame = {
    require(nShards > 0, "nShards must be positive")
    val draw =
      Hashing.portableHash32(concat(lit(salt + ":"), id.cast("string")))
    df.withColumn("shard", draw % nShards)
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(Hashing.portableHash32(col(text))).as("checksum"))
  }

  /**
   * Temporal train/gap/test split card (ext170) — the OTHER axis of
   * splitting: [[assign]]/[[assignLeakageSafe]] split by content hash
   * (exchangeable rows), but forecasting / recsys / any
   * label-at-t+h task must split by TIME, with a horizon GAP between
   * train and test so no test label's feature window reaches back
   * into train (the classic temporal-leakage mistake a hash split
   * cannot prevent). Cutoff = the exact (100−testPct) selection
   * quantile of event time — [[Sketches.selectionQuantiles]]' domain
   * search (zero data shuffles, ~log₆₄(span_µs) ≈ 8 rounds for a
   * year of microseconds, each one single-stage [[ProbeScan]] pass —
   * the scale-exact path, where a count-rank over per-µs value counts
   * would be corpus-sized);
   * train = ts ≤ cutoff, gap = (cutoff, cutoff+gap], test = beyond.
   *
   * The card reports segment row/user masses plus `users_both` — how
   * many users appear in train AND test. For temporal tasks that is
   * EXPECTED (the same user's future is the test), so it is reported
   * as exposure, not flagged as leakage; pair with
   * [[assignLeakageSafe]] when the task needs user-disjoint splits.
   * Empty input returns an empty card (no cutoff exists).
   */
  def temporalSplit(events: DataFrame, user: Column, ts: String = "ts",
      testPct: Int = 20, gapUs: Long = 86400000000L): DataFrame = {
    require(testPct > 0 && testPct < 100, "testPct in (0, 100)")
    require(gapUs >= 0, "gap must be non-negative")
    val e = Reuse.shared(events.select(user.as("_u"),
      unix_micros(col(ts)).as("_us")))
    temporalCard(e, lit(1L), Sketches.selectionQuantiles(
      e.withColumn("_s", lit(0)), Seq("_s"), col("_us"),
      Seq(100 - testPct)).collect(), gapUs)
  }

  /** The temporal split card over a (_u, _us) relation whose rows each
    * weigh `w` events, at the cutoff in `cutRows` (a selection-quantile
    * result: one row, or none on empty input — then the card is empty,
    * as no cutoff exists). The batch card weighs each event 1, the
    * stored-partials fold its `cnt`. */
  private def temporalCard(e: DataFrame, w: Column, cutRows: Array[Row],
      gapUs: Long): DataFrame = {
    if (cutRows.isEmpty)
      return e.sparkSession.createDataFrame(new java.util.ArrayList[Row](),
        StructType(Seq("cutoff_us", "n_train", "n_gap", "n_test",
          "users_train", "users_test", "users_both", "users_both_ppm")
          .map(StructField(_, LongType))))
    val cut = cutRows.head.getAs[Long]("value")
    val perUser = e.groupBy("_u").agg(
      sum(when(col("_us") <= cut, w).otherwise(0L)).as("tr"),
      sum(when(col("_us") > cut && col("_us") <= cut + gapUs, w)
        .otherwise(0L)).as("gp"),
      sum(when(col("_us") > cut + gapUs, w).otherwise(0L)).as("te"))
    perUser.agg(
        sum("tr").as("n_train"), sum("gp").as("n_gap"),
        sum("te").as("n_test"),
        sum(when(col("tr") > 0, 1L).otherwise(0L)).as("users_train"),
        sum(when(col("te") > 0, 1L).otherwise(0L)).as("users_test"),
        sum(when(col("tr") > 0 && col("te") > 0, 1L).otherwise(0L))
          .as("users_both"))
      .select(lit(cut).as("cutoff_us"), col("n_train"), col("n_gap"),
        col("n_test"), col("users_train"), col("users_test"),
        col("users_both"),
        expr("(1000000 * users_both) DIV greatest(users_train, 1)")
          .as("users_both_ppm"))
  }

  /** Per-(user, microsecond) event-count partial — the ONE stored
    * relation the streaming [[temporalSplit]] twin folds (r14 verdict
    * item 6): a pure addition partial (events arrive whole, counts
    * sum), from which BOTH inputs of the batch card derive — the
    * global value-count table (Σ over users) that fixes the cutoff,
    * and the per-user segment masses. One sink, both cards: the
    * trend-matrix discipline. */
  def temporalEventCounts(events: DataFrame, user: Column,
      ts: String = "ts"): DataFrame =
    events.select(user.as("_u"), unix_micros(col(ts)).as("_us"))
      // null timestamps are excluded EXACTLY as the batch path's
      // selectionQuantiles excludes them — a null count row would
      // inflate n and shift the k-th-value cutoff, breaking the
      // spec-asserted twin parity (a null-ts event contributes to no
      // segment on the batch side either)
      .filter(col("_us").isNotNull)
      .groupBy("_u", "_us").agg(count(lit(1)).as("cnt"))

  /** [[temporalSplit]] from a (possibly unfolded) `(u, us, cnt)`
    * partials relation: duplicates re-sum first (the batching law),
    * the cutoff is the identical smallest-value-reaching-k selection
    * rule over the summed value counts
    * ([[Sketches.selectionQuantilesFromCounts]] — the same tie
    * algebra the bisection implements), then the per-user fold is the
    * batch card's, weighted by `cnt`. Zero event rescans: everything
    * reads the compact counts relation. */
  def temporalSplitFromCounts(counts: DataFrame, testPct: Int = 20,
      gapUs: Long = 86400000000L): DataFrame = {
    require(testPct > 0 && testPct < 100, "testPct in (0, 100)")
    require(gapUs >= 0, "gap must be non-negative")
    val folded = Reuse.shared(counts.groupBy("_u", "_us")
      .agg(sum("cnt").as("cnt")))
    temporalCard(folded, col("cnt"),
      Sketches.selectionQuantilesFromCounts(
        folded.select(lit(0).as("_s"), col("_us").as("_v"), col("cnt")),
        Seq("_s"), Seq((100 - testPct).toInt)).collect(), gapUs)
  }
}
