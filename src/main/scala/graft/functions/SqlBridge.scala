package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4 made the Column ↔ Expression bridge (`ExpressionUtils`)
  * `private[sql]`; libraries adding native expressions reach it from a
  * subpackage of `org.apache.spark.sql` — the conventional shim, no
  * internals copied. */
object SqlBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Unpersist the RDD behind a `localCheckpoint`ed DataFrame. The
    * checkpoint blocks live on the `LogicalRDD`'s RDD, which neither
    * `Dataset.unpersist` nor `catalog.clearCache` reaches — without this a
    * long-lived session leaks executor-local blocks per checkpoint. */
  def freeCheckpoint(df: org.apache.spark.sql.DataFrame): Unit =
    df.queryExecution.logical match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Stable per-session identity for lifecycle registries: keying by
    * UUID (not the session object) keeps registry KEYS from pinning a
    * session — values must be dropped explicitly either way, see
    * graft.ops.Reuse.dropIndexes. */
  def sessionUUID(spark: org.apache.spark.sql.SparkSession): String =
    // public on the classic concrete class only (the api-level
    // SparkSession does not expose it); every local/cluster session is
    // a classic one.
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionUUID

  /** The id of the checkpointed RDD under a `localCheckpoint`ed
    * DataFrame — extracted EAGERLY so lifecycle registries can hold the
    * plain int (freeing by id survives the wrapper Dataset being GC'd;
    * a WeakReference would not). */
  def checkpointRddId(df: org.apache.spark.sql.DataFrame): Option[Int] =
    df.queryExecution.logical match {
      case l: org.apache.spark.sql.execution.LogicalRDD => Some(l.rdd.id)
      case _ => None
    }

  /** Checkpoint `df` hash-partitioned by `key` (via `checkpoint`) and
    * declare that partitioning on the checkpoint, so a later join on
    * `key` reads it in place. Under AQE a checkpoint reads back as
    * `UnknownPartitioning(0)`, and the planner re-shuffles the scan. An
    * explicit-count repartition is never coalesced, so the rows sit in
    * exactly `n` Spark-hash partitions; the declaration is made only
    * when the partition count confirms it (a wrong one would mis-join).
    * `n` is the count the planner gives the other side of a join. */
  def hashPartitionedCheckpoint(df: org.apache.spark.sql.DataFrame,
      key: String)(checkpoint: org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val spark =
      df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val n = spark.sessionState.conf.defaultNumShufflePartitions
    val cp = checkpoint(df.repartition(n, df.col(key)))
    cp.queryExecution.logical match {
      case l: org.apache.spark.sql.execution.LogicalRDD
          if l.rdd.getNumPartitions == n =>
        val keyAttr = l.output.filter(_.name == key)
        val pinned = org.apache.spark.sql.execution.LogicalRDD(
          l.output, l.rdd,
          org.apache.spark.sql.catalyst.plans.physical.HashPartitioning(
            keyAttr, n),
          l.outputOrdering, l.isStreaming, l.stream)(
          spark, Some(l.computeStats()), Some(l.constraints))
        org.apache.spark.sql.classic.Dataset.ofRows(spark, pinned)
      case _ => cp
    }
  }

  /** sizeInBytes above which a checkpoint's inherited stats carry no
    * planning information: every broadcast/shuffle threshold is far
    * below it, so clamping here never changes a plan decision. */
  val StatsCapBytes: BigInt = BigInt(1) << 60

  /**
   * Clamp the statistics a `localCheckpoint` INHERITS from its
   * pre-checkpoint plan (Spark 4's `LogicalRDD.rewriteStatsAndConstraints`).
   *
   * Why this must exist: the size-only stats visitor estimates a join as
   * the PRODUCT of its children's sizeInBytes. In an iterative operator
   * that checkpoints per round (BPE learning, connected components), the
   * round-r leaf's inherited sizeInBytes is a product over round-(r-1)
   * leaves — so the NUMBER (an unbounded BigInt) grows as a power tower
   * across rounds. The values stop meaning anything after the first
   * couple of rounds, but their DIGIT COUNT keeps squaring: by round
   * ~20 the driver spends minutes inside BigInteger.multiply just
   * computing stats for the next checkpoint (caught by the r9 depth-32
   * BPE smoke: bpe_merges_32 hung in Toom-Cook multiplication under
   * `Dataset.localCheckpoint`). Clamping at [[StatsCapBytes]] keeps
   * small-frame sizes exact (broadcast decisions intact) and bounds
   * every later product at a few hundred bits.
   */
  def clampCheckpointStats(
      df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    df.queryExecution.logical match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        val s = l.computeStats()
        val needsClamp = s.sizeInBytes > StatsCapBytes ||
          s.rowCount.exists(_ > StatsCapBytes)
        if (!needsClamp) df
        else {
          val spark =
            df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
          val clamped = org.apache.spark.sql.catalyst.plans.logical.Statistics(
            sizeInBytes = s.sizeInBytes.min(StatsCapBytes),
            rowCount = s.rowCount.map(_.min(StatsCapBytes)))
          val clean = org.apache.spark.sql.execution.LogicalRDD(
            l.output, l.rdd, l.outputPartitioning, l.outputOrdering,
            l.isStreaming, l.stream)(spark, Some(clamped), None)
          org.apache.spark.sql.classic.Dataset.ofRows(spark, clean)
        }
      case _ => df
    }
}
