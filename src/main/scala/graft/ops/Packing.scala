package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/**
 * Sequence packing — the "concatenate the corpus and cut every `budget`
 * tokens" step that turns variable-length documents into fixed-size
 * training chunks (GPT-style packing). Each document is assigned the
 * chunk that contains its first token; `first_tok` is its global token
 * offset in the concatenated stream.
 *
 * The semantics are a global prefix sum over documents in `ord` order —
 * but the obvious encoding, `SUM(...) OVER (ORDER BY ord)` with no
 * PARTITION BY, collapses the whole table into ONE window partition: a
 * single task scans 100 TB (the DuckDB oracle uses exactly that form —
 * correct semantics, non-scalable plan). This implementation is the
 * classic two-phase distributed scan instead:
 *
 *  1. range-repartition by `ord` (partition i holds strictly smaller
 *     keys than partition i+1) and sort within partitions — the only
 *     full shuffle, and the same one any global ordering needs — then
 *     `localCheckpoint` to freeze the partitioning, so the two passes
 *     below read the SAME materialized partitions (no nondeterministic
 *     re-sampling of range bounds, no recomputed shuffle);
 *  2. per-partition token totals — one row per partition — collected
 *     and scanned into exclusive partition offsets on the driver.
 *     Driver traffic is O(partitions), never O(rows);
 *  3. a per-partition running sum seeded with the partition's offset —
 *     `mapPartitionsWithIndex` over the frozen partitions, each task a
 *     sequential fold over its own sorted slice, all tasks parallel.
 *     (A `Window.partitionBy(pid)` would express the same fold but
 *     re-shuffle every row a second time to co-locate what is already
 *     co-located; the imperative scan is the honest plan here.)
 */
object Packing {

  /**
   * Output: input columns + `n_toks`, `first_tok` (exclusive global
   * prefix sum of `tokens` in `ord` order) and `chunk_id`
   * (= first_tok / budget). `ord` must be globally unique (it defines
   * the packing order). A null/uncastable `tokens` value counts as 0
   * (the row occupies no budget but keeps its place in the order) —
   * without the coalesce a single null would NPE the executor-side scan.
   */
  def concatChunks(df: DataFrame, ord: Column, tokens: Column,
      budget: Long): DataFrame = {
    require(budget > 0, "chunk budget must be positive")
    val spark = df.sparkSession
    val parts = math.max(spark.sparkContext.defaultParallelism, 1)
    val sorted = Reuse.pin(df
      .withColumn("_toks", coalesce(tokens.cast("long"), lit(0L)))
      .repartitionByRange(parts, ord)
      .sortWithinPartitions(ord)
      .localCheckpoint())

    // Phase 2: one row per partition → exclusive offsets on the driver.
    val partSums = sorted.groupBy(spark_partition_id().as("_pid"))
      .agg(sum(col("_toks")).as("_psum"))
      .collect()
      .map(r => r.getInt(0) -> r.getLong(1))
      .toMap
    val offsets = (0 until parts).scanLeft(0L) {
      (acc, pid) => acc + partSums.getOrElse(pid, 0L)
    }.toArray

    // Phase 3: seeded per-partition scan over the frozen partitions.
    val tIdx = sorted.schema.fieldIndex("_toks")
    val scanned = sorted.rdd.mapPartitionsWithIndex { (pid, it) =>
      var run = offsets(pid)
      it.map { r =>
        val first = run
        run += r.getLong(tIdx)
        Row.fromSeq(r.toSeq :+ first)
      }
    }
    spark.createDataFrame(scanned,
        sorted.schema.add("first_tok", LongType, nullable = false))
      .withColumnRenamed("_toks", "n_toks")
      .withColumn("chunk_id", floor(col("first_tok") / budget))
  }

  /**
   * Per-chunk SEGMENTS — the step [[concatChunks]] stops short of: a
   * document longer than the budget (or straddling a boundary) spans
   * several chunks; training-data assembly needs the exact
   * `[seg_start, seg_end)` token span to cut from each doc for each
   * chunk. Pure projection + bounded explode over the packed output
   * (fan-out = chunks touched = ⌈n_toks/budget⌉+1, no extra shuffle);
   * zero-width docs emit no segments. All integer arithmetic — the
   * oracle replays it exactly.
   */
  def packSegments(packed: DataFrame, budget: Long): DataFrame = {
    require(budget > 0, "chunk budget must be positive")
    packed
      .filter(col("n_toks") > 0)
      .withColumn("chunk_id", explode(sequence(
        expr(s"first_tok div $budget"),
        expr(s"(first_tok + n_toks - 1) div $budget"))))
      .withColumn("seg_start",
        greatest(col("first_tok"), col("chunk_id") * budget))
      .withColumn("seg_end",
        least(col("first_tok") + col("n_toks"),
          (col("chunk_id") + 1) * budget))
  }

  /**
   * Packing-efficiency curve — the capacity-planning table behind the
   * context-length choice: for each candidate budget, how many training
   * chunks the corpus costs under (a) concat packing ([[concatChunks]]
   * — docs straddle boundaries, zero padding) vs (b) pad-to-boundary
   * (each doc rounded up to whole chunks — the no-packing baseline),
   * and the padded baseline's wasted-token fraction. `pack_gain_ppm`
   * is the chunk count packing saves; pricing it per budget turns the
   * "is sequence packing worth the attention-mask complexity at ctx=N"
   * question into a table.
   *
   * Scale shape: ONE corpus scan — per-doc token counts explode by
   * |budgets| literals and map-side combine into |budgets| groups; no
   * join, no window. All int64 (`pad_waste_ppm`'s numerator stays
   * under 2^63 while padded waste ≤ ~9e12 tokens — beyond any real
   * corpus's padding at ppm precision).
   */
  def packEfficiency(df: DataFrame, tokens: Column,
      budgets: Seq[Long]): DataFrame =
    packEfficiencyFromCounts(packPartials(df, tokens, budgets))

  /** The per-ctx COMMUTATIVE partials of [[packEfficiency]] (doc and
    * token counts, padded-chunk sum) — one tiny relation per
    * micro-batch in the streaming twin
    * ([[graft.stream.StreamingPipeline.partialsSink]]). */
  def packPartials(df: DataFrame, tokens: Column,
      budgets: Seq[Long]): DataFrame = {
    require(budgets.nonEmpty && budgets.forall(_ > 0),
      "budgets must be positive")
    df.select(coalesce(tokens.cast("long"), lit(0L)).as("_toks"))
      .select(col("_toks"),
        explode(array(budgets.map(lit): _*)).as("ctx"))
      .groupBy(col("ctx"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("_toks")).as("total_toks"),
        sum(expr("(_toks + ctx - 1) DIV ctx")).as("chunks_padded"))
  }

  /**
   * Length-bucketing card — the DYNAMIC-BATCHING member of the packing
   * family: [[packEfficiency]] prices padding to a FIXED context and
   * concat-packing; this prices the middle strategy real trainers use
   * (bucket sequences by length, pad each batch only to its bucket's
   * max — tokenizer-servers, rerankers and encoder training all batch
   * this way because concat-packing breaks example boundaries).
   * Buckets are the ext56 integer log₂ classes (`bitlen(n_toks)`), so
   * the card is ≤ ~40 rows at any corpus size. Per bucket: docs,
   * token mass, the bucket's ACTUAL max length, padding paid when
   * batches pad to bucket-max (`pad_bucket`) vs to the corpus-wide max
   * (`pad_global` — the no-bucketing baseline), both as exact sums and
   * waste ppm of the padded volume. All int64, all-non-negative DIVs.
   *
   * Scale shape: one map-side-combined groupBy on ≤ ~40 bucket keys —
   * the corpus is touched once; the global max rides a broadcast 1-row
   * envelope. Per-bucket sums are pure-addition partials (max merges
   * as max), so the card streams with the packPartials discipline.
   */
  def lengthBucketing(df: DataFrame, tokens: Column): DataFrame = {
    val base = df.select(
      coalesce(tokens.cast("long"), lit(0L)).as("_toks"))
    // shared: the global max reads the same ≤ ~40-row bucket relation —
    // without it the corpus would be scanned once per consumer
    val perBucket = graft.ops.Reuse.shared(base
      .withColumn("bucket",
        length(expr("bin(greatest(_toks, 1))")).cast("long"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum("_toks").as("total_toks"),
        max("_toks").as("bucket_max")))
    val globalMax = perBucket.agg(max("bucket_max").as("global_max"))
    perBucket.crossJoin(broadcast(globalMax))
      .withColumn("pad_bucket",
        expr("n_docs * bucket_max - total_toks"))
      .withColumn("pad_global",
        expr("n_docs * global_max - total_toks"))
      // pad masses are token-scale: × 1e6 leaves int64 near 10¹³
      // corpus tokens (ext152 rule — decimal intermediates)
      .withColumn("waste_bucket_ppm",
        when(expr("n_docs * bucket_max") > 0L,
          expr("CAST(cast(pad_bucket AS DECIMAL(38,0)) * 1000000" +
            " DIV (n_docs * bucket_max) AS BIGINT)"))
          .otherwise(lit(0L)))
      .withColumn("waste_global_ppm",
        when(expr("n_docs * global_max") > 0L,
          expr("CAST(cast(pad_global AS DECIMAL(38,0)) * 1000000" +
            " DIV (n_docs * global_max) AS BIGINT)"))
          .otherwise(lit(0L)))
      .select(col("bucket"), col("n_docs"), col("total_toks"),
        col("bucket_max"), col("global_max"), col("pad_bucket"),
        col("pad_global"), col("waste_bucket_ppm"),
        col("waste_global_ppm"))
  }

  /** The derived columns over (ctx, n_docs, total_toks, chunks_padded)
    * partials; duplicate ctx keys across batches are summed first, so
    * the fold is exact at any batching. */
  def packEfficiencyFromCounts(raw: DataFrame): DataFrame =
    raw.groupBy(col("ctx"))
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("total_toks")).as("total_toks"),
        sum(col("chunks_padded")).as("chunks_padded"))
      .withColumn("chunks_concat",
        expr("(total_toks + ctx - 1) DIV ctx"))
      .withColumn("pad_waste_ppm",
        when(col("chunks_padded") > 0,
          expr("CAST(cast(chunks_padded * ctx - total_toks" +
            " AS DECIMAL(38,0)) * 1000000" +
            " DIV (chunks_padded * ctx) AS BIGINT)"))
          .otherwise(lit(0L)))
      .withColumn("pack_gain_ppm",
        when(col("chunks_padded") > 0,
          expr("CAST(cast(chunks_padded - chunks_concat" +
            " AS DECIMAL(38,0)) * 1000000" +
            " DIV chunks_padded AS BIGINT)"))
          .otherwise(lit(0L)))
}
