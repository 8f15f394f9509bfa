package graft.ingest

import java.io.FileNotFoundException

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{
  ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import graft.model.TweetSchema

/**
 * Source layer (SURVEY.md §2.1, OP-01..04).
 *
 * The reference ingests either a live HTTP stream or a line-delimited JSON
 * replay file (reference: TweetGateCore/TwitterStream.cs:41-140,207-262;
 * TweetGate/Program.SaveAggregates.cs:31-50). In the rebuild, framing /
 * backpressure / reconnects (OP-01..03) are the Spark source's job; this
 * layer only declares schemas and normalizes types, so Catalyst can push
 * filters and prune columns into the scan.
 */
object Tables {

  /** Every parquet relation opens here, its schema resolved on the
    * DRIVER. `spark.read.parquet` infers the schema in a Spark job that
    * reads one footer, the first data file's (`mergeSchema` off). The
    * same rule runs here without a job: walk `path` in name order to the
    * first non-empty data file, skipping `_`/`.` names as Spark's file
    * index does (a store's empty first batch holds only `_SUCCESS`),
    * read its footer without row groups, and take Spark's reading of it
    * (`readSchemaFromFooter`): the schema Spark's writer stored under its
    * metadata key, else the parquet schema converted under the session
    * conf (the pyarrow- and DuckDB-written tables). Partition columns are
    * still discovered from directory names, so the relation's schema and
    * plans are the inferred ones.
    *
    * `nanosAsLong` is set before the converter reads the conf: test
    * tables may carry TIMESTAMP(NANOS), which Spark 4 refuses by default.
    * [[normalizeEventTs]] turns the long nanos into µs timestamps by
    * integer division (ns epochs exceed 2^53, a double round-trip would
    * corrupt them; DuckDB truncates ns to µs the same way).
    *
    * A path with no data file (missing, empty, or a compact's aside
    * instant) falls back to `spark.read.parquet` and fails exactly as
    * that does. A racing [[graft.stream.AggregateStore.compact]] can
    * delete the chosen file before its footer is read: a driver-side
    * FileNotFoundException, which [[graft.serve.Serve.retryingServe]]
    * retries as the swap race. */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val conf = spark.sparkContext.hadoopConfiguration
    firstDataFile(path, conf).fold(spark.read.parquet(path)) { file =>
      graft.stream.AggregateStore.compactProbe.foreach(_("listed"))
      val footer = ParquetFooterReader.readFooter(
        HadoopInputFile.fromStatus(file, conf),
        ParquetMetadataConverter.SKIP_ROW_GROUPS)
      spark.read.schema(ParquetFileFormat.readSchemaFromFooter(
          new Footer(file.getPath, footer),
          new ParquetToSparkSchemaConverter(spark.sessionState.conf)))
        .parquet(path)
    }
  }

  private def firstDataFile(path: String,
      conf: Configuration): Option[FileStatus] = {
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    def first(s: FileStatus): Option[FileStatus] =
      if (!s.isDirectory) Some(s).filter(_.getLen > 0)
      else
        (try fs.listStatus(s.getPath).toSeq
         catch { case _: FileNotFoundException => Nil })
          .filterNot { c =>
            val name = c.getPath.getName
            name.startsWith("_") || name.startsWith(".")
          }
          .sortBy(_.getPath.getName).iterator.flatMap(first).nextOption()
    (try Some(fs.getFileStatus(root))
     catch { case _: FileNotFoundException => None }).flatMap(first)
  }

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    parquet(spark, s"$sfDir/$name.parquet")

  /**
   * Scale-safe scan fan-out. Parquet scans parallelize by file/row-group;
   * a table stored as few small single-row-group files scans as 1 task,
   * serializing all per-row CPU work above it (shingling, hashing,
   * signature computation). When — and only when — the scan yields fewer
   * partitions than the session's parallelism, shuffle it out once. At
   * production scale (thousands of files) the guard is never taken and
   * this is a no-op: no shuffle is added to a 100 TB scan that is already
   * wide.
   */
  private def fanOut(df: DataFrame): DataFrame = {
    val want = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < want) df.repartition(want) else df
  }

  /** `events` is the tweet-stream stand-in for batch-verifiable windowed
    * queries (TESTDATA.md): entity = event_type/user_id, weight = value,
    * `props` is a raw-JSON column à la the tweet wire format.
    *
    * events is NOT fanned out: its operators are shuffle-agg-bound, not
    * per-row-CPU-bound, and the extra repartition measured as a net loss.
    *
    * `ts` normalizes to a UTC-instant TIMESTAMP whatever the parquet
    * wrote: int64 nanoseconds (timestamp[ns] files — Spark reads the
    * raw long) via `timestamp_micros`, or timestamp[us]
    * (isAdjustedToUTC=false → TIMESTAMP_NTZ in Spark) by interpreting
    * the wall time AS UTC. The NTZ→instant step must be explicit and
    * session-independent: a bare NTZ→TIMESTAMP cast reads the wall time
    * in the SESSION timezone (and `to_utc_timestamp(ntz, 'UTC')`
    * degenerates to exactly that — its ImplicitCastInputTypes casts the
    * NTZ argument through the session zone first, after which the
    * UTC→UTC shift is an identity). So we first rewrite the wall clock
    * with `convert_timezone('UTC', current_timezone(), ts)` — the NTZ
    * wall time, re-expressed in the session zone, of the instant whose
    * UTC wall time is `ts` — and only then cast; the session-zone read
    * of that rewritten wall time IS the UTC instant, whatever zone the
    * session runs in. Matches the DuckDB oracle's naive `epoch_ns(ts)`
    * reading. */
  def events(spark: SparkSession, sfDir: String): DataFrame =
    normalizeEventTs(table(spark, sfDir, "events"))

  /** The `ts`-type dispatch above, shared with the streaming replay
    * source ([[graft.stream.StreamingPipeline.eventStream]]) so batch
    * and stream see byte-identical event times. */
  def normalizeEventTs(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn(
          "ts",
          expr("cast(convert_timezone('UTC', current_timezone(), ts) as timestamp)"))
      case _ => raw
    }

  /** documents/embeddings feed CPU-dense operators (per-token hashing,
    * per-dimension signatures) — fan the scan out so that work spreads
    * across the session's cores even when the table is one small file. */
  def documents(spark: SparkSession, sfDir: String): DataFrame =
    fanOut(table(spark, sfDir, "documents"))

  def embeddings(spark: SparkSession, sfDir: String): DataFrame =
    fanOut(table(spark, sfDir, "embeddings"))

  def lineitem(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "lineitem")

  def orders(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "orders")

  def part(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "part")

  /**
   * OP-02/04: line-delimited tweet JSON → typed, time-stamped DataFrame.
   * Mirrors reference TweetGate/Program.SaveAggregates.cs:72-76: JSON
   * deserialize, drop invalid rows (null parse / missing timestamp —
   * RawTweet.cs:23-37 maps those to time 0, SaveAggregates.cs:74 drops
   * them), assign event time from `timestamp_ms`.
   */
  def tweetsFromJsonLines(lines: DataFrame): DataFrame = {
    val col0 = lines.columns.head
    // A file-sharded ingress layout (`shard=<id>/...` partition dirs —
    // the shardSequencerStream contract) surfaces a `shard` column next
    // to the text; carry it through the parse so the Adjust clamp can
    // auto-key per source shard (r14 verdict item 3). Single-stream
    // ingress has no such column and nothing changes.
    val passthrough = lines.columns.filter(_ == "shard").toSeq.map(col)
    lines
      .select(from_json(col(col0), TweetSchema.raw).as("t") +:
        passthrough: _*)
      .filter(col("t").isNotNull && col("t.id").isNotNull)
      // GetTimestamp() > 0 (SaveAggregates.cs:74): null/empty/zero/
      // unparseable timestamps are all dropped, like the reference.
      // try_cast EVERYWHERE, not cast: under ANSI mode (Spark 4 default)
      // a plain cast THROWS on '' — and Catalyst may push a downstream
      // predicate containing the projection's cast below this filter, so
      // the projection must be throw-free too.
      .filter(expr("try_cast(t.timestamp_ms AS LONG) > 0"))
      .select(col("t.*") +:
        expr("timestamp_millis(try_cast(t.timestamp_ms AS LONG))")
          .as("ts") +: passthrough: _*)
      .filter(col("ts").isNotNull)
  }

  /** Batch read of a replay file (OP-02). */
  def tweetsFromFile(spark: SparkSession, path: String): DataFrame =
    tweetsFromJsonLines(spark.read.text(path))

  /** Typed view of the projected stream — compile-time field checks for
    * user code (`Dataset[TweetEvent]` per SURVEY §1.3). */
  def tweetEvents(tweets: DataFrame): org.apache.spark.sql.Dataset[graft.model.TweetEvent] = {
    import tweets.sparkSession.implicits._
    projectTweets(tweets).as[graft.model.TweetEvent]
  }

  /**
   * OP-05/06: the flattening projection of reference Query.cs:32-41 —
   * nested RawTweet → 8 flat columns. Text coalesce (OP-05, Query.cs:171-184):
   * extended_tweet.full_text ?? retweeted_status.extended_tweet.full_text
   * ?? text. Array-of-struct → array-of-string is a nested-field access
   * (`entities.hashtags.text`), which Catalyst turns into a columnar
   * projection — no UDF. `originalTweetId` keeps the reference's -1
   * not-a-retweet sentinel (Query.cs:37), also for a `retweeted_status`
   * without an `id`: never null, which the typed example buffer
   * ([[graft.agg.TopKTweets]]) would read as original id 0.
   */
  def projectTweets(tweets: DataFrame): DataFrame =
    tweets.select(Seq(
      col("id"),
      coalesce(
        col("extended_tweet.full_text"),
        col("retweeted_status.extended_tweet.full_text"),
        col("text")).as("text"),
      col("user.screen_name").as("screenName"),
      coalesce(col("entities.hashtags.text"), array()).as("hashtags"),
      coalesce(col("entities.user_mentions.screen_name"), array())
        .as("mentions"),
      coalesce(col("retweeted_status.id"), lit(-1L)).as("originalTweetId"),
      coalesce(col("user.followers_count"), lit(0L)).as("followerCount"),
      col("ts")) ++
      // file-sharded ingress: the source shard rides the projection so
      // the Adjust clamp downstream can auto-key on it
      tweets.columns.filter(_ == "shard").toSeq.map(col): _*)
}
