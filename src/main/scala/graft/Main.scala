package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.ingest.Tables
import graft.stream.{AggregateStore, StreamingPipeline}

/**
 * CLI dispatch — the Spark analog of the reference's entry points
 * (TweetGate/Program.cs:11-36): `saveTweets | saveAggregates | printDB |
 * repl`. (`sendToEventhub` maps to `writeStream.format("kafka")` sink
 * configuration — an external system, not reproducible offline; see
 * COVERAGE.md OP-34.)
 *
 *   saveAggregates <inputDir> <storeRoot> <checkpointDir>
 *       run the live pipeline: tweet-JSON lines → unified windowed
 *       aggregates → 4-family partitioned store (Program.SaveAggregates.cs)
 *   saveTweets <inputDir> <outDir> [minutes]
 *       raw capture of valid tweet lines (Program.SaveTweets.cs); with
 *       `minutes`, a duration-bounded STREAMING capture under the OP-01
 *       restart policy ([[graft.stream.StreamSupervisor]])
 *   printDB <storeRoot> [N]
 *       dump the N most recent windows of each family (Program.PrintDB.cs)
 *   repl <storeRoot>
 *       interactive read commands (Program.Repl.cs) — see [[Repl]]
 */
object Main {

  /** The product session (this CLI and [[Repl]]): `SPARK_MASTER`,
    * and `SPARK_GRAFT_CPUS` shuffle partitions (default 8). */
  private[graft] def session(): SparkSession =
    QueryRun.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"),
      Seq("spark.master" -> sys.env.getOrElse("SPARK_MASTER", "local[8]")))

  def main(args: Array[String]): Unit = args.toList match {
    case "saveAggregates" :: in :: store :: ckpt :: Nil =>
      val spark = session()
      val q = StreamingPipeline.runUnified(spark, in, store, ckpt)
      sys.addShutdownHook(q.stop())
      q.awaitTermination()

    case "saveTweets" :: in :: out :: Nil =>
      val spark = session()
      // raw capture: keep only lines that parse as valid tweets (OP-33)
      Tables.tweetsFromFile(spark, in)
        .select(to_json(struct(col("*"))).as("value"))
        .write.mode("overwrite").text(out)
      spark.stop()

    // duration-bounded capture (Program.SaveTweets.cs:14-51: the
    // reference captures the live stream for N minutes, then stops) —
    // streaming form with the reference's OP-01 restart policy around it.
    case "saveTweets" :: in :: out :: minutes :: Nil
        if minutes.toDoubleOption.exists(m => m > 0) =>
      val spark = session()
      val deadline =
        System.currentTimeMillis() + (minutes.toDouble * 60000).toLong
      graft.stream.StreamSupervisor.superviseUntil(
        () => StreamingPipeline.saveTweetsStream(
          spark, in, out, s"$out-ckpt"),
        deadline)
      spark.stop()

    case "printDB" :: store :: rest if rest.size <= 1 =>
      val n = rest.headOption.map(Repl.parseCount).getOrElse(10)
      val spark = session()
      Seq("counts", "hashtags", "mentions", "retweets").foreach { kind =>
        println(s"== $kind (most recent $n records)")
        try AggregateStore.readRecent(spark, s"$store/$kind", n)
          .show(n, truncate = false)
        catch { case e: Exception => println(s"  (unavailable: ${e.getMessage})") }
      }
      spark.stop()

    case "repl" :: store :: rest if rest.size <= 1 =>
      Repl.main((store :: rest).toArray)

    case other =>
      System.err.println(
        s"""unknown command: ${other.mkString(" ")}
           |usage: saveAggregates <in> <store> <ckpt>
           |     | saveTweets <in> <out> [minutes]
           |     | printDB <store> [N] | repl <store>""".stripMargin)
      sys.exit(2)
  }
}
