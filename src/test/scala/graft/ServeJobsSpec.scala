package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Repartition
import org.apache.spark.sql.functions._

import graft.serve.Serve
import graft.stream.{AggregateStore, StreamingPipeline}

/** The serving read path's fixed cost: [[AggregateStore.read]] resolves
  * the store schema on the driver (no schema-inference job), and each
  * REPL command runs only the Spark jobs its answer needs — returning
  * the same rows, in the same order, as the full-store plans over
  * `spark.read.parquet`. */
class ServeJobsSpec extends TestBase {

  private val Day = 86400L
  private val Base = 1704067200L // 2024-01-01 00:00:00 UTC
  private val Families = Seq("hashtags", "mentions", "retweets", "counts")

  /** Three days of tweets, one every 15 min: one hashtag and one mention
    * each, and every 10th a retweet of one of three originals. */
  private lazy val replayDir: String = {
    val dir = Files.createTempDirectory("graft-serve-replay")
    val tags = Seq("spark", "scala", "data")
    val lines = (0 until 288).map { i =>
      val rt =
        if (i % 10 == 0)
          s"""{"id":${1000 + i / 10 % 3},"extended_tweet":{"full_text":"original"}}"""
        else "null"
      s"""{"id":${2000 + i},"text":"tweet $i #${tags(i % 3)}","timestamp_ms":"${(Base + i * 900L) * 1000L}","lang":"en","extended_tweet":null,"entities":{"hashtags":[{"text":"${tags(i % 3)}"}],"user_mentions":[{"screen_name":"m${i % 4}"}]},"user":{"followers_count":${10 + i * 37 % 1000},"screen_name":"user${i % 5}"},"retweeted_status":$rt}"""
    }
    Files.write(dir.resolve("part-0.jsonl"), lines.mkString("\n").getBytes)
    dir.toString
  }

  /** The four families `runUnified` writes over the replay. */
  private lazy val unified: String = {
    val root = Files.createTempDirectory("graft-serve-store").toString
    val q = StreamingPipeline.runUnified(spark, replayDir, root,
      Files.createTempDirectory("graft-serve-ckpt").toString)
    q.processAllAvailable()
    q.stop()
    root
  }

  /** The same pipeline with the examples dropped before the sink. */
  private lazy val noExamples: String = {
    val root = Files.createTempDirectory("graft-serve-noex").toString
    val q = StreamingPipeline.unifiedSink(
        StreamingPipeline.unifiedAggStream(
          StreamingPipeline.tweetStream(spark, replayDir))
          .drop("top_tweets"), root)
      .option("checkpointLocation",
        Files.createTempDirectory("graft-serve-noex-ckpt").toString)
      .start()
    q.processAllAvailable()
    q.stop()
    root
  }

  private def copyTree(src: String, dst: String): String = {
    val from = Paths.get(src)
    val walk = Files.walk(from)
    try walk.iterator.asScala.foreach { p =>
      val to = Paths.get(dst).resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(to)
      else Files.copy(p, to)
    } finally walk.close()
    dst
  }

  private def parquet(root: String, kind: String): DataFrame =
    spark.read.parquet(s"$root/$kind")

  test("driver-resolved store schema == spark.read.parquet schema for " +
      "every store layout; a store with no data file fails as before") {
    def same(path: String): Unit =
      assert(AggregateStore.read(spark, path).schema ==
        spark.read.parquet(path).schema, path)
    // the first batch of a fresh store emits no window (the watermark is
    // not set yet): its batch=0 directory holds only _SUCCESS, so the
    // footer lookup must walk past it
    for (kind <- Families) {
      val batch0 = new java.io.File(s"$unified/$kind/batch=0").list()
        .filterNot(_.startsWith(".")).toSeq
      assert(batch0 == Seq("_SUCCESS"), s"$kind batch=0 holds $batch0")
      same(s"$unified/$kind")
      same(s"$noExamples/$kind")
    }
    assert(parquet(unified, "hashtags").columns.contains("top_tweets") &&
      !parquet(noExamples, "hashtags").columns.contains("top_tweets"))
    val compacted = copyTree(s"$unified/retweets",
      Files.createTempDirectory("graft-serve-cmp").toString + "/retweets")
    AggregateStore.compact(spark, compacted)
    assert(new java.io.File(compacted).list().toSeq == Seq("batch=-1"))
    same(compacted)
    // batch-keyed twin stores: a drift store, the LM store (its unigram
    // rows hold an all-null t2) and a stratified budget store, whose
    // keep-latest read turns `batch` into the `_ver` version column
    def twin(sink: (DataFrame, String) =>
        org.apache.spark.sql.streaming.DataStreamWriter[
          org.apache.spark.sql.Row]): String = {
      val out = Files.createTempDirectory("graft-serve-twin").toString
      val q = sink(StreamingPipeline.parquetStream(spark,
          sf("sf0.001") + "/documents.parquet"), out)
        .option("checkpointLocation",
          Files.createTempDirectory("graft-serve-twin-ckpt").toString)
        .start()
      q.processAllAvailable()
      q.stop()
      out
    }
    val drift = twin((s, o) => StreamingPipeline.partialsSink(s,
      graft.ops.Reporting.driftPartials(_, col("doc_id") % 2 === 0,
        Seq("lang")), o))
    val lm = twin(StreamingPipeline.lmPartialsSink)
    assert(spark.read.parquet(lm).filter(col("t2").isNull).count() > 0)
    val budget = twin((s, o) => StreamingPipeline.partialsSink(s,
      graft.ops.Sampling.budgetSelectStratumPartials(_, col("lang"),
        length(col("text"))), o))
    for (path <- Seq(drift, lm, budget)) {
      same(path)
      assert(StreamingPipeline.partials(spark, path).schema ==
        spark.read.parquet(path).drop("batch").schema, path)
    }
    assert(StreamingPipeline.versions(spark, budget).schema ==
      spark.read.parquet(budget)
        .withColumn("_ver", col("batch").cast("long")).drop("batch").schema)

    def failure(read: => DataFrame): Option[(Class[_], String)] =
      try { read; None }
      catch { case e: Exception => Some((e.getClass, e.getMessage)) }
    val empty = Files.createTempDirectory("graft-serve-empty")
    Files.createDirectories(empty.resolve("batch=0"))
    Files.write(empty.resolve("batch=0/_SUCCESS"), Array.emptyByteArray)
    for (path <- Seq(s"$unified/missing", empty.toString)) {
      val before = failure(spark.read.parquet(path))
      assert(before.isDefined, s"$path unexpectedly readable")
      assert(failure(AggregateStore.read(spark, path)) == before, path)
    }
  }

  test("each REPL command runs only the jobs its answer needs and " +
      "returns the pre-change plan's rows in its order") {
    val root = unified
    // a range that starts and ends inside a date partition
    val (lo, hi) = (Base + Day / 2, Base + 2 * Day + Day / 4)
    val n = 3
    def recentPlan(kind: String) = Serve.recent(parquet(root, kind), n)
    val oneJob = Seq(
      "getsummary" ->
        Repl.refSummaryShape(Serve.summary(parquet(root, "counts"))),
      s"getcounts $lo $hi" ->
        Repl.refCountsShape(Serve.rangeScan(parquet(root, "counts"), lo, hi)),
      s"gettopmentionsstring $lo $hi" -> Repl.refEntityShape(
        Serve.rangeScanEntity(parquet(root, "mentions"), lo, hi, None),
        "ScreenName"),
      s"gettophashtagsstring $lo $hi spark" -> Repl.refEntityShape(
        Serve.rangeScanEntity(parquet(root, "hashtags"), lo, hi,
          Some("spark")), "HashTag"),
      s"gettopretweetsstring $lo $hi" -> Repl.refRetweetsShape(
        Serve.rangeScanEntity(parquet(root, "retweets"), lo, hi, None)))
    val twoJobs = Seq(
      s"getrecenttopmentionsstring $n" ->
        Repl.refEntityShape(recentPlan("mentions"), "ScreenName"),
      s"getrecenttophashtagsstring $n" ->
        Repl.refEntityShape(recentPlan("hashtags"), "HashTag"),
      s"getrecenttopretweetsstring $n" ->
        Repl.refRetweetsShape(recentPlan("retweets")),
      s"getrecentcounts $n" -> Repl.refCountsShape(recentPlan("counts")))
    // the two-job bound holds when one probe covers N: the newest of
    // several dates holds >= N rows
    for (kind <- Families) {
      val dates = parquet(root, kind).groupBy("window_date").count()
        .orderBy(col("window_date").desc).collect()
      assert(dates.length > 1 && dates.head.getLong(1) >= n, kind)
    }

    check(root, oneJob, _ == 1)
    check(root, twoJobs, _ <= 2)
  }

  test("a scan past one read split keeps Spark's parallel plan and the " +
      "pre-change plan's rows in its order") {
    val root = unified
    val (lo, hi) = (Base + Day / 2, Base + 2 * Day + Day / 4)
    def coalesced(kind: String): Boolean =
      AggregateStore.oneSplit(AggregateStore.read(spark, s"$root/$kind"))
        .queryExecution.optimizedPlan
        .collectFirst { case Repartition(1, false, _) => () }.isDefined
    assert(Families.forall(coalesced))
    val key = "spark.sql.files.maxPartitionBytes"
    val saved = spark.conf.getOption(key)
    // a split now holds less than the open cost of one file
    spark.conf.set(key, spark.sessionState.conf.filesOpenCostInBytes - 1)
    try {
      assert(!Families.exists(coalesced))
      check(root, Seq(
        "getsummary" ->
          Repl.refSummaryShape(Serve.summary(parquet(root, "counts"))),
        s"getcounts $lo $hi" -> Repl.refCountsShape(
          Serve.rangeScan(parquet(root, "counts"), lo, hi)),
        s"gettopmentionsstring $lo $hi" -> Repl.refEntityShape(
          Serve.rangeScanEntity(parquet(root, "mentions"), lo, hi, None),
          "ScreenName")), _ > 1)
    } finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Serves each command against `root` and checks that it returns the
    * plan's rows, byte-identical and in order, in a number of Spark jobs
    * `jobsOk` accepts. */
  private def check(root: String, cmds: Seq[(String, DataFrame)],
      jobsOk: Int => Boolean): Unit = {
    val outDir = Files.createTempDirectory("graft-serve-out").toString
    for ((line, plan) <- cmds) {
      val (out, ran) =
        countingJobs(line)(Repl.serveLine(spark, root, outDir, line).get)
      val rows = Files.readAllLines(out).asScala.toSeq
      val want = plan.toJSON.collect().toSeq
      assert(want.nonEmpty, s"$line: vacuous")
      assert(rows == want, s"$line: rows or order differ")
      assert(jobsOk(ran), s"$line ran $ran jobs")
    }
  }

  test("a shown REPL command runs its plan once: as many jobs as " +
      "unshown, and it prints the rows it writes") {
    val root = unified
    val outDir = Files.createTempDirectory("graft-serve-show").toString
    val (lo, hi) = (Base + Day / 2, Base + 2 * Day + Day / 4)
    for (line <- Seq("getsummary", s"getcounts $lo $hi",
        s"gettophashtagsstring $lo $hi spark",
        s"gettopretweetsstring $lo $hi", "getrecenttopmentionsstring 3",
        "getrecentcounts 3")) {
      val (quiet, quietJobs) =
        countingJobs(line)(Repl.serveLine(spark, root, outDir, line).get)
      val printed = new java.io.ByteArrayOutputStream
      val (shown, shownJobs) = countingJobs(line)(Console.withOut(printed)(
        Repl.serveLine(spark, root, outDir, line, show = true).get))
      assert(shownJobs == quietJobs,
        s"$line: $shownJobs jobs shown, $quietJobs unshown")
      val rows = Files.readAllLines(shown).asScala.toSeq
      assert(rows.nonEmpty && rows == Files.readAllLines(quiet).asScala.toSeq,
        s"$line: shown and unshown results differ")
      assert(printed.toString("UTF-8").split("\n").toSeq == rows.take(100),
        s"$line: printed rows differ from the written ones")
    }
  }

  test("a compact deleting the part file whose footer read() chose: " +
      "serveLine retries onto the post-compact snapshot") {
    val root = Files.createTempDirectory("graft-serve-race").toString
    val store = copyTree(s"$unified/hashtags", s"$root/hashtags")
    val outDir = Files.createTempDirectory("graft-serve-race-out").toString
    val line = s"gettophashtagsstring $Base ${Base + 3 * Day}"
    def served(): Seq[String] = Files.readAllLines(
      Repl.serveLine(spark, root, outDir, line).get).asScala.toSeq
    val before = served()
    assert(before.nonEmpty)

    // the reader's first "listed" state runs the whole compact, so its
    // chosen file is gone when it reads the footer
    val states = scala.collection.mutable.ArrayBuffer.empty[String]
    AggregateStore.compactProbe = Some { state =>
      states += state
      if (states == Seq("listed")) AggregateStore.compact(spark, store)
    }
    val during = try served() finally AggregateStore.compactProbe = None
    // reader listed; compact's own read listed; the swap; the retry
    // re-listed the compacted store
    assert(states == Seq("listed", "listed", "aside", "promoted", "listed"),
      s"states: $states")
    assert(new java.io.File(store).list().toSeq == Seq("batch=-1"))
    assert(during == before, "retried read is not the full snapshot")
  }

  test("getrecent* N rejects a non-integer or negative N, naming it") {
    val outDir = Files.createTempDirectory("graft-serve-badn").toString
    for (cmd <- Seq("getrecenttopmentionsstring",
        "getrecenttophashtagsstring", "getrecenttopretweetsstring",
        "getrecentcounts"); bad <- Seq("x", "2.5", "-3", "99999999999")) {
      val e = intercept[IllegalArgumentException](
        Repl.dispatch(spark, unified, s"$cmd $bad"))
      assert(e.getClass == classOf[IllegalArgumentException] &&
        e.getMessage.contains(s"'$bad'"), s"$cmd $bad: $e")
    }
    // not a compaction race: serveLine fails on the first attempt
    intercept[IllegalArgumentException](
      Repl.serveLine(spark, unified, outDir, "getrecentcounts -1"))
    assert(Repl.dispatch(spark, unified, "getrecentcounts 0").get
      .count() == 0)
  }
}
