package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.ingest.Tables
import graft.stream.{AggregateStore, StreamingPipeline}

/**
 * M5: streaming ↔ batch equivalence on a deterministic tweet-line replay
 * fixture (FIXTURES.md §A) — the Spark analog of the reference's
 * replay-file E2E method (Readme.Md:23-30).
 */
class StreamingSpec extends TestBase {

  /** Synthetic replay: 3 users × hashtags over ~30 min of event time,
    * in-order within the 5 s disorder bound, plus rows the validity
    * filter must drop (no timestamp / not JSON). */
  private def fixtureLines: Seq[String] = {
    val base = 1704067200000L // 2024-01-01 00:00:00 UTC
    val tags = Seq("spark", "scala", "data")
    val rows = (0 until 300).map { i =>
      val t = base + i * 6000L // every 6 s
      val tag = tags(i % 3)
      val user = s"user${i % 5}"
      val fc = 10 + (i * 37) % 1000
      // every 10th row retweets one of THREE shared originals, so the
      // OP-27 example dedupe (retweets of one tweet collapse to one
      // example) has real work to do in every hopping window
      val orig = 1000 + (i / 10) % 3
      s"""{"id":${2000 + i},"text":"tweet $i #$tag","timestamp_ms":"$t","lang":"en","extended_tweet":null,"entities":{"hashtags":[{"text":"$tag"}],"user_mentions":[{"screen_name":"m${i % 4}"}]},"user":{"followers_count":$fc,"screen_name":"$user"},"retweeted_status":${
        if (i % 10 == 0) s"""{"id":$orig,"extended_tweet":{"full_text":"original $orig"}}"""
        else "null"
      }}"""
    }
    rows ++ Seq(
      """{"id":9999,"text":"dropped: no timestamp","entities":{"hashtags":[],"user_mentions":[]},"user":{"followers_count":1,"screen_name":"x"}}""",
      """{"id":9998,"text":"dropped: empty ts","timestamp_ms":"","entities":{"hashtags":[],"user_mentions":[]},"user":{"followers_count":1,"screen_name":"x"}}""",
      """{"id":9997,"text":"dropped: zero ts","timestamp_ms":"0","entities":{"hashtags":[],"user_mentions":[]},"user":{"followers_count":1,"screen_name":"x"}}""",
      "not json at all")
  }

  /** Drains a replay of the parquet files in `srcDir`
    * (`filesPerTrigger` per micro-batch) through the sink `mk` builds
    * for an output dir, and returns that dir. */
  private def runSink(srcDir: String, filesPerTrigger: Int = 1)(
      mk: (org.apache.spark.sql.DataFrame, String)
        => org.apache.spark.sql.streaming.DataStreamWriter[
          org.apache.spark.sql.Row]): String = {
    val out = Files.createTempDirectory("graft-sink-out").toString
    val ckpt = Files.createTempDirectory("graft-sink-ckpt").toString
    val q = mk(StreamingPipeline.parquetStream(spark, srcDir,
      maxFilesPerTrigger = Some(filesPerTrigger)), out)
      .option("checkpointLocation", ckpt).start()
    q.processAllAvailable()
    q.stop()
    out
  }

  /** Writes each increment to `srcDir` as ONE parquet file, with
    * mtimes in increment order, so a `maxFilesPerTrigger = 1` stream
    * reads one increment per micro-batch, in order. */
  private def oneFileIncrements(srcDir: java.io.File,
      incs: Seq[org.apache.spark.sql.DataFrame]): Unit =
    incs.zipWithIndex.foreach { case (rows, i) =>
      val tmp = s"$srcDir/_stage$i"
      rows.coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(srcDir, f"inc$i%02d.parquet")
      Files.move(part.toPath, dst.toPath)
      dst.setLastModified(1704067200000L + i * 60000L)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }

  /** A fixed snapshot for [[StreamingPipeline.partialsSink]]'s artifact
    * seam: one constant version of `frames`. */
  private def fixed(frames: org.apache.spark.sql.DataFrame*)
      : () => (String, Seq[org.apache.spark.sql.DataFrame]) =
    () => ("static", frames)

  /** [[fixed]] for [[StreamingPipeline.curationSink]]'s four artifacts. */
  private def curationArtifacts(keepers: org.apache.spark.sql.DataFrame,
      bv: org.apache.spark.sql.DataFrame, bh: org.apache.spark.sql.DataFrame,
      bits: org.apache.spark.sql.DataFrame)
      : () => (String, StreamingPipeline.CurationArtifacts) =
    () => ("static",
      StreamingPipeline.CurationArtifacts(keepers, bv, bh, bits))

  /** Runs `body` while a 5 ms poller holds every RDD persisted in the
    * meantime, so the ContextCleaner (which unpersists an RDD once a GC
    * finds it unreachable) cannot free a block a sink left behind before
    * the caller checks. Returns `body`'s result and the held RDDs by id;
    * keep the map referenced until the checks are done. */
  private def holdingPersisted[A](body: => A)
      : (A, java.util.concurrent.ConcurrentHashMap[Int, AnyRef]) = {
    val held = new java.util.concurrent.ConcurrentHashMap[Int, AnyRef]()
    val polling = new java.util.concurrent.atomic.AtomicBoolean(true)
    val poller = new Thread(() => while (polling.get) {
      spark.sparkContext.getPersistentRDDs.foreach { case (id, r) =>
        held.putIfAbsent(id, r) }
      Thread.sleep(5)
    })
    poller.setDaemon(true)
    poller.start()
    val a = try body finally { polling.set(false); poller.join() }
    (a, held)
  }

  /** The batch reference of the live pipeline's `hashtags` family: the
    * per-hashtag hopping aggregate of the tweet lines at `path`, ranked
    * top-N per window. */
  private def batchRankedHashtags(path: String) = {
    val batchAgg = Tables.projectTweets(Tables.tweetsFromFile(spark, path))
      .filter(size(col("hashtags")) > 0)
      .select(col("ts"), explode(col("hashtags")).as("entity"),
        col("followerCount"))
      .groupBy(window(col("ts"), "10 minutes", "1 minute"), col("entity"))
      .agg(count("*").as("tweet_count"),
        sum("followerCount").as("follower_sum"))
      .select(col("window.end").cast("long").as("window_end"),
        col("entity"), col("tweet_count"), col("follower_sum"))
    graft.agg.Windows.rankTopEntities(batchAgg)
      .select("window_end", "entity", "tweet_count", "follower_sum", "rank")
  }

  test("streaming hashtag aggregate == batch equivalent on replay fixture") {
    val dir = Files.createTempDirectory("graft-replay").toFile
    val store = Files.createTempDirectory("graft-store").toString
    val ckpt = Files.createTempDirectory("graft-ckpt").toString
    Files.write(new java.io.File(dir, "part-0.jsonl").toPath,
      fixtureLines.mkString("\n").getBytes)

    val q = StreamingPipeline.runUnified(spark, dir.toString, store, ckpt)
    q.processAllAvailable()
    q.stop()

    val streamed = AggregateStore.read(spark, s"$store/hashtags")
      .select("window_end", "entity", "tweet_count", "follower_sum", "rank")
    val batchRanked = batchRankedHashtags(dir.toString + "/part-0.jsonl")

    // Streaming append-mode only emits windows whose watermark has
    // expired; compare on the windows the stream emitted.
    val emitted = streamed.select("window_end").distinct()
    val batchOnEmitted = batchRanked.join(emitted, "window_end")
    assert(streamed.count() > 0, "stream emitted nothing")
    assert(streamed.exceptAll(batchOnEmitted).count() == 0 &&
      batchOnEmitted.exceptAll(streamed).count() == 0,
      "streaming and batch results differ on emitted windows")
  }

  test("unified 4-family pipeline + repl serving (OP-17/23/24/25/32/36-41)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-replay3").toFile
    val store = Files.createTempDirectory("graft-ustore").toString
    val ckpt = Files.createTempDirectory("graft-uckpt").toString
    Files.write(new java.io.File(dir, "part-0.jsonl").toPath,
      fixtureLines.mkString("\n").getBytes)

    val q = StreamingPipeline.runUnified(spark, dir.toString, store, ckpt)
    q.processAllAvailable()
    // OP-30: ingest telemetry observed per micro-batch
    val observed = q.recentProgress.flatMap(p =>
      Option(p.observedMetrics.get("ingest")))
    assert(observed.exists(r => r.getAs[Long]("rows") > 0),
      "no ingest metrics observed")
    q.stop()

    // all four families materialized
    for (kind <- Seq("hashtags", "mentions", "retweets", "counts"))
      assert(AggregateStore.read(spark, s"$store/$kind").count() > 0, kind)

    // counts family matches the batch hopping count on emitted windows
    val counts = AggregateStore.read(spark, s"$store/counts")
    val batch = graft.agg.Windows.hoppingCounts(
      graft.ingest.Tables.projectTweets(
        Tables.tweetsFromFile(spark, dir.toString + "/part-0.jsonl")))
    val joined = counts.select("window_end", "cnt")
      .join(batch.withColumnRenamed("cnt", "batch_cnt"), "window_end")
    assert(joined.filter(col("cnt") =!= col("batch_cnt")).count() == 0)

    // repl dispatch over the store
    val summary = Repl.dispatch(spark, store, "getsummary").get.collect()(0)
    assert(summary.getAs[Long]("WindowCount") > 0)
    val recent = Repl.dispatch(spark, store,
      "getrecenttophashtagsstring 5").get
    assert(recent.count() > 0 && recent.count() <= 5)
    val we = counts.select("window_end").as[Long].collect().sorted
    val ranged = Repl.dispatch(spark, store,
      s"getcounts ${we.head} ${we.last + 1}").get
    assert(ranged.count() == counts.count())
    val restricted = Repl.dispatch(spark, store,
      s"gettophashtagsstring ${we.head} ${we.last + 1} spark").get
    assert(restricted.select("HashTag").distinct().as[String]
      .collect().toSeq == Seq("spark"))
    assert(Repl.dispatch(spark, store, "bogus 1 2").isEmpty)
    assert(Repl.dispatch(spark, store, "getrecentcounts 3").get.count() == 3)
    assert(Repl.dispatch(spark, store,
      "getrecenttopretweetsstring 4").get.count() <= 4)
    assert(Repl.dispatch(spark, store,
      "getrecenttopmentionsstring 4").get.count() <= 4)
    val mentionsRanged = Repl.dispatch(spark, store,
      s"gettopmentionsstring ${we.head} ${we.last + 1}").get
    assert(mentionsRanged.count() > 0)
    val retweetsRanged = Repl.dispatch(spark, store,
      s"gettopretweetsstring 2024-01-01T00:00:00 2024-01-02T00:00:00").get
    assert(retweetsRanged.count() > 0) // ISO time parsing path

    // ---- full example payloads in the stored entity CFs (r11 item 1) --
    // The hashtags family's stored TweetDescription structs equal batch
    // `topEntityPayloads` struct-for-struct on emitted windows — stats,
    // rank, AND the deduped ordered examples.
    val projected = graft.ingest.Tables.projectTweets(
      Tables.tweetsFromFile(spark, dir.toString + "/part-0.jsonl"))
    def canon(c: org.apache.spark.sql.Column) = transform(c, t => struct(
      t.getField("id").as("id"),
      t.getField("followerCount").as("followerCount"),
      t.getField("text").as("text"),
      t.getField("screenName").as("screenName"),
      t.getField("originalTweetId").as("originalTweetId")))
    val hstore = AggregateStore.read(spark, s"$store/hashtags")
    val streamedP = hstore.select(col("window_end"), col("entity"),
      col("tweet_count"), col("follower_sum"),
      col("rank").cast("long").as("rank"),
      canon(col("top_tweets")).as("tt"))
    val batchP = graft.agg.Payloads.topEntityPayloads(
        projected, col("hashtags"))
      .select(col("window_end"), col("entity"), col("tweet_count"),
        col("followerCountSum").as("follower_sum"),
        col("rank").cast("long").as("rank"),
        canon(col("topTweets")).as("tt"))
      .join(hstore.select("window_end").distinct(), "window_end")
    assert(streamedP.exceptAll(batchP).count() == 0 &&
      batchP.exceptAll(streamedP).count() == 0,
      "stored entity payloads differ from batch topEntityPayloads")
    assert(hstore.filter(size(col("top_tweets")) > 1).count() > 0,
      "payload twin vacuous: no entity stored more than one example")
    // ...and the dedupe had real work: some (window, hashtag) saw
    // multiple retweets of one original (the fixture plants them)
    val dupWork = projected.filter(col("originalTweetId") =!= -1L)
      .select(window(col("ts"), "10 minutes", "1 minute"),
        explode(col("hashtags")).as("entity"), col("originalTweetId"))
      .groupBy("window", "entity", "originalTweetId").count()
      .filter(col("count") > 1)
    assert(dupWork.count() > 0,
      "fixture planted no duplicate-original retweets — dedupe untested")
    // retweets family: TopUsers (AggregatePayloads.cs:44-49) is the
    // examples' screen names, in example order
    val rstore = AggregateStore.read(spark, s"$store/retweets")
    assert(rstore.filter(col("top_users") =!=
      transform(col("top_tweets"), t => t.getField("screenName")))
      .count() == 0, "top_users differs from example screen names")
    assert(rstore.filter(size(col("top_users")) > 1).count() > 0,
      "top_users vacuous: no retweet stored more than one user")
    // REPL serving carries the structs in the REFERENCE's serialized
    // record shape (Program.Repl.cs:58-83 over AggregatePayloads.cs):
    // the written JSON contains the TweetDescription fields, PascalCase
    assert(mentionsRanged.columns.toSeq ==
      Seq("WindowTime", "FollowerCountSum", "TweetCount", "ScreenName",
        "TopTweets"))
    val replOut = Files.createTempDirectory("graft-repl-out").toString
    val jsPath = Repl.writeResult(mentionsRanged.toJSON.collect(),
      "gettopmentionsstring", replOut)
    val js = new String(java.nio.file.Files.readAllBytes(jsPath), "UTF-8")
    assert(js.contains("\"TopTweets\"") && js.contains("\"ScreenName\"") &&
      js.contains("\"FollowerCount\"") && js.contains("\"Text\"") &&
      js.contains("\"OriginalTweetId\""),
      s"REPL JSON lacks reference-shaped example structs: ${js.take(400)}")
    assert(retweetsRanged.columns.contains("TopUsers") &&
      retweetsRanged.columns.contains("Text"))

    // partition-pruned range read: correct rows + window_date reaches the
    // scan as a partition filter
    val pruned = AggregateStore.readRange(spark, s"$store/counts",
      we.head, we.last + 1)
    assert(pruned.count() == counts.count())
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") &&
      plan.contains("window_date"), s"no partition pruning in:\n$plan")

    // entity store read path (r10 verdict item 1): the range+entity scan
    // served from the stored layout equals full-scan + filter, the date
    // range reaches the scan as a partition filter, and the entity
    // equality is pushed into the parquet scan (prunable row groups —
    // the store's writer lays files out entity-sorted).
    val entityRead = graft.serve.Serve.entityFilter(AggregateStore.readRange(
      spark, s"$store/hashtags", we.head, we.last + 1), Some("spark"))
    val eplan = entityRead.queryExecution.executedPlan.toString
    assert(eplan.contains("PartitionFilters: [") &&
      eplan.contains("window_date"), s"no partition pruning in:\n$eplan")
    // the plan's toString truncates long filter lists — read the scan's
    // untruncated metadata for the pushed-filter assertion
    val pushed = entityRead.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.metadata("PushedFilters")
    }.mkString(";")
    assert(pushed.contains("EqualTo(entity,spark)"),
      s"entity equality not pushed to the scan: $pushed")
    val entityFull = graft.serve.Serve.rangeScanEntity(
      AggregateStore.read(spark, s"$store/hashtags"),
      we.head, we.last + 1, Some("spark"))
    assert(entityRead.exceptAll(entityFull).count() == 0 &&
      entityFull.exceptAll(entityRead).count() == 0,
      "pruned entity read differs from full-scan + filter")

    // recent-N via newest-first date widening == full-scan recent
    val recPruned = AggregateStore.readRecent(spark, s"$store/hashtags", 3)
    val recFull = graft.serve.Serve.recent(
      AggregateStore.read(spark, s"$store/hashtags"), 3)
    assert(recPruned.collect().toSeq == recFull.collect().toSeq,
      "readRecent differs from full-scan recent")

    // idempotent replay: re-writing the same batchId must not duplicate
    val preReplay = AggregateStore.read(spark, s"$store/hashtags").count()
    val lastBatch = AggregateStore.read(spark, s"$store/hashtags")
      .agg(max("batch")).collect()(0).getInt(0)
    // simulate the failure-replay of the last micro-batch: same id, no rows
    // lost, no rows duplicated after overwrite of its own directory
    val replayRows = AggregateStore.read(spark, s"$store/hashtags")
      .filter(col("batch") === lastBatch)
      .drop("batch", "rank", "window_date")
    AggregateStore.write(graft.agg.Windows.rankTopEntities(replayRows, 10),
      s"$store/hashtags", lastBatch.toLong)
    assert(AggregateStore.read(spark, s"$store/hashtags").count()
      == preReplay, "batch replay duplicated rows")

    // compaction: same data, fewer files
    def nFiles(p: String): Int = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(p)).count(_.getName.endsWith(".parquet"))
    }
    val before = nFiles(s"$store/counts")
    val rowsBefore = AggregateStore.read(spark, s"$store/counts")
      .select("window_end", "cnt").orderBy("window_end").collect().toSeq
    AggregateStore.compact(spark, s"$store/counts")
    val after = nFiles(s"$store/counts")
    val rowsAfter = AggregateStore.read(spark, s"$store/counts")
      .select("window_end", "cnt").orderBy("window_end").collect().toSeq
    assert(rowsBefore == rowsAfter, "compaction changed data")
    assert(after <= before, s"compaction grew file count $before -> $after")
    // no leftover _compacting / _precompact dirs after a clean promote
    assert(!new java.io.File(s"$store/counts_compacting").exists())
    assert(!new java.io.File(s"$store/counts_precompact").exists())

    // a stream RESUMED after compaction writes fresh batch=<id> dirs
    // beside batch=-1 — partition discovery must accept the mixed store
    val hashtagRows = AggregateStore.read(spark, s"$store/hashtags").count()
    AggregateStore.compact(spark, s"$store/hashtags")
    val resumed = AggregateStore.read(spark, s"$store/hashtags")
      .drop("batch", "rank", "window_date")
    AggregateStore.write(graft.agg.Windows.rankTopEntities(resumed, 10),
      s"$store/hashtags", 99L)
    val mixed = AggregateStore.read(spark, s"$store/hashtags")
    assert(mixed.filter(col("batch") === AggregateStore.CompactedBatchId)
      .count() == hashtagRows)
    assert(mixed.filter(col("batch") === 99).count() > 0)
  }

  test("compaction keeps the entity-sorted layout: each compacted part " +
      "file, read alone, is sorted by (entity, window_end)") {
    import spark.implicits._
    val store = Files.createTempDirectory("graft-cmplayout").toFile
      .toString + "/hashtags"
    // two micro-batches on one date, each entity-sorted on its own, with
    // interleaved entities: concatenated they read a a c c e g a a c c e g
    val entities = Seq("a", "a", "c", "c", "e", "g")
    def batchDf(b: Int) = entities.zipWithIndex.map { case (e, i) =>
      ((i + 1) * 3600L + b * 1800L, e, (10 * b + i).toLong)
    }.toDF("window_end", "entity", "follower_sum")
    (0 until 2).foreach(b =>
      AggregateStore.write(graft.agg.Windows.rankTopEntities(batchDf(b), 10),
        store, b.toLong))
    AggregateStore.compact(spark, store)
    import scala.jdk.CollectionConverters._
    val parts = Files.walk(java.nio.file.Paths.get(store)).iterator.asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
    assert(parts.nonEmpty)
    val rows = parts.map { p =>
      val got = spark.read.parquet(p.toString)
        .select("entity", "window_end").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(got == got.sorted, s"$p is not entity-sorted: $got")
      got
    }
    assert(rows.map(_.size).sum == 2 * entities.size)
  }

  test("the aggregate-store layout has one writer: no " +
      "partitionBy(\"window_date\") in src/main outside AggregateStore") {
    val partitioned = """partitionBy\(\s*"window_date"""".r
    val store = """(?s)\nobject AggregateStore \{.*?\n\}\n""".r
    val outside = MainSources.all.flatMap { case (p, src) =>
      val rest = store.findFirstIn(src) match {
        case Some(body) =>
          assert(partitioned.findAllIn(body).size == 1,
            s"AggregateStore in $p does not partition by date exactly once")
          src.replace(body, "")
        case None => src
      }
      val n = partitioned.findAllIn(rest).size
      if (n > 0) Some(s"$p: $n") else None
    }
    assert(outside.isEmpty, outside.mkString("; "))
    assert(MainSources.all.exists { case (_, src) =>
      store.findFirstIn(src).isDefined }, "AggregateStore not found")
  }

  test("one configuration for the live pipeline: runUnified takes four " +
      "parameters, and the options no product caller set and the " +
      "store's one-line wrappers are gone from src/main") {
    val gone = Seq("includeExamples", "filesPerPartition", "def writeRanked",
      "def readRangeEntity", "def adjustedTumblingCountsStream",
      "def qualityFilterStream", "def bigramPairs", "def supervise(")
    val found = for {
      (p, src) <- MainSources.all
      name <- gone if src.contains(name)
    } yield s"$p: $name"
    assert(found.isEmpty, found.mkString("; "))
    val runUnified = """(?s)def runUnified\((.*?)\)\s*:""".r
    val params = MainSources.all.flatMap { case (_, src) =>
      runUnified.findAllMatchIn(src).map(_.group(1).split(",").length) }
    assert(params == Seq(4), s"runUnified parameter lists: $params")
  }

  test("compaction vs concurrent readers: every read is a full snapshot " +
      "or a loud failure, never silent partial data (r13 verdict item 4)") {
    import spark.implicits._
    val store = Files.createTempDirectory("graft-cmprace").toFile
      .toString + "/hashtags"
    // three micro-batches, one date partition each
    def batchDf(day: Int) = Seq.tabulate(6)(i =>
      (day * 86400L + (i + 1) * 3600L, s"e${i % 3}",
        (10 * day + i).toLong)).toDF("window_end", "entity", "follower_sum")
    (0 until 3).foreach(b =>
      AggregateStore.write(graft.agg.Windows.rankTopEntities(batchDf(b), 10),
        store, b.toLong))
    def snap() = AggregateStore.read(spark, store)
      .select("window_end", "entity", "follower_sum")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sortBy(x => (x._1, x._2)).toSeq
    val expected = snap()
    assert(expected.size == 18)

    // a reader PLANNED before the compaction (its file listing resolved
    // against the pre-compaction layout) but executed after
    val planned = AggregateStore.readRange(spark, store, 0L, 4L * 86400L)
      .select("window_end", "entity", "follower_sum")

    // reads AT the two in-between swap states, deterministically via the
    // probe seam (no thread racing)
    var asideLoud = false
    var promotedRows: Seq[(Long, String, Long)] = Nil
    AggregateStore.compactProbe = Some {
      case "aside" =>
        // nothing at the store path: a new reader must fail LOUDLY
        // (PATH_NOT_FOUND), not observe an empty store
        asideLoud =
          try { AggregateStore.read(spark, store).collect(); false }
          catch {
            case _: org.apache.spark.sql.AnalysisException => true }
      case "promoted" => promotedRows = snap() // full snapshot already
      case _ => ()
    }
    try AggregateStore.compact(spark, store)
    finally AggregateStore.compactProbe = None
    assert(asideLoud,
      "read during the aside window returned data instead of failing")
    assert(promotedRows == expected,
      "read at the promoted state is not the full snapshot")

    // the pre-planned reader: either the full snapshot (never partial,
    // never duplicated) or a loud execution failure the serving client
    // retries by re-planning — ignoreMissingFiles stays OFF (default)
    // or this loud failure would become a silent partial read
    assert(!spark.conf.get("spark.sql.files.ignoreMissingFiles").toBoolean)
    val outcome =
      try Right(planned.collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        .sortBy(x => (x._1, x._2)).toSeq)
      catch { case e: Throwable => Left(e) }
    outcome match {
      case Right(rows) => assert(rows == expected,
        "pre-planned reader saw a partial/duplicated snapshot")
      case Left(_) => () // loud is acceptable; silent partial is not
    }

    // post-compaction serving reads reproduce the pre-compaction
    // results exactly: no loss, no dup
    assert(snap() == expected)
    val ranged = AggregateStore.readRange(spark, store, 86400L, 2 * 86400L)
      .select("window_end", "entity", "follower_sum")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sortBy(x => (x._1, x._2)).toSeq
    assert(ranged == expected.filter(
      x => x._1 >= 86400L && x._1 < 2 * 86400L))
    val recent = AggregateStore.readRecent(spark, store, 5)
      .collect().map(r => (r.getAs[Long]("window_end"),
        r.getAs[String]("entity"), r.getAs[Long]("follower_sum"))).toSeq
    assert(recent == expected.sortBy(x => (-x._1, x._2)).take(5))
  }

  test("serving retry across a compact: retryingServe re-plans onto " +
      "the exact post-compact relation, exhausts loudly at the aside " +
      "state, rethrows non-race failures immediately; the REPL range " +
      "command survives an interleaved compact (r14 verdict item 4)") {
    import spark.implicits._
    import graft.serve.Serve
    val root = Files.createTempDirectory("graft-retry").toString
    val store = s"$root/hashtags"
    def batchDf(day: Int) = Seq.tabulate(6)(i =>
      (day * 86400L + (i + 1) * 3600L, s"e${i % 3}",
        (10 * day + i).toLong, (i + 1).toLong))
      .toDF("window_end", "entity", "follower_sum", "tweet_count")
    (0 until 3).foreach(b =>
      AggregateStore.write(graft.agg.Windows.rankTopEntities(batchDf(b), 10),
        store, b.toLong))
    def snap() = AggregateStore.read(spark, store)
      .select("window_end", "entity", "follower_sum")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sortBy(x => (x._1, x._2)).toSeq
    val expected = snap()

    // a REPL command planned-and-executed through serveLine DURING the
    // compact's promoted state, and the aside state's loud exhaustion
    val outDir = Files.createTempDirectory("graft-retry-out").toString
    var promotedServed: Option[java.nio.file.Path] = None
    var asideLoud = false
    AggregateStore.compactProbe = Some {
      case "aside" =>
        // nothing at the store path; the retry wrapper must EXHAUST
        // and rethrow (attempts bounded), not spin or return empty
        asideLoud =
          try {
            Serve.retryingServe(attempts = 2, backoffMs = 1)(
              snap()); false
          } catch { case e: Throwable => Serve.compactionRace(e) }
      case "promoted" =>
        promotedServed = Repl.serveLine(spark, root, outDir,
          "gettophashtagsstring 0 345600")
      case _ => ()
    }
    try AggregateStore.compact(spark, store)
    finally AggregateStore.compactProbe = None
    assert(asideLoud, "aside-state read did not fail with the race " +
      "signature after exhausting retries")
    val served = java.nio.file.Files.readAllLines(promotedServed.get)
    assert(served.size == expected.size,
      s"REPL served ${served.size} rows mid-compact, want ${expected.size}")

    // deterministic retry: first attempt dies with the executor-side
    // race signature (wrapped the way Spark wraps it), second re-plans
    // and returns the exact post-compact relation
    var attempts = 0
    val rows = Serve.retryingServe(backoffMs = 1) {
      attempts += 1
      if (attempts == 1)
        throw new org.apache.spark.SparkException("job aborted",
          new java.io.FileNotFoundException(
            s"File $store/batch=0/part-0 does not exist"))
      snap()
    }
    assert(attempts == 2 && rows == expected,
      "retry did not land on the post-compact snapshot")

    // non-race failures rethrow on the FIRST attempt
    var calls = 0
    intercept[IllegalStateException] {
      Serve.retryingServe(backoffMs = 1) {
        calls += 1
        throw new IllegalStateException("genuine bug")
      }
    }
    assert(calls == 1, s"non-race failure was retried $calls times")

    // a NEVER-EXISTED store fails on the FIRST attempt (r15 verdict
    // item 3): a typo'd path is a user error, not a swap — no ladder
    var typoCalls = 0
    intercept[Exception] {
      Serve.retryingServe(backoffMs = 1, storePath = s"$root/typo") {
        typoCalls += 1
        spark.read.parquet(s"$root/typo").collect()
      }
    }
    assert(typoCalls == 1,
      s"never-existed store was retried $typoCalls times")
    // an unrelated missing path fails fast even when the store
    // exists: the plan-time race signature must NAME the store
    var unrelatedCalls = 0
    intercept[Exception] {
      Serve.retryingServe(backoffMs = 1, storePath = store) {
        unrelatedCalls += 1
        spark.read.parquet(s"$root/unrelated-dir").collect()
      }
    }
    assert(unrelatedCalls == 1,
      s"unrelated missing path was retried $unrelatedCalls times")
    // with the store handle the two swap signatures still retry:
    // plan-time absence NAMING an existed-at-entry store, and the
    // onRetry hook sees exactly the retries the log reports
    var swapCalls = 0
    var hookCalls = 0
    val rows3 = Serve.retryingServe(backoffMs = 1, storePath = store,
      onRetry = (_, _) => hookCalls += 1) {
      swapCalls += 1
      if (swapCalls == 1)
        throw new RuntimeException(
          s"[PATH_NOT_FOUND] Path does not exist: file:$store")
      snap()
    }
    assert(swapCalls == 2 && hookCalls == 1 && rows3 == expected,
      "store-naming plan-time race did not retry onto the snapshot")
    // the REPL surfaces a typo'd store root as an immediate error
    intercept[Exception] {
      Repl.serveLine(spark, s"$root/nope", outDir, "getsummary")
    }

    // and the post-compact REPL read (fresh plan, no race) is exact
    val after = Repl.serveLine(spark, root, outDir,
      "gettophashtagsstring 0 345600")
    assert(java.nio.file.Files.readAllLines(after.get).size ==
      expected.size)
  }

  test("chained two-level stateful top-k == batch rank (OP-28, Spark>=3.4)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-replay4").toFile
    Files.write(new java.io.File(dir, "part-0.jsonl").toPath,
      fixtureLines.mkString("\n").getBytes)

    val out = StreamingPipeline.topEntitiesPayloadStreamChained(
      StreamingPipeline.tweetStream(spark, dir.toString), 2)
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("chained").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("chained")
      .select(col("rank_window_end"),
        transform(col("top_entities"), e => e.getField("entity"))
          .as("entities"))
    assert(streamed.count() > 0, "chained query emitted nothing")

    val batchTweets = graft.ingest.Tables.projectTweets(
      Tables.tweetsFromFile(spark, dir.toString + "/part-0.jsonl"))
    val batchAgg = batchTweets
      .filter(size(col("hashtags")) > 0)
      .select(col("ts"), explode(col("hashtags")).as("entity"),
        col("followerCount"))
      .groupBy(window(col("ts"), "10 minutes", "1 minute"), col("entity"))
      .agg(sum("followerCount").cast("double").as("follower_sum"))
      .select(col("window.end").cast("long").as("rank_window_end"),
        col("entity"), col("follower_sum"))
    val batchTop = graft.agg.Windows.rankTopEntities(
        batchAgg.withColumnRenamed("rank_window_end", "window_end"), 2)
      .groupBy(col("window_end").as("rank_window_end"))
      .agg(collect_list(struct(col("rank"), col("entity"))).as("re"))
      .select(col("rank_window_end"),
        transform(array_sort(col("re")), x => x.getField("entity"))
          .as("entities"))

    val joined = streamed.join(batchTop, "rank_window_end")
    assert(joined.count() == streamed.count())
    assert(joined.filter(streamed("entities") =!= batchTop("entities"))
      .count() == 0, "chained streaming top-k differs from batch rank")
  }

  test("chained two-level stateful top-k with FULL payloads == batch " +
      "topEntityPayloads (the complete reference emission, r12)") {
    val dir = Files.createTempDirectory("graft-replay4p").toFile
    Files.write(new java.io.File(dir, "part-0.jsonl").toPath,
      fixtureLines.mkString("\n").getBytes)

    val out = StreamingPipeline.topEntitiesPayloadStreamChained(
      StreamingPipeline.tweetStream(spark, dir.toString), 2)
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("chainedp").start()
    q.processAllAvailable()
    q.stop()

    def canon(c: org.apache.spark.sql.Column) = transform(c, t => struct(
      t.getField("id").as("id"),
      t.getField("followerCount").as("followerCount"),
      t.getField("text").as("text"),
      t.getField("screenName").as("screenName"),
      t.getField("originalTweetId").as("originalTweetId")))
    val streamed = spark.table("chainedp")
      .select(col("rank_window_end"),
        transform(col("top_entities"), e => struct(
          e.getField("entity").as("entity"),
          e.getField("tweetCount").as("tweet_count"),
          e.getField("weight").cast("long").as("fsum"),
          canon(e.getField("topTweets")).as("tt"))).as("ents"))
    assert(streamed.count() > 0, "payload chained query emitted nothing")
    // non-vacuous: payloads actually ride through the second level
    assert(streamed.filter(size(element_at(col("ents"), 1)
      .getField("tt")) > 1).count() > 0,
      "no emitted entity carried more than one example through level 2")

    val projected = graft.ingest.Tables.projectTweets(
      Tables.tweetsFromFile(spark, dir.toString + "/part-0.jsonl"))
    val bp = graft.agg.Payloads.topEntityPayloads(
      projected, col("hashtags"), topN = 2)
    val batchArr = bp.groupBy(col("window_end").as("rank_window_end"))
      .agg(array_sort(collect_list(struct(col("rank"), struct(
        col("entity").as("entity"),
        col("tweet_count").as("tweet_count"),
        col("followerCountSum").cast("long").as("fsum"),
        canon(col("topTweets")).as("tt")).as("e")))).as("re"))
      .select(col("rank_window_end"),
        transform(col("re"), x => x.getField("e")).as("ents"))

    val joined = streamed.join(batchArr, "rank_window_end")
    assert(joined.count() == streamed.count())
    assert(joined.filter(streamed("ents") =!= batchArr("ents"))
      .count() == 0,
      "chained full-payload streaming differs from batch topEntityPayloads")
  }

  test("restart from checkpoint resumes without loss or duplication") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-resume").toFile
    val store = Files.createTempDirectory("graft-rstore").toString
    val ckpt = Files.createTempDirectory("graft-rckpt").toString
    val (first, second) = fixtureLines.splitAt(150)
    Files.write(new java.io.File(dir, "b1.jsonl").toPath,
      first.mkString("\n").getBytes)

    val q1 = StreamingPipeline.runUnified(spark, dir.toString, store, ckpt)
    q1.processAllAvailable()
    q1.stop() // simulate shutdown

    Files.write(new java.io.File(dir, "b2.jsonl").toPath,
      second.mkString("\n").getBytes)
    val q2 = StreamingPipeline.runUnified(spark, dir.toString, store, ckpt)
    q2.processAllAvailable()
    q2.stop()

    val streamed = AggregateStore.read(spark, s"$store/hashtags")
      .select("window_end", "entity", "tweet_count", "follower_sum", "rank")
    val batchAgg = batchRankedHashtags(dir.toString)
    val emitted = streamed.select("window_end").distinct()
    val expect = batchAgg.join(emitted, "window_end")
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(expect).count() == 0 &&
      expect.exceptAll(streamed).count() == 0,
      "resumed stream diverges from batch on emitted windows")
  }

  test("all-time content dedup drops a cross-batch re-crawl; earlier " +
      "batch's copy wins (dedupAllTimeStream)") {
    import spark.implicits._
    val srcDir = Files.createTempDirectory("graft-adt-src").toString + "/d"
    val out = Files.createTempDirectory("graft-adt-out").toString
    val ckpt = Files.createTempDirectory("graft-adt-ckpt").toString
    // phase 1: docs 0..49, unique texts
    (0L until 50L).map(i => (i, s"text $i", "web")).toDF(
      "doc_id", "text", "source").coalesce(1).write.parquet(srcDir)
    val q1 = StreamingPipeline.dedupAllTimeStream(
        StreamingPipeline.parquetStream(spark, srcDir,
          maxFilesPerTrigger = Some(1)))
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        b.write.mode("overwrite").parquet(s"$out/batch=$id")
      }
      .option("checkpointLocation", ckpt).start()
    q1.processAllAvailable()
    // phase 2 (later batch): 20 re-crawls of phase-1 texts under NEW
    // doc ids + 10 genuinely new docs, one of them duplicated in-batch
    val recrawls = (0L until 20L).map(i => (1000L + i, s"text $i", "web"))
    val fresh = (100L until 110L).map(i => (i, s"fresh $i", "web"))
    val inBatchDup = Seq((2000L, "fresh 100", "web"))
    (recrawls ++ fresh ++ inBatchDup).toDF("doc_id", "text", "source")
      .coalesce(1).write.mode("append").parquet(srcDir)
    q1.processAllAvailable()
    q1.stop()

    val survived = spark.read.parquet(out)
    // one survivor per distinct text, all 60 distinct texts present
    assert(survived.count() == 60 &&
      survived.select("text").distinct().count() == 60)
    // every re-crawled text survives as the PHASE-1 doc (earlier batch
    // wins), never the re-crawl id
    assert(survived.filter(col("doc_id") >= 1000L &&
      col("doc_id") < 2000L).count() == 0,
      "a re-crawled duplicate displaced the original")
    // "fresh 100" survived exactly once (in-batch dup collapsed)
    assert(survived.filter(col("text") === "fresh 100").count() == 1)
    graft.ops.Reuse.freeAll(spark)
  }

  test("curation sink resumes from checkpoint without loss or " +
      "duplication: batch-keyed idempotent writes across a restart") {
    val docs = Tables.documents(spark, sf("sf0.001"))
      .select("doc_id", "text", "source")
    val emb = Tables.embeddings(spark, sf("sf0.001"))
    val benchMax = 20L
    val snap = graft.ops.Curation.snapshot(docs, emb, benchMax)
    val survivors = snap.c5.localCheckpoint(true)
    val keepers = snap.keeperSpans.localCheckpoint(true)
    val bv = snap.benchVecs.localCheckpoint(true)
    val bh = snap.benchShingles.localCheckpoint(true)
    val bits = snap.bloomBits.localCheckpoint(true)
    val embSnap = emb.localCheckpoint(true)
    graft.ops.Reuse.freeAll(spark)

    val corpus = docs.filter(col("doc_id") >= benchMax)
      .localCheckpoint(true)
    val srcDir = Files.createTempDirectory("graft-cres-src").toString + "/d"
    val out = Files.createTempDirectory("graft-cres-out").toString
    val ckpt = Files.createTempDirectory("graft-cres-ckpt").toString
    def sink() = StreamingPipeline.curationSink(
        StreamingPipeline.parquetStream(spark, srcDir,
          maxFilesPerTrigger = Some(1)),
        embSnap, curationArtifacts(keepers, bv, bh, bits), out)
      .option("checkpointLocation", ckpt)
    // phase 1: half the corpus, then a simulated shutdown
    corpus.filter(col("doc_id") % 2 === 0).repartition(2)
      .write.parquet(srcDir)
    val q1 = sink().start()
    q1.processAllAvailable()
    q1.stop()
    // phase 2: the rest arrives, a NEW query resumes the same checkpoint
    corpus.filter(col("doc_id") % 2 === 1).repartition(2)
      .write.mode("append").parquet(srcDir)
    val q2 = sink().start()
    q2.processAllAvailable()
    q2.stop()

    val streamed = spark.read.parquet(out)
      .select("doc_id", "text", "source")
    // every survivor exactly once (no replay duplicates), none lost
    assert(streamed.count() == survivors.count() && survivors.count() > 0)
    assert(streamed.except(survivors).isEmpty &&
      survivors.except(streamed).isEmpty,
      "resumed curation stream diverges from the batch survivor set")
    assert(streamed.groupBy("doc_id").count()
      .filter(col("count") > 1).count() == 0,
      "replayed batches duplicated survivors")
    graft.ops.Reuse.freeAll(spark)
  }

  test("OP-19 delta: rows later than the watermark drop in streaming, stay in batch") {
    import spark.implicits._
    val base = 1704067200000L
    def line(id: Long, tsMs: Long) =
      s"""{"id":$id,"text":"x #t","timestamp_ms":"$tsMs","entities":{"hashtags":[{"text":"t"}],"user_mentions":[]},"user":{"followers_count":1,"screen_name":"u"},"retweeted_status":null}"""
    // batch 1 advances event time far ahead; batch 2 arrives 30 min late
    // (well past the 5 s disorder bound of Query.cs:14)
    val dir = Files.createTempDirectory("graft-late").toFile
    val store = Files.createTempDirectory("graft-lstore").toString
    val ckpt = Files.createTempDirectory("graft-lckpt").toString
    Files.write(new java.io.File(dir, "b1.jsonl").toPath,
      (0 until 50).map(i => line(i, base + i * 60000L))
        .mkString("\n").getBytes)
    val q = StreamingPipeline.runUnified(spark, dir.toString, store, ckpt)
    q.processAllAvailable()
    Files.write(new java.io.File(dir, "b2.jsonl").toPath,
      Seq(line(999, base + 1000L)).mkString("\n").getBytes) // 30+ min late
    q.processAllAvailable()
    q.stop()

    // Trill would ADJUST the late row into bounds; Spark DROPS it
    // (SURVEY.md §7.3 documented delta). The late tweet (id 999, weight 1
    // in window ending base+600s) must not appear in streamed output.
    val streamed = graft.stream.AggregateStore.read(spark, s"$store/hashtags")
    val firstWindowEnd = base / 1000 + 600
    val streamedFirst = streamed
      .filter(col("window_end") === firstWindowEnd)
      .agg(sum("tweet_count")).as[Long].collect().headOption.getOrElse(0L)
    val batch = graft.ingest.Tables.projectTweets(
      Tables.tweetsFromFile(spark, dir.toString))
      .filter(size(col("hashtags")) > 0)
    val batchFirst = batch
      .filter(col("ts").cast("long") < firstWindowEnd).count()
    assert(batchFirst == streamedFirst + 1,
      s"expected batch=$batchFirst to exceed streamed=$streamedFirst by the 1 late row")
  }

  test("events parquet replayed as a stream matches the batch hopping counts") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-evstream").toFile
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet"),
      new java.io.File(dir, "events.parquet").toPath)
    val agg = StreamingPipeline.eventStream(spark, dir.toString)
      .withWatermark("ts", "5 seconds")
      .groupBy(window(col("ts"), "10 minutes", "1 minute"))
      .agg(count("*").as("cnt"))
      .select(col("window.end").cast("long").as("window_end"), col("cnt"))
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("evstream").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("evstream")
    assert(streamed.count() > 0)
    val batch = graft.agg.Windows.hoppingCounts(
      Tables.events(spark, sf("sf0.001")))
    val joined = streamed
      .join(batch.withColumnRenamed("cnt", "batch_cnt"), "window_end")
    assert(joined.count() == streamed.count())
    assert(joined.filter(col("cnt") =!= col("batch_cnt")).count() == 0,
      "streamed hopping counts differ from the oracle-verified batch form")
  }

  test("events stream starts on an EMPTY directory and picks up files " +
      "dropped later (r7 ADVICE: schema fallback)") {
    import spark.implicits._
    // Stream definition must not throw on a file-less source dir — the
    // drop-files-here layout starts the stream before any file arrives;
    // inference falls back to the static int64-nanos events schema.
    val dir = Files.createTempDirectory("graft-evstream-empty").toFile
    val agg = StreamingPipeline.eventStream(spark, dir.toString)
      .select(col("event_id"), expr("unix_micros(ts)").as("us"))
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("evstream_empty").start()
    q.processAllAvailable()
    assert(spark.table("evstream_empty").count() == 0)
    // Drop a nanos-long parquet file in; rows must flow with the same
    // ns→µs normalization the batch reader applies.
    val us = 1704110400000000L
    val stage = Files.createTempDirectory("graft-evstream-stage").toFile
    Seq((1L, us * 1000L, 7L, "click", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(stage.toString)
    val part = stage.listFiles().find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.copy(part.toPath,
      new java.io.File(dir, "drop.parquet").toPath)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("evstream_empty")
      .as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, us)))
  }

  test("validity filter drops bad lines (OP-04/14)") {
    val dir = Files.createTempDirectory("graft-replay2").toFile
    Files.write(new java.io.File(dir, "part-0.jsonl").toPath,
      fixtureLines.mkString("\n").getBytes)
    val parsed = Tables.tweetsFromFile(spark, dir.toString + "/part-0.jsonl")
    assert(parsed.count() == 300) // 304 lines, 4 dropped (missing/empty/zero ts, non-JSON)
  }

  test("streaming temperature resample == batch resample (ext45 twin)") {
    val batchDocs = graft.ingest.Tables.documents(spark, sf("sf0.001"))
      .select("doc_id", "lang", "source")
    // Rates computed offline from the batch snapshot (the production
    // split: weights per corpus generation, filter on the live stream).
    val rates = graft.ops.Sampling
      .temperatureRates(batchDocs, 250L, Seq("lang"))
    val src = StreamingPipeline.parquetStream(spark,
      sf("sf0.001") + "/documents.parquet")
    val q = graft.ops.Sampling.temperatureResampleAgainst(
      src.select("doc_id", "lang", "source"), rates,
      col("doc_id"), Seq("lang"))
      .writeStream.outputMode("append").format("memory")
      .queryName("mix_stream").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("mix_stream").select("doc_id")
    val batch = graft.ops.Sampling.temperatureResample(
      batchDocs, col("doc_id"), 250L, Seq("lang")).select("doc_id")
    assert(streamed.count() > 0)
    assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty,
      "streamed resample differs from the batch selection")
  }

  test("streaming quality filter == batch quantile curation (ext67 twin)") {
    val batchDocs = graft.ingest.Tables.documents(spark, sf("sf0.001"))
      .select("doc_id", "lang", "text")
    // Thresholds computed offline from the batch snapshot (a corpus
    // property — a running quantile would drift with arrival order).
    val thr = graft.ops.TextOps.quality(batchDocs)
      .groupBy("lang")
      .agg(expr("percentile(quality_score, 0.5D)").as("p50"))
    val src = StreamingPipeline.parquetStream(spark,
      sf("sf0.001") + "/documents.parquet")
    val q = graft.ops.TextOps.quantileKeep(
        graft.ops.TextOps.quality(src.select("doc_id", "lang", "text")), thr)
      .select("doc_id")
      .writeStream.outputMode("append").format("memory")
      .queryName("qual_stream").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("qual_stream")
    val batch = SparkEntry.queries("ext67_quantile_filter")(
      spark, sf("sf0.001")).select("doc_id")
    assert(streamed.count() > 0)
    assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty,
      "streamed quality filter differs from the batch curation")
    graft.ops.Reuse.freeAll(spark)
  }

  test("streaming centroid scoring == batch distances (ext77 twin)") {
    val batchEmb = graft.ingest.Tables.embeddings(spark, sf("sf0.001"))
    // Centroids computed offline from the corpus snapshot (updating them
    // in-stream would rescore already-emitted vectors).
    val cents = graft.ops.LabelAudit.labelCentroids(batchEmb)
    val src = StreamingPipeline.parquetStream(spark,
      sf("sf0.001") + "/embeddings.parquet")
    val q = graft.ops.LabelAudit.centroidDistances(src, cents)
      .writeStream.outputMode("append").format("memory")
      .queryName("cent_stream").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("cent_stream")
    val batch = graft.ops.LabelAudit.centroidDistances(batchEmb, cents)
    assert(streamed.count() == batchEmb.count())
    assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty,
      "streamed centroid distances differ from the batch operator")
    // the snapshot-level top-N rank is exactly the batch distances ranked
    val ranked = SparkEntry.queries("ext77_label_centroid_outliers")(
      spark, sf("sf0.001")).select("label", "vec_id", "dist")
    assert(ranked.except(batch.select("label", "vec_id", "dist")).isEmpty,
      "ext77 outliers are not a subset of the scored distances")
    graft.ops.Reuse.freeAll(spark)
  }

  test("streaming decontamination == batch benchmarkOverlap (ext32 twin)") {
    val docs = graft.ingest.Tables.documents(spark, sf("sf0.001"))
    val bench = docs.filter(col("doc_id") < 20)
    val corpus = docs.filter(col("doc_id") >= 20)
    // Eval-suite membership computed once offline, as in production.
    val benchH = graft.ops.Dedup.benchmarkShingles(bench)
    val corpusDir =
      Files.createTempDirectory("graft-decon-src").toString + "/docs"
    corpus.select("doc_id", "text").write.parquet(corpusDir)
    val out = runSink(corpusDir)((s, o) =>
      StreamingPipeline.partialsSink(s, fixed(benchH),
        (b, a) => graft.ops.Dedup.benchmarkOverlapAgainst(b, a.head), o))
    val streamed = spark.read.parquet(out)
      .select("doc_id", "n_sh", "n_shared", "overlap_frac", "contaminated")
    val batch = graft.ops.Dedup.benchmarkOverlap(
      corpus.select("doc_id", "text"), bench.select("doc_id", "text"))
    assert(streamed.count() == batch.count() && batch.count() > 0)
    assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty,
      "streamed decontamination scores differ from the batch operator")
    graft.ops.Reuse.freeAll(spark)
  }

  test("streaming bloom probe == batch per-doc relation (ext102 twin)") {
    val docs = graft.ingest.Tables.documents(spark, sf("sf0.001"))
    val bench = docs.filter(col("doc_id") < 20)
    val corpus = docs.filter(col("doc_id") >= 20)
    // Membership set and bit set computed once offline, as in
    // production — the stream only probes.
    val benchH = graft.ops.Dedup.benchmarkShingles(bench)
      .localCheckpoint(true)
    val bits = graft.ops.Sketches.bloomBits(benchH).localCheckpoint(true)
    val srcDir = Files.createTempDirectory("graft-bloom-src").toString + "/d"
    corpus.select("doc_id", "text").write.parquet(srcDir)
    val out = runSink(srcDir)((s, o) =>
      StreamingPipeline.partialsSink(s, fixed(benchH, bits),
        (b, a) => graft.ops.Sketches.bloomPerDoc(b, a(0), a(1)), o))
    val streamed = spark.read.parquet(out)
      .select("doc_id", "n_sh", "n_exact", "n_bloom")
    val batch = graft.ops.Sketches.bloomPerDoc(
      corpus.select("doc_id", "text"), benchH, bits)
    assert(streamed.count() == batch.count() && batch.count() > 0)
    assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty,
      "streamed bloom probe rows differ from the batch operator")
    graft.ops.Reuse.freeAll(spark)
  }

  test("streaming pq encode == batch codes (ext107 twin)") {
    val emb = graft.ingest.Tables.embeddings(spark, sf("sf0.001"))
    // Codebooks built once offline from the corpus snapshot.
    val cb = graft.ops.Similarity.pqCodebooks(emb).localCheckpoint(true)
    val src = StreamingPipeline.parquetStream(spark,
      sf("sf0.001") + "/embeddings.parquet")
    val out = Files.createTempDirectory("graft-pq-out").toString
    val ckpt = Files.createTempDirectory("graft-pq-ckpt").toString
    val q = StreamingPipeline.partialsSink(src, fixed(cb),
        (b, a) => graft.ops.Similarity.pqCodes(b, a.head), out)
      .option("checkpointLocation", ckpt).start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.read.parquet(out)
      .select("vec_id", "m", "code")
    val batch = graft.ops.Similarity.pqCodes(emb, cb)
    assert(streamed.count() == batch.count() && batch.count() > 0)
    assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty,
      "streamed pq codes differ from the batch encoder")
    graft.ops.Reuse.freeAll(spark)
  }

  test("streaming repetition surgery == batch operator (ext123 twin — " +
      "doc-local, so stateless at any batching)") {
    val docs = graft.ingest.Tables.documents(spark, sf("sf0.001"))
      .select("doc_id", "text")
    val srcDir = Files.createTempDirectory("graft-rs-src").toString + "/d"
    docs.repartition(3).write.parquet(srcDir)
    val out = runSink(srcDir)((s, o) => StreamingPipeline.partialsSink(
      s, graft.ops.Dedup.repetitionSurgery(_), o))
    val streamed = StreamingPipeline.partials(spark, out)
      .select("doc_id", "n_toks", "n_toks_cut", "clean_text")
    val batch = graft.ops.Dedup.repetitionSurgery(docs)
    assert(streamed.count() == batch.count() && batch.count() > 0)
    assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty,
      "streamed repetition surgery differs from the batch operator")
    graft.ops.Reuse.freeAll(spark)
  }

  test("streaming dup-span extraction against the stored shared-hash " +
      "artifact == batch dupSpans (ext125 twin)") {
    val docs = graft.ingest.Tables.documents(spark, sf("sf0.001"))
      .select("doc_id", "text")
    // The shared-hash set is a corpus-snapshot artifact, built once
    // offline (ext91's min!=max aggregate).
    val shared = graft.ops.Dedup.dupSharedHashes(docs)
      .localCheckpoint(true)
    val srcDir = Files.createTempDirectory("graft-ds-src").toString + "/d"
    docs.repartition(3).write.parquet(srcDir)
    val out = runSink(srcDir)((s, o) =>
      StreamingPipeline.partialsSink(s, fixed(shared),
        (b, a) => graft.ops.Dedup.dupSpansAgainst(b, a.head), o))
    val streamed = spark.read.parquet(out)
      .select("doc_id", "span_start", "span_len")
    val batch = graft.ops.Dedup.dupSpans(docs)
    assert(streamed.count() == batch.count() && batch.count() > 0)
    assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty,
      "streamed dup spans differ from the batch operator")
    graft.ops.Reuse.freeAll(spark)
  }

  test("streaming semantic decontamination == batch flags at any " +
      "batching (ext122 twin)") {
    val emb = graft.ingest.Tables.embeddings(spark, sf("sf0.001"))
    val bench = emb.filter(col("vec_id") < 20).localCheckpoint(true)
    val corpus = emb.filter(col("vec_id") >= 20)
    val srcDir = Files.createTempDirectory("graft-sd-src").toString + "/d"
    corpus.repartition(3).write.parquet(srcDir)
    val out = runSink(srcDir)((s, o) =>
      StreamingPipeline.partialsSink(s, fixed(bench),
        (b, a) => graft.ops.Similarity.semanticDecontaminate(b, a.head), o))
    val streamed = spark.read.parquet(out)
      .select("vec_id", "bench_id", "max_cos", "contaminated")
    val batch = graft.ops.Similarity.semanticDecontaminate(corpus, bench)
    assert(streamed.count() == batch.count() && batch.count() > 0)
    assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty,
      "streamed decontamination flags differ from the batch operator")
    graft.ops.Reuse.freeAll(spark)
  }

  test("composed streaming curation sink == batch pipeline survivors " +
      "on the same snapshot artifacts at any batching (ext126 ingest " +
      "twin, r10 item 2)") {
    val docs = graft.ingest.Tables.documents(spark, sf("sf0.001"))
      .select("doc_id", "text", "source")
    val emb = graft.ingest.Tables.embeddings(spark, sf("sf0.001"))
    val benchMax = 20L
    // the batch pipeline run on the snapshot: survivors + the four
    // offline artifacts the ingest sink reads
    val snap = graft.ops.Curation.snapshot(docs, emb, benchMax)
    val batchSurvivors = snap.c5.localCheckpoint(true)
    val keepers = snap.keeperSpans.localCheckpoint(true)
    val bv = snap.benchVecs.localCheckpoint(true)
    val bh = snap.benchShingles.localCheckpoint(true)
    val bits = snap.bloomBits.localCheckpoint(true)
    val embSnap = emb.localCheckpoint(true)
    graft.ops.Reuse.freeAll(spark)

    val corpus = docs.filter(col("doc_id") >= benchMax)
    val srcDir = Files.createTempDirectory("graft-cur-src").toString + "/d"
    corpus.repartition(4).write.parquet(srcDir)
    val out = Files.createTempDirectory("graft-cur-out").toString
    val ckpt = Files.createTempDirectory("graft-cur-ckpt").toString
    val q = StreamingPipeline.curationSink(
        StreamingPipeline.parquetStream(spark, srcDir,
          maxFilesPerTrigger = Some(1)),
        embSnap, curationArtifacts(keepers, bv, bh, bits), out)
      .option("checkpointLocation", ckpt).start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.read.parquet(out)
      .select("doc_id", "text", "source")
    assert(streamed.count() == batchSurvivors.count() &&
      batchSurvivors.count() > 0)
    assert(streamed.except(batchSurvivors).isEmpty &&
      batchSurvivors.except(streamed).isEmpty,
      "streamed curation survivors differ from the batch pipeline's")
    // at least one doc must have been REMOVED by the chain, or the
    // twin proves nothing
    assert(batchSurvivors.count() < corpus.count(),
      "curation chain removed nothing — twin is vacuous")

    // mix/pack card served from the accumulated ingest state == the
    // batch card's stage 6/7 rows over the same survivors
    val stateCard = graft.ops.Curation.mixPackRows(
      StreamingPipeline.partials(spark, out)
        .select("doc_id", "text", "source"), tokenBudget = 1000000L)
    val batchCard = graft.ops.Curation.mixPackRows(
      batchSurvivors, tokenBudget = 1000000L)
    assert(stateCard.count() == batchCard.count() && batchCard.count() > 0)
    assert(stateCard.exceptAll(batchCard).isEmpty &&
      batchCard.exceptAll(stateCard).isEmpty,
      "state-folded mix/pack card differs from the batch card")

    // the optional PII-redaction tail: same survivor set, redaction
    // counts surfaced (zero on this PII-free corpus, text unchanged)
    val out2 = Files.createTempDirectory("graft-cur2-out").toString
    val ckpt2 = Files.createTempDirectory("graft-cur2-ckpt").toString
    val q2 = StreamingPipeline.curationSink(
        StreamingPipeline.parquetStream(spark, srcDir,
          maxFilesPerTrigger = Some(2)),
        embSnap, curationArtifacts(keepers, bv, bh, bits), out2,
        redactPii = true)
      .option("checkpointLocation", ckpt2).start()
    q2.processAllAvailable()
    q2.stop()
    val redacted = spark.read.parquet(out2)
    assert(redacted.select("doc_id", "text", "source")
      .except(batchSurvivors).isEmpty &&
      batchSurvivors.except(
        redacted.select("doc_id", "text", "source")).isEmpty,
      "redaction tail changed the survivor relation on a PII-free corpus")
    assert(redacted.agg(sum("n_redactions")).collect()(0).getLong(0) == 0L)
    graft.ops.Reuse.freeAll(spark)
  }

  test("streaming curation PII tail applies REAL redactions: planted " +
      "PII comes back redacted identically to batch redactPii " +
      "(r11 item 3)") {
    // ext128's plant discipline, applied to the streaming twin: the
    // synthetic corpus is PII-free, so deterministically plant one
    // instance of each scrub pattern class on every 7th doc BEFORE
    // either engine runs — the twin then exercises real substitutions
    // in the foreachBatch path, not the identity pass-through.
    val plant = " reach u9123456789@ex4.com or +12345678901 via " +
      "10.0.0.1 acct 987654321"
    val docs = Tables.documents(spark, sf("sf0.001"))
      .select(col("doc_id"),
        when(col("doc_id") % 7 === 0, concat(col("text"), lit(plant)))
          .otherwise(col("text")).as("text"),
        col("source"))
    val emb = Tables.embeddings(spark, sf("sf0.001"))
    val benchMax = 20L
    val snap = graft.ops.Curation.snapshot(docs, emb, benchMax)
    val survivors = snap.c5.localCheckpoint(true)
    val keepers = snap.keeperSpans.localCheckpoint(true)
    val bv = snap.benchVecs.localCheckpoint(true)
    val bh = snap.benchShingles.localCheckpoint(true)
    val bits = snap.bloomBits.localCheckpoint(true)
    val embSnap = emb.localCheckpoint(true)
    graft.ops.Reuse.freeAll(spark)
    // the batch redaction tail over the same planted survivors —
    // exactly what the sink's redactPii=true tail computes per batch
    val expected = graft.ops.TextOps.redactPii(survivors)
      .join(survivors.select("doc_id", "source"), "doc_id")
      .select(col("doc_id"), col("clean_text").as("text"),
        col("source"), col("n_redactions"))
      .localCheckpoint(true)

    val corpus = docs.filter(col("doc_id") >= benchMax)
      .localCheckpoint(true)
    val srcDir = Files.createTempDirectory("graft-piis-src").toString + "/d"
    corpus.repartition(4).write.parquet(srcDir)
    val out = Files.createTempDirectory("graft-piis-out").toString
    val ckpt = Files.createTempDirectory("graft-piis-ckpt").toString
    val q = StreamingPipeline.curationSink(
        StreamingPipeline.parquetStream(spark, srcDir,
          maxFilesPerTrigger = Some(2)),
        embSnap, curationArtifacts(keepers, bv, bh, bits), out,
        redactPii = true)
      .option("checkpointLocation", ckpt).start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.read.parquet(out)
      .select("doc_id", "text", "source", "n_redactions")
    assert(streamed.count() == expected.count() && expected.count() > 0)
    assert(streamed.except(expected).isEmpty &&
      expected.except(streamed).isEmpty,
      "streamed PII-redacted survivors differ from batch redactPii " +
        "over the same survivors")
    // non-vacuous: planted docs survived the chain and were REDACTED
    val nRedacted = streamed.filter(col("n_redactions") > 0).count()
    assert(nRedacted > 0, "no planted doc survived to the redaction " +
      "tail — the twin proved nothing")
    // and redaction actually rewrote the text (placeholder substitution)
    assert(streamed.filter(col("n_redactions") > 0 &&
      !col("text").contains("<EMAIL>")).count() == 0,
      "a redacted doc's streamed text lacks the placeholder")
    graft.ops.Reuse.freeAll(spark)
  }

  test("curation sink frees each batch's checkpoints: persisted RDDs " +
      "grow by the four pinned artifacts only, over 5 batches") {
    val docs = Tables.documents(spark, sf("sf0.001"))
      .select("doc_id", "text", "source")
    val emb = Tables.embeddings(spark, sf("sf0.001"))
    val benchMax = 20L
    val snap = graft.ops.Curation.snapshot(docs, emb, benchMax)
    val keepers = snap.keeperSpans.localCheckpoint(true)
    val bv = snap.benchVecs.localCheckpoint(true)
    val bh = snap.benchShingles.localCheckpoint(true)
    val bits = snap.bloomBits.localCheckpoint(true)
    val embSnap = emb.localCheckpoint(true)
    graft.ops.Reuse.freeAll(spark)
    val nBatches = 5
    val srcDir =
      Files.createTempDirectory("graft-curfree-src").toString + "/d"
    docs.filter(col("doc_id") >= benchMax).repartition(nBatches)
      .write.parquet(srcDir)
    val out = Files.createTempDirectory("graft-curfree-out").toString
    val ckpt = Files.createTempDirectory("graft-curfree-ckpt").toString
    def persisted() = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val before = persisted()
    val (batches, held) = holdingPersisted {
      val q = StreamingPipeline.curationSink(
          StreamingPipeline.parquetStream(spark, srcDir,
            maxFilesPerTrigger = Some(1)),
          embSnap, curationArtifacts(keepers, bv, bh, bits), out)
        .option("checkpointLocation", ckpt).start()
      q.processAllAvailable()
      try q.recentProgress.count(_.numInputRows > 0) finally q.stop()
    }
    assert(batches == nBatches, s"expected $nBatches one-file batches")
    // what stays is the sink's one pinned copy of each artifact; every
    // stage checkpoint of every batch is gone
    val grown = persisted() -- before
    val rdds = spark.sparkContext.getPersistentRDDs
    assert(grown.toSeq.map(rdds(_).count()).sorted ==
      Seq(keepers, bv, bh, bits).map(_.count()).sorted,
      s"persisted RDDs grew by ${grown.size} over $batches batches, " +
        "not by the 4 pinned artifacts")
    // and the pins are released with the stream's other Reuse blocks
    graft.ops.Reuse.freeAll(spark)
    assert((persisted() intersect grown).isEmpty,
      "pinned artifacts outlived Reuse.freeAll")
    // non-vacuous: the poller saw each batch's four stage checkpoints
    import scala.jdk.CollectionConverters._
    val seen = held.keySet.asScala.toSet -- before
    assert(seen.size >= 4 + 4 * nBatches,
      s"saw ${seen.size} RDDs persisted during the stream")
  }

  test("partialsSink frees each batch's checkpoints: persisted RDDs do " +
      "not grow per batch, over 5 one-file batches") {
    val docs = Tables.documents(spark, sf("sf0.001")).select("doc_id", "text")
    graft.ops.Reuse.freeAll(spark)
    val nBatches = 5
    val srcDir =
      Files.createTempDirectory("graft-partfree-src").toString + "/d"
    docs.repartition(nBatches).write.parquet(srcDir)
    def persisted() = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val before = persisted()
    // repetitionSurgery materializes its shingles with Reuse.shared
    val (out, held) = holdingPersisted(runSink(srcDir)((s, o) =>
      StreamingPipeline.partialsSink(s,
        graft.ops.Dedup.repetitionSurgery(_), o)))
    assert(new java.io.File(out).list().count(_.startsWith("batch=")) ==
      nBatches, s"expected $nBatches one-file batches")
    val grown = persisted() -- before
    assert(grown.isEmpty,
      s"persisted RDDs grew by ${grown.size} over $nBatches batches")
    // non-vacuous: the poller saw a checkpoint of every batch
    import scala.jdk.CollectionConverters._
    val seen = held.keySet.asScala.toSet -- before
    assert(seen.size >= nBatches,
      s"saw ${seen.size} RDDs persisted during the stream")
  }

  test("artifact-gated partialsSink pins the artifact once: persisted " +
      "RDDs grow by the pinned artifact only, over 4 one-file batches, " +
      "and Reuse.freeAll after stop releases it") {
    val docs = Tables.documents(spark, sf("sf0.001")).select("doc_id", "text")
    val benchH = graft.ops.Dedup.benchmarkShingles(
      docs.filter(col("doc_id") < 20))
    graft.ops.Reuse.freeAll(spark)
    val nBatches = 4
    val srcDir =
      Files.createTempDirectory("graft-pinfree-src").toString + "/d"
    docs.filter(col("doc_id") >= 20).repartition(nBatches)
      .write.parquet(srcDir)
    def persisted() = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val before = persisted()
    val (out, held) = holdingPersisted(runSink(srcDir)((s, o) =>
      StreamingPipeline.partialsSink(s, fixed(benchH),
        (b, a) => graft.ops.Dedup.benchmarkOverlapAgainst(b, a.head), o)))
    assert(new java.io.File(out).list().count(_.startsWith("batch=")) ==
      nBatches, s"expected $nBatches one-file batches")
    // what stays is the one pinned copy of the artifact
    val grown = persisted() -- before
    val rdds = spark.sparkContext.getPersistentRDDs
    assert(grown.toSeq.map(rdds(_).count()) == Seq(benchH.count()),
      s"persisted RDDs grew by ${grown.size} over $nBatches batches, " +
        "not by the 1 pinned artifact")
    // the stream has stopped, so the pin goes with the session's blocks
    graft.ops.Reuse.freeAll(spark)
    assert((persisted() intersect grown).isEmpty,
      "pinned artifact outlived Reuse.freeAll")
    import scala.jdk.CollectionConverters._
    assert(grown.subsetOf(held.keySet.asScala.toSet))
  }

  test("stream/ holds artifacts only through PinnedArtifacts: no " +
      "localCheckpoint outside it and the curation chain's mat, and no " +
      "Reuse.unscoped") {
    val stream = MainSources.root.resolve("graft/stream")
    val sources = MainSources.all.filter(_._1.startsWith(stream))
    assert(sources.size >= 2, "src/main/scala/graft/stream not found")
    val checkpoint = """\.localCheckpoint\(""".r
    // the two bodies allowed to checkpoint, each exactly once
    val allowed = Seq(
      """(?s)\n  (?:private )?final class PinnedArtifacts\(.*?\n  }\n""".r,
      ("""\n\s*def mat\(df: DataFrame\): DataFrame =\n\s*""" +
        """graft\.ops\.Reuse\.pin\(df\.localCheckpoint\(true\)\)""").r)
    val pipeline = stream.resolve("StreamingPipeline.scala")
    val outside = sources.flatMap { case (p, src) =>
      val rest = if (p != pipeline) src else allowed.foldLeft(src) {
        (s, re) =>
          val body = re.findAllIn(s).toSeq
          assert(body.size == 1 &&
            checkpoint.findAllIn(body.head).size == 1,
            s"allowed body not found once: $re")
          s.replace(body.head, "")
      }
      val n = checkpoint.findAllIn(rest).size
      if (n > 0) Some(s"$p: $n localCheckpoint call(s)") else None
    }
    assert(outside.isEmpty, outside.mkString("; "))
    val unscoped = MainSources.all.collect {
      case (p, src) if """Reuse\.unscoped|def unscoped""".r
          .findFirstIn(src).isDefined => p
    }
    assert(unscoped.isEmpty, s"Reuse.unscoped in ${unscoped.mkString(", ")}")
  }

  test("curation sink artifact rotation: a bench-set swap between " +
      "batches takes effect at the NEXT batch, each batch pinned to " +
      "one snapshot (r11 item 5)") {
    // Crafted embedding space so the rotation is provably non-vacuous:
    // bench-A vectors (ids < 10) sit on axis 0; one bench-B-window
    // vector (id 25) on axis 1; probe docs 9000/9001 carry the SAME
    // axis-1 vector — orthogonal to bench A (cos 0, never flagged)
    // and identical to bench-B vec 25 (cos 1, always flagged). Real
    // vectors keep ids >= benchB.
    val benchA = 10L
    val benchB = 30L
    def axisVec(axis: Int) = array(
      Seq.tabulate(64)(i => lit(if (i == axis) 1.0f else 0.0f)): _*)
    val emb = Tables.embeddings(spark, sf("sf0.001"))
      .select("vec_id", "embedding")
    val crafted = spark.range(0, benchA)
      .select(col("id").as("vec_id"), axisVec(0).as("embedding"))
      .union(spark.range(25, 26)
        .select(col("id").as("vec_id"), axisVec(1).as("embedding")))
      .union(spark.range(9000, 9002)
        .select(col("id").as("vec_id"), axisVec(1).as("embedding")))
    val embAll = emb.filter(col("vec_id") >= benchB).unionByName(crafted)
      .localCheckpoint(true)
    val realDocs = Tables.documents(spark, sf("sf0.001"))
      .select("doc_id", "text", "source")
    // Probe text: a real gopher-surviving corpus doc's text, so the
    // doc-local stages pass the probes for sure; its spans being
    // duplicated across donor/9000/9001 only exercises span surgery
    // identically in both engines.
    val donor = graft.ops.TextOps.gopherRules(realDocs)
      .filter(col("keep") === 1 && col("doc_id") >= benchB)
      .orderBy("doc_id").select("text").head.getString(0)
    val probes = spark.range(9000, 9002)
      .select(col("id").as("doc_id"), lit(donor).as("text"),
        lit("web").as("source"))
    val docsAll = realDocs.unionByName(probes).localCheckpoint(true)
    graft.ops.Reuse.freeAll(spark)

    def arts(benchMax: Long): (StreamingPipeline.CurationArtifacts,
        org.apache.spark.sql.DataFrame) = {
      val s = graft.ops.Curation.snapshot(docsAll, embAll, benchMax)
      val a = StreamingPipeline.CurationArtifacts(
        s.keeperSpans.localCheckpoint(true),
        s.benchVecs.localCheckpoint(true),
        s.benchShingles.localCheckpoint(true),
        s.bloomBits.localCheckpoint(true))
      val c5 = s.c5.localCheckpoint(true)
      graft.ops.Reuse.freeAll(spark)
      (a, c5)
    }
    val (artsA, c5A) = arts(benchA)
    val (artsB, c5B) = arts(benchB)
    // the rotation is real: under A's judgment both probes survive,
    // under B's neither does — a stuck seam is therefore visible
    assert(c5A.filter(col("doc_id") >= 9000).count() == 2,
      "corpus construction: probes must survive under bench A")
    assert(c5B.filter(col("doc_id") >= 9000).count() == 0,
      "corpus construction: probes must be decontaminated under bench B")

    @volatile var version = "A"
    val provider = () =>
      if (version == "A") ("A", artsA) else ("B", artsB)
    // phase A streams probe 9000 + the first half of the real corpus;
    // phase B (after the swap) probe 9001 + the rest — no doc repeats.
    val phaseA = docsAll.filter(
      col("doc_id") === 9000L ||
        (col("doc_id") >= benchB && col("doc_id") < 250))
    val phaseB = docsAll.filter(
      col("doc_id") === 9001L ||
        (col("doc_id") >= 250 && col("doc_id") < 9000))
    val srcDir = Files.createTempDirectory("graft-rot-src").toString + "/d"
    phaseA.repartition(2).write.parquet(srcDir)
    val out = Files.createTempDirectory("graft-rot-out").toString
    val ckpt = Files.createTempDirectory("graft-rot-ckpt").toString
    val q = StreamingPipeline.curationSink(
        StreamingPipeline.parquetStream(spark, srcDir,
          maxFilesPerTrigger = Some(1)),
        embAll, provider, out)
      .option("checkpointLocation", ckpt).start()
    q.processAllAvailable()
    version = "B" // the bench-set swap, between batches
    phaseB.repartition(2).write.mode("append").parquet(srcDir)
    q.processAllAvailable()
    q.stop()

    val streamed = spark.read.parquet(out)
      .select("doc_id", "text", "source").localCheckpoint(true)
    // each phase gated against ITS version's snapshot
    val expectA = c5A.join(phaseA.select("doc_id"), "doc_id")
    val sA = streamed.join(phaseA.select("doc_id"), "doc_id")
    assert(sA.except(expectA).isEmpty && expectA.except(sA).isEmpty,
      "pre-swap batches not gated against snapshot A")
    val expectB = c5B.join(phaseB.select("doc_id"), "doc_id")
    val sB = streamed.join(phaseB.select("doc_id"), "doc_id")
    assert(sB.except(expectB).isEmpty && expectB.except(sB).isEmpty,
      "post-swap batches not gated against snapshot B")
    // the probes pin it down: identical docs, opposite judgments
    assert(streamed.filter(col("doc_id") === 9000L).count() == 1,
      "probe 9000 (processed under A) must survive")
    assert(streamed.filter(col("doc_id") === 9001L).count() == 0,
      "probe 9001 (processed under B) must be decontaminated — " +
        "the swap did not take effect")
    graft.ops.Reuse.freeAll(spark)
  }

  test("streaming IVF-PQ retrieval over stored artifacts == batch " +
      "ivfPqTopK on the same snapshot at any batching (r9 item 2)") {
    val S = graft.ops.Similarity
    val emb = graft.ingest.Tables.embeddings(spark, sf("sf0.001"))
    // the four build-once artifacts a serving node loads: coarse
    // centroids, corpus probe index, PQ codebooks, bucket-tagged codes
    val cents = S.kmeansCentroids(emb).localCheckpoint(true)
    val probeIdx = S.kmeansProbeBuckets(emb, probes = 2)
      .localCheckpoint(true)
    val cb = S.pqCodebooks(emb).localCheckpoint(true)
    val coded = S.ivfPqCodedCorpus(emb, cb,
        probeIdx.filter(col("probe_rank") === 1)
          .select("vec_id", "bucket"))
      .localCheckpoint(true)
    val queries = emb.filter(col("vec_id") < 20)
    val srcDir = Files.createTempDirectory("graft-ivfq-src").toString + "/d"
    queries.repartition(3).write.parquet(srcDir)
    val out = Files.createTempDirectory("graft-ivfq-out").toString
    val ckpt = Files.createTempDirectory("graft-ivfq-ckpt").toString
    val q = StreamingPipeline.ivfPqSearchSink(
        StreamingPipeline.parquetStream(spark, srcDir,
          maxFilesPerTrigger = Some(1)),
        () => ("static", StreamingPipeline.IvfPqIndex(cents, cb, coded, emb)),
        k = 3, probes = 2, candidates = 20, out)
      .option("checkpointLocation", ckpt).start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.read.parquet(out)
      .select("q_id", "t_id", "rank", "cos")
    val batch = S.ivfPqTopK(emb, queries, probeIdx, 3, probes = 2,
      candidates = 20, codebooks = Some(cb))
    assert(streamed.count() == batch.count() && batch.count() > 0)
    assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty,
      "streamed IVF-PQ top-k differs from the batch search on the " +
        "same artifacts")
    graft.ops.Reuse.freeAll(spark)
  }

  test("IVF-PQ serving picks up a rebuilt index at the next batch " +
      "boundary — the PinnedArtifacts version seam on the ANN path") {
    val S = graft.ops.Similarity
    val embA = graft.ingest.Tables.embeddings(spark, sf("sf0.001"))
      .localCheckpoint(true)
    // phase-B corpus: the same vectors PLUS exact copies of the phase-B
    // queries at planted ids — results containing a planted id prove
    // the post-rotation batch searched index B, not a stale pin of A
    val qA = embA.filter(col("vec_id") < 10).localCheckpoint(true)
    val qB = embA.filter(col("vec_id") >= 10 && col("vec_id") < 20)
      .localCheckpoint(true)
    val embB = embA.unionByName(
      qB.withColumn("vec_id", col("vec_id") + 900000L))
      .localCheckpoint(true)
    def buildIndex(emb: org.apache.spark.sql.DataFrame)
        : StreamingPipeline.IvfPqIndex = {
      val cents = S.kmeansCentroids(emb).localCheckpoint(true)
      val probeIdx = S.kmeansProbeBuckets(emb, probes = 2)
      val cb = S.pqCodebooks(emb).localCheckpoint(true)
      val coded = S.ivfPqCodedCorpus(emb, cb,
          probeIdx.filter(col("probe_rank") === 1)
            .select("vec_id", "bucket"))
        .localCheckpoint(true)
      StreamingPipeline.IvfPqIndex(cents, cb, coded, emb)
    }
    val ixA = buildIndex(embA)
    val ixB = buildIndex(embB)
    graft.ops.Reuse.freeAll(spark)
    val expectA = S.ivfPqSearch(qA, ixA.cents, ixA.codebooks, ixA.coded,
      embA, 3, 2, 20).localCheckpoint(true)
    val expectB = S.ivfPqSearch(qB, ixB.cents, ixB.codebooks, ixB.coded,
      embB, 3, 2, 20).localCheckpoint(true)
    graft.ops.Reuse.freeAll(spark)

    @volatile var version = "A"
    val provider = () => if (version == "A") ("A", ixA) else ("B", ixB)
    val srcDir = Files.createTempDirectory("graft-ivfr-src").toString + "/d"
    qA.repartition(2).write.parquet(srcDir)
    val out = Files.createTempDirectory("graft-ivfr-out").toString
    val ckpt = Files.createTempDirectory("graft-ivfr-ckpt").toString
    val q = StreamingPipeline.ivfPqSearchSink(
        StreamingPipeline.parquetStream(spark, srcDir,
          maxFilesPerTrigger = Some(1)),
        provider, k = 3, probes = 2, candidates = 20, out)
      .option("checkpointLocation", ckpt).start()
    q.processAllAvailable()
    version = "B" // offline rebuild published, between batches
    qB.repartition(2).write.mode("append").parquet(srcDir)
    q.processAllAvailable()
    q.stop()

    val streamed = spark.read.parquet(out)
      .select("q_id", "t_id", "rank", "cos").localCheckpoint(true)
    val sA = streamed.filter(col("q_id") < 10)
    val sB = streamed.filter(col("q_id") >= 10)
    assert(sA.except(expectA).isEmpty && expectA.except(sA).isEmpty,
      "pre-rotation queries not served by index A")
    assert(sB.except(expectB).isEmpty && expectB.except(sB).isEmpty,
      "post-rotation queries not served by index B")
    // the seam is provably live: a planted exact copy (index B only)
    // surfaces in the post-rotation results
    assert(sB.filter(col("t_id") >= 900000L).count() > 0,
      "no planted index-B id in post-rotation results — rotation " +
        "did not take effect")
    graft.ops.Reuse.freeAll(spark)
  }

  test("streaming prototype gate == batch pruning on well-separated " +
      "clusters; artifacts learned once offline (ext119 twin)") {
    import spark.implicits._
    val S = graft.ops.Similarity
    // well-separated clusters: the gate's argmin assignment matches
    // the stored buckets and all distances are distinct, so the
    // stored-threshold gate reproduces the batch keep set exactly
    val e = Seq(
      (1L, Array(0.0f, 0.0f)), (2L, Array(1.0f, 0.0f)),
      (3L, Array(2.0f, 0.0f)), (4L, Array(9.0f, 0.0f)),
      (5L, Array(100.0f, 100.0f)))
      .toDF("vec_id", "embedding")
    val b = Seq((1L, 10L), (2L, 10L), (3L, 10L), (4L, 10L), (5L, 20L))
      .toDF("vec_id", "bucket")
    val batchPruned = S.prototypePruning(e, b, 500000L, "easy")
      .localCheckpoint(true)
    val cents = S.prototypeCentroids(e, b)
    val th = S.prototypeThresholds(batchPruned, "easy")
    val srcDir = Files.createTempDirectory("graft-pg-src").toString + "/d"
    e.repartition(3).write.parquet(srcDir)
    val out = runSink(srcDir)((s, o) =>
      StreamingPipeline.partialsSink(s, fixed(cents, th),
        (b, a) => S.prototypeGate(b, a(0), a(1), "easy"), o))
    val streamed = spark.read.parquet(out)
      .select("vec_id", "bucket", "dist", "kept")
    val batch = batchPruned.select("vec_id", "bucket", "dist", "kept")
    assert(streamed.count() == 5)
    assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty,
      "gated stream differs from the batch pruning on stable clusters")
    // an arrival routed to a bucket with no kept rows (no threshold
    // row) is dropped, not NPE'd
    val noTh = S.prototypeGate(e, cents, th.filter(col("bucket") =!= 10L),
      "easy")
    assert(noTh.filter(col("bucket") === 10L)
      .filter(col("kept") =!= 0L).isEmpty)
    graft.ops.Reuse.freeAll(spark)
  }

  test("streaming signal moments fold == batch correlation card " +
      "(ext115 twin)") {
    val docs = graft.ingest.Tables.documents(spark, sf("sf0.001"))
      .select("doc_id", "text")
    val signals = Seq(
      "n_toks" -> size(split(col("text"), " ")).cast("long"),
      "n_chars" -> length(col("text")).cast("long"))
    val srcDir = Files.createTempDirectory("graft-corr-src").toString + "/d"
    docs.write.parquet(srcDir)
    val out = runSink(srcDir)((s, o) => StreamingPipeline.partialsSink(
      s, graft.ops.Reporting.signalMoments(_, signals), o))
    val streamed = graft.ops.Reporting.correlationsFromMoments(
      StreamingPipeline.partials(spark, out))
    val batch = graft.ops.Reporting.signalCorrelations(docs, signals)
    assert(streamed.count() == 1 && batch.count() == 1)
    assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty,
      "folded streamed moments differ from the batch correlation card")
    graft.ops.Reuse.freeAll(spark)
  }

  test("stream-stream interval join == batch range-join pairs " +
      "(ext22 online form)") {
    val ev = graft.ingest.Tables.events(spark, sf("sf0.001"))
    val iv = 10L * 60 * 1000000 // 10 minutes
    val src = () => StreamingPipeline.eventStream(spark,
      sf("sf0.001") + "/events.parquet")
    val q = StreamingPipeline.intervalJoinPairsStream(
        src(), src(), "user_id", "ts", iv)
      .select("l_id", "r_id")
      .writeStream.outputMode("append").format("memory")
      .queryName("ssij").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("ssij")
    // batch twin: the same predicate as a plain range join
    val l = ev.select(col("user_id").as("k"), col("event_id").as("l_id"),
      unix_micros(col("ts")).as("l_us"))
    val r = ev.select(col("user_id").as("k2"), col("event_id").as("r_id"),
      unix_micros(col("ts")).as("r_us"))
    val batch = l.join(r, col("k") === col("k2") &&
        col("r_us") >= col("l_us") - iv && col("r_us") < col("l_us"))
      .select("l_id", "r_id")
    assert(streamed.count() == batch.count() && batch.count() > 0)
    assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty,
      "stream-stream interval join pairs differ from the batch range join")
    graft.ops.Reuse.freeAll(spark)
  }

  test("streaming bpe encode == batch apply under the stored table " +
      "(ext111/112 twin)") {
    val docs = graft.ingest.Tables.documents(spark, sf("sf0.001"))
      .select("doc_id", "text")
    // Merge table learned once offline from the corpus snapshot.
    val merges = graft.ops.TextOps.bpeMerges(docs, 3).localCheckpoint(true)
    val srcDir = Files.createTempDirectory("graft-bpe-src").toString + "/d"
    docs.write.parquet(srcDir)
    val out = runSink(srcDir)((s, o) =>
      StreamingPipeline.partialsSink(s, fixed(merges),
        (b, a) => graft.ops.TextOps.bpeApplyCounts(b, a.head, 3), o))
    // Per-word counts are per-batch; summed across batches they equal
    // the batch encoder's, and n_syms is batch-independent per word.
    val streamed = spark.read.parquet(out)
      .groupBy("word").agg(sum("cnt").as("cnt"),
        min("n_syms").as("mn"), max("n_syms").as("mx"))
    val batch = graft.ops.TextOps.bpeApplyCounts(docs, merges, 3)
    assert(streamed.filter(col("mn") =!= col("mx")).isEmpty,
      "n_syms must not depend on batching")
    val joined = streamed.select(col("word"), col("cnt"),
      col("mn").as("n_syms"))
    assert(joined.except(batch).isEmpty && batch.except(joined).isEmpty,
      "streamed bpe segment counts differ from the batch encoder")
    graft.ops.Reuse.freeAll(spark)
  }

  test("streaming boilerplate removal == batch operator (ext59 twin)") {
    val docs = graft.ingest.Tables.documents(spark, sf("sf0.001"))
      .select("doc_id", "text")
    // Hot-span set computed once offline, as in production.
    val hot = graft.ops.TextOps.boilerplateSpans(docs)
    val srcDir = Files.createTempDirectory("graft-bp-src").toString + "/d"
    docs.write.parquet(srcDir)
    val out = runSink(srcDir)((s, o) =>
      StreamingPipeline.partialsSink(s, fixed(hot),
        (b, a) => graft.ops.TextOps.boilerplateRemovalAgainst(b, a.head), o))
    val streamed = spark.read.parquet(out)
      .select("doc_id", "n_chunks", "n_dropped", "n_toks_dropped",
        "clean_text")
    val batch = graft.ops.TextOps.boilerplateRemoval(docs)
    assert(streamed.count() == batch.count() && batch.count() > 0)
    assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty,
      "streamed boilerplate removal differs from the batch operator")
    graft.ops.Reuse.freeAll(spark)
  }

  test("streaming novelty scoring == batch operator (ext69 twin, " +
      "stream-static df join)") {
    val docs = graft.ingest.Tables.documents(spark, sf("sf0.001"))
      .select("doc_id", "text")
    // The corpus-snapshot df table computed once offline, as in
    // production.
    val df = graft.ops.Dedup.noveltyShingleDf(docs)
    val srcDir = Files.createTempDirectory("graft-nov-src").toString + "/d"
    docs.write.parquet(srcDir)
    val out = runSink(srcDir)((s, o) =>
      StreamingPipeline.partialsSink(s, fixed(df),
        (b, a) => graft.ops.Dedup.noveltyScoresAgainst(b, a.head), o))
    val streamed = spark.read.parquet(out)
      .select("doc_id", "n_shingles", "n_unique", "novelty_q")
    val batch = graft.ops.Dedup.noveltyScores(docs)
    assert(streamed.count() == batch.count() && batch.count() > 0)
    assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty,
      "streamed novelty scores differ from the batch operator")
    graft.ops.Reuse.freeAll(spark)
  }

  test("streaming oov scoring == batch operator (ext80 twin, " +
      "stream-static rare-set join)") {
    val docs = graft.ingest.Tables.documents(spark, sf("sf0.001"))
      .select("doc_id", "text")
    // The corpus-snapshot rare-token set computed once offline, as in
    // production.
    val rare = graft.ops.TextOps.rareTokens(docs)
    val srcDir = Files.createTempDirectory("graft-oov-src").toString + "/d"
    docs.write.parquet(srcDir)
    val out = runSink(srcDir)((s, o) => StreamingPipeline.partialsSink(
      s, fixed(rare), (b, a) => graft.ops.TextOps.oovRateAgainst(b, a.head), o))
    val streamed = spark.read.parquet(out)
      .select("doc_id", "n_toks", "n_rare", "oov_ppm")
    val batch = graft.ops.TextOps.oovRate(docs)
    assert(streamed.count() == batch.count() && batch.count() > 0)
    assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty,
      "streamed oov rates differ from the batch operator")
    graft.ops.Reuse.freeAll(spark)
  }

  test("streaming dispersion partials == batch card (ext83 twin, " +
      "algebraic per-label count/sum/max state)") {
    val emb = graft.ingest.Tables.embeddings(spark, sf("sf0.001"))
      .select("vec_id", "embedding", "label")
    // The per-snapshot centroid artifact, built once offline as in
    // production (the ext77 boundary); the stream only scores and folds.
    val cents = graft.ops.Reuse.shared(
      graft.ops.LabelAudit.labelCentroids(emb))
    val srcDir = Files.createTempDirectory("graft-disp-src").toString + "/d"
    emb.write.parquet(srcDir)
    val out = runSink(srcDir)((s, o) => StreamingPipeline.partialsSink(
      s, graft.ops.LabelAudit.dispersionPartials(_, cents), o))
    // the fold must really cross micro-batches, not see one big one
    assert(new java.io.File(out).listFiles()
      .count(_.getName.startsWith("batch=")) > 1)
    val streamed = graft.ops.LabelAudit.dispersionFromCounts(
      StreamingPipeline.partials(spark, out), cents)
    val batch = graft.ops.LabelAudit.labelDispersion(emb)
    assert(streamed.count() == batch.count() && batch.count() > 0)
    assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty,
      "streamed dispersion card differs from the batch operator")
    graft.ops.Reuse.freeAll(spark)
  }

  test("streaming algebraic partials == batch operators (ext78/82/84 " +
      "twins, per-batch partial state)") {
    val docs = graft.ingest.Tables.documents(spark, sf("sf0.001"))
      .select("doc_id", "text", "lang", "source")
    val srcDir = Files.createTempDirectory("graft-part-src").toString + "/d"
    docs.write.parquet(srcDir)
    val budgets = Seq(128L, 512L)
    val packOut = runSink(srcDir)((s, o) => StreamingPipeline.partialsSink(
      s, graft.ops.Packing.packPartials(_, size(split(col("text"), " ")),
        budgets), o))
    val packStreamed = graft.ops.Packing.packEfficiencyFromCounts(
      StreamingPipeline.partials(spark, packOut))
    val packBatch = graft.ops.Packing.packEfficiency(docs,
      size(split(col("text"), " ")), budgets)
    assert(packStreamed.except(packBatch).isEmpty &&
      packBatch.except(packStreamed).isEmpty && packBatch.count() == 2,
      "streamed pack-efficiency fold differs from the batch operator")
    val driftOut = runSink(srcDir)((s, o) => StreamingPipeline.partialsSink(
      s, graft.ops.Reporting.driftPartials(_, col("doc_id") % 2 === 0,
        Seq("lang")), o))
    val driftStreamed = graft.ops.Reporting.driftFromCounts(
      StreamingPipeline.partials(spark, driftOut))
    val driftBatch = graft.ops.Reporting.compositionDriftBy(docs,
      col("doc_id") % 2 === 0, Seq("lang"))
    assert(driftStreamed.except(driftBatch).isEmpty &&
      driftBatch.except(driftStreamed).isEmpty && driftBatch.count() > 0,
      "streamed drift fold differs from the batch operator")
    val evDir = Files.createTempDirectory("graft-tsl-src").toString + "/d"
    val evs = graft.ingest.Tables.events(spark, sf("sf0.001"))
      .select("event_id", "user_id", "event_type", "ts")
    evs.write.parquet(evDir)
    val trendOut = runSink(evDir)((s, o) => StreamingPipeline.partialsSink(
      s, graft.agg.Windows.periodCounts(_, col("event_type"), "ts",
        86400000000L), o))
    val trendStreamed = graft.agg.Windows.trendSlopesFromCounts(
      StreamingPipeline.partials(spark, trendOut))
    val trendBatch = graft.agg.Windows.trendSlopes(evs,
      col("event_type"))
    assert(trendStreamed.except(trendBatch).isEmpty &&
      trendBatch.except(trendStreamed).isEmpty && trendBatch.count() > 0,
      "streamed trend-slope fold differs from the batch operator")
    // ext158 twin rides the SAME stored matrix — one partials sink
    // serves both the slope and anomaly derivations
    val anomStreamed = graft.agg.Windows.anomalyDaysFromCounts(
      StreamingPipeline.partials(spark, trendOut))
    val anomBatch = graft.agg.Windows.anomalyDays(evs, col("event_type"))
    assert(anomStreamed.except(anomBatch).isEmpty &&
      anomBatch.except(anomStreamed).isEmpty && anomBatch.count() > 0,
      "streamed anomaly-day fold differs from the batch operator")
    // ext166 twin rides the SAME matrix too: direction, pointwise and
    // dispersion all derive from one stored partials sink
    val fanoStreamed = graft.agg.Windows.burstinessFromCounts(
      StreamingPipeline.partials(spark, trendOut))
    val fanoBatch = graft.agg.Windows.burstiness(evs, col("event_type"))
    assert(fanoStreamed.except(fanoBatch).isEmpty &&
      fanoBatch.except(fanoStreamed).isEmpty && fanoBatch.count() > 0,
      "streamed burstiness fold differs from the batch operator")
    val psiOut = runSink(srcDir)((s, o) => StreamingPipeline.partialsSink(
      s, graft.ops.Reporting.psiPartials(_, col("doc_id") % 2 === 0,
        length(col("text"))), o))
    val psiStreamed = graft.ops.Reporting.psiFromCounts(
      StreamingPipeline.partials(spark, psiOut))
    val psiBatch = graft.ops.Reporting.psiDrift(docs,
      col("doc_id") % 2 === 0, length(col("text")))
    assert(psiStreamed.except(psiBatch).isEmpty &&
      psiBatch.except(psiStreamed).isEmpty && psiBatch.count() > 1,
      "streamed psi fold differs from the batch operator")
    val gopherOut = runSink(srcDir)((s, o) => StreamingPipeline.partialsSink(
      s, graft.ops.TextOps.gopherPassPartials(_, Seq("source")), o))
    val gopherStreamed = graft.ops.TextOps.gopherPassRatesFromCounts(
      StreamingPipeline.partials(spark, gopherOut))
    val gopherBatch = graft.ops.TextOps.gopherPassRatesFromCounts(
      graft.ops.TextOps.gopherPassPartials(docs))
    assert(gopherStreamed.except(gopherBatch).isEmpty &&
      gopherBatch.except(gopherStreamed).isEmpty && gopherBatch.count() > 0,
      "streamed pass-rate fold differs from the batch operator")
    // ext165 serving twin: the incrementally-appended inverted index
    // serves the identical BM25 top-k the batch text scan computes
    val idxOut = runSink(srcDir)((s, o) => StreamingPipeline.partialsSink(
      s, graft.ops.TextOps.bm25IndexPartials(_), o))
    val bmStreamed = graft.ops.TextOps.bm25FromIndex(
      StreamingPipeline.partials(spark, idxOut),
      Seq("spark", "window", "join"))
    val bmBatch = graft.ops.TextOps.bm25TopK(docs,
      Seq("spark", "window", "join"))
    assert(bmStreamed.collect().toSeq == bmBatch.collect().toSeq &&
      bmBatch.count() > 0,
      "index-served bm25 differs from the batch text scan")
    // ext167 twin: tagged presence/doc-count partials fold to the
    // identical association card (whole-doc arrival contract)
    val laOut = runSink(srcDir)((s, o) => StreamingPipeline.partialsSink(
      s, graft.ops.TextOps.labelAssocPartials(_, col("lang")), o))
    val laStreamed = graft.ops.TextOps.labelAssociationFromCounts(
      StreamingPipeline.partials(spark, laOut))
    val laBatch = graft.ops.TextOps.labelAssociation(docs, col("lang"))
    assert(laStreamed.except(laBatch).isEmpty &&
      laBatch.except(laStreamed).isEmpty && laBatch.count() > 0,
      "streamed label-association fold differs from the batch card")
    // ext151 twin (r13 verdict item 6): the bisection's probe mids
    // don't decompose over batches, but its value-count table does —
    // the streamed fold's rank pass must equal the batch bisection
    // EXACTLY (same k = ceil(q*n/100), same smallest-reaching-value
    // ties rule)
    val selOut = runSink(srcDir)((s, o) => StreamingPipeline.partialsSink(
      s, graft.ops.Sketches.selectionValueCounts(_, Seq("lang"),
        length(col("text"))), o))
    val selStreamed = graft.ops.Sketches.selectionQuantilesFromCounts(
      StreamingPipeline.partials(spark, selOut), Seq("lang"))
    val selBatch = graft.ops.Sketches.selectionQuantiles(docs,
      Seq("lang"), length(col("text")))
    assert(selStreamed.except(selBatch).isEmpty &&
      selBatch.except(selStreamed).isEmpty && selBatch.count() > 0,
      "streamed selection-quantile fold differs from the batch bisection")
    graft.ops.Reuse.freeAll(spark)
  }

  test("partialsSink is idempotent under crash replay: a restart that " +
      "re-runs the uncommitted micro-batch leaves the store's rows and " +
      "row count unchanged") {
    val docs = graft.ingest.Tables.documents(spark, sf("sf0.001"))
      .select("doc_id", "text", "lang")
    val srcDir = Files.createTempDirectory("graft-crash-src").toString + "/d"
    docs.repartition(4).write.parquet(srcDir)
    val out = Files.createTempDirectory("graft-crash-out").toString
    val ckpt = Files.createTempDirectory("graft-crash-ckpt").toString
    def drain(): Unit = {
      val q = StreamingPipeline.partialsSink(
          StreamingPipeline.parquetStream(spark, srcDir,
            maxFilesPerTrigger = Some(1)),
          graft.ops.Reporting.driftPartials(_, col("doc_id") % 2 === 0,
            Seq("lang")), out)
        .option("checkpointLocation", ckpt).start()
      q.processAllAvailable()
      q.stop()
    }
    def stored: Seq[String] =
      StreamingPipeline.partials(spark, out).collect().map(_.toString)
        .toSeq.sorted
    drain()
    val commits = new java.io.File(ckpt, "commits")
    def committed: Seq[Long] = commits.listFiles().map(_.getName)
      .filter(_.forall(_.isDigit)).map(_.toLong).toSeq.sorted
    assert(committed.size >= 3, s"only ${committed.size} micro-batches ran")
    val before = stored
    // The crash: the newest batch wrote its store dir, then died before
    // its commit. Its offsets stay logged, so the restarted query re-runs
    // that batch id over the same input.
    val newest = committed.last
    assert(new java.io.File(commits, newest.toString).delete())
    new java.io.File(commits, s".$newest.crc").delete()
    drain()
    assert(committed.last == newest,
      s"the restart did not re-run batch $newest: commits $committed")
    val after = stored
    // count first: the twins' two-way except is a set comparison and
    // cannot see a batch whose rows landed twice
    assert(after.size == before.size,
      s"replayed batch $newest changed the row count: " +
        s"${before.size} -> ${after.size}")
    assert(after == before, s"replayed batch $newest changed the rows")
    graft.ops.Reuse.freeAll(spark)
  }

  test("streaming temporal-split twin: the per-(user,us) count fold " +
      "serves the EXACT batch card, cutoff included (ext170 twin, " +
      "r14 verdict item 6)") {
    val events = graft.ingest.Tables.events(spark, sf("sf0.001"))
    val srcDir = Files.createTempDirectory("graft-tsp-src").toString + "/d"
    events.write.parquet(srcDir)
    val state = runSink(srcDir)((s, o) => StreamingPipeline.partialsSink(
      s, graft.ops.Splits.temporalEventCounts(_, col("user_id")), o))
    val streamed = graft.ops.Splits.temporalSplitFromCounts(
      StreamingPipeline.partials(spark, state))
    val batch = graft.ops.Splits.temporalSplit(events, col("user_id"))
    assert(batch.count() == 1, "batch card fixture is vacuous")
    assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty,
      "streamed temporal-split fold differs from the batch card " +
        s"(${streamed.collect().toSeq} vs ${batch.collect().toSeq})")
    // the ONE stored relation also serves the cutoff directly (the
    // one-sink-many-cards discipline): its summed value counts rank to
    // the same selection quantile the bisection found
    val vcCut = graft.ops.Sketches.selectionQuantilesFromCounts(
        StreamingPipeline.partials(spark, state)
          .select(lit(0).as("_s"), col("_us").as("_v"), col("cnt")),
        Seq("_s"), Seq(80))
      .collect().head.getAs[Long]("value")
    assert(vcCut == batch.collect().head.getAs[Long]("cutoff_us"),
      "state-served cutoff differs from the batch bisection")
    graft.ops.Reuse.freeAll(spark)
  }

  test("streaming budget-select twin: the stored per-doc projection " +
      "serves the EXACT batch card — and the budget is a serve-time " +
      "knob over one stored relation (ext172 twin)") {
    val docs = graft.ingest.Tables.documents(spark, sf("sf0.001"))
    def scored(d: org.apache.spark.sql.DataFrame) =
      graft.ops.TextOps.quality(d).withColumn("score_ppm", expr(
        "least(n_words * 10000, 1000000) DIV 2" +
          " + (n_stop * 1000000 DIV n_words) DIV 2"))
    val srcDir = Files.createTempDirectory("graft-bsel-src").toString + "/d"
    docs.select("doc_id", "text").write.parquet(srcDir)
    val state = runSink(srcDir)((s, o) => StreamingPipeline.partialsSink(
      scored(s), graft.ops.Sampling.budgetSelectPartials(_, col("score_ppm")),
      o))
    // one stored projection answers ANY budget — both must equal the
    // batch card bit for bit (threshold, boundary, masses, fill)
    Seq(10000L, 1000L).foreach { b =>
      val streamed = graft.ops.Sampling.budgetSelectCardFromCounts(
        StreamingPipeline.partials(spark, state), b)
      val batch = graft.ops.Sampling.budgetSelectCard(
        scored(docs), col("score_ppm"), b)
      assert(batch.count() == 1)
      assert(streamed.except(batch).isEmpty &&
        batch.except(streamed).isEmpty,
        s"budget $b: streamed card differs from batch " +
          s"(${streamed.collect().toSeq} vs ${batch.collect().toSeq})")
      graft.ops.Reuse.freeAll(spark)
    }
    // An EXACT replay of a stored partial row (an at-least-once
    // redelivery arriving in a LATER micro-batch — a fresh batch=N
    // partition) folds away by distinct — the card is unchanged.
    val one = StreamingPipeline.partials(spark, state).limit(1)
    val stateSchema = one.schema
    val oneRow = one.collect().toSeq
    def rowFrame(rows: Seq[org.apache.spark.sql.Row]) =
      spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
        stateSchema)
    rowFrame(oneRow).write.parquet(s"$state/batch=9998")
    val afterReplay = graft.ops.Sampling.budgetSelectCardFromCounts(
      StreamingPipeline.partials(spark, state), 10000L)
    val batch10k = graft.ops.Sampling.budgetSelectCard(
      scored(docs), col("score_ppm"), 10000L)
    assert(afterReplay.except(batch10k).isEmpty &&
      batch10k.except(afterReplay).isEmpty,
      "exact-replay partial changed the served card")
    // scalar captured BEFORE freeAll drops batch10k's checkpoint blocks
    val batchTokensTotal =
      batch10k.select("tokens_total").first().getLong(0)
    graft.ops.Reuse.freeAll(spark)
    // A RE-INGESTED doc (same _id, changed toks — a re-crawl) is NOT
    // a replay: serving must refuse loudly instead of double-counting
    // its tokens (r15 verdict item 2)
    rowFrame(oneRow).withColumn("_toks", col("_toks") + 1L)
      .write.parquet(s"$state/batch=9999")
    val exDup = intercept[IllegalArgumentException] {
      graft.ops.Sampling.budgetSelectCardFromCounts(
        StreamingPipeline.partials(spark, state), 10000L)
    }
    assert(exDup.getMessage.contains("re-crawled"),
      s"re-crawl guard message drifted: ${exDup.getMessage}")
    graft.ops.Reuse.freeAll(spark)
    // The keep-latest serve path SHIPS the policy the guard demands:
    // batch=N is the version, the re-crawled doc arbitrates to its
    // newest row, and the card equals budgetSelectCardFromCounts over
    // an INDEPENDENT latest-row arbitration (row_number over a
    // version-desc window — a different implementation of the rule).
    val keepLatest = graft.ops.Sampling.budgetSelectCardFromVersioned(
      StreamingPipeline.versions(spark, state), 10000L)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("_id").orderBy(col("batch").cast("long").desc,
        col("_score").desc, col("_toks").desc)
    val expectedLatest = spark.read.parquet(state)
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .select("_id", "_score", "_toks")
    val expectedCard = graft.ops.Sampling
      .budgetSelectCardFromCounts(expectedLatest, 10000L)
    assert(keepLatest.except(expectedCard).isEmpty &&
      expectedCard.except(keepLatest).isEmpty,
      s"keep-latest card drifted from the independent arbitration " +
        s"(${keepLatest.collect().toSeq} vs " +
        s"${expectedCard.collect().toSeq})")
    // and the re-crawl genuinely changed the card (the test is not
    // vacuous): the bumped toks moved tokens_total
    assert(keepLatest.select("tokens_total").first().getLong(0) !=
      batchTokensTotal,
      "re-crawled doc did not change the keep-latest card")
    graft.ops.Reuse.freeAll(spark)
    // a WITHIN-version conflict (same _id, same batch, different
    // payload — a producer bug, not a replay) has no latest to keep:
    // keep-latest refuses loudly instead of silently arbitrating
    rowFrame(oneRow).withColumn("_toks", col("_toks") + 5L)
      .write.mode("append").parquet(s"$state/batch=9999")
    val exVer = intercept[IllegalArgumentException] {
      graft.ops.Sampling.budgetSelectCardFromVersioned(
        StreamingPipeline.versions(spark, state), 10000L)
    }
    assert(exVer.getMessage.contains("(_id, _ver)"),
      s"within-version conflict guard drifted: ${exVer.getMessage}")
    graft.ops.Reuse.freeAll(spark)
  }

  test("streaming stratified budget twin: ONE stored stratified " +
      "projection serves the per-stratum cards, a serve-time budgets " +
      "plan, AND the global ext172 card (ext173 twin)") {
    val docs = graft.ingest.Tables.documents(spark, sf("sf0.001"))
    def scored(d: org.apache.spark.sql.DataFrame) =
      graft.ops.TextOps.quality(d).withColumn("score_ppm", expr(
        "least(n_words * 10000, 1000000) DIV 2" +
          " + (n_stop * 1000000 DIV n_words) DIV 2"))
    val srcDir = Files.createTempDirectory("graft-bsels-src").toString + "/d"
    docs.select("doc_id", "lang", "text").write.parquet(srcDir)
    val state = runSink(srcDir)((s, o) => StreamingPipeline.partialsSink(
      scored(s), graft.ops.Sampling.budgetSelectStratumPartials(_,
        col("lang"), col("score_ppm")), o))
    def stored = StreamingPipeline.partials(spark, state)
    // per-stratum cards from state == the batch operator
    val streamed = graft.ops.Sampling.budgetSelectCardsByStratumFromCounts(
      stored, "lang", 3000L)
    val batch = graft.ops.Sampling.budgetSelectCardsByStratum(
      scored(docs), "lang", col("score_ppm"), 3000L)
    assert(batch.count() > 1)
    assert(streamed.except(batch).isEmpty &&
      batch.except(streamed).isEmpty,
      s"streamed stratified cards differ from batch " +
        s"(${streamed.collect().toSeq} vs ${batch.collect().toSeq})")
    graft.ops.Reuse.freeAll(spark)
    // the per-stratum PLAN is a serve-time knob over the same state
    val plannedS = graft.ops.Sampling.budgetSelectCardsByStratumFromCounts(
      stored, "lang", 3000L, budgets = Map("en" -> 500L))
    val plannedB = graft.ops.Sampling.budgetSelectCardsByStratum(
      scored(docs), "lang", col("score_ppm"), 3000L,
      budgets = Map("en" -> 500L))
    assert(plannedS.except(plannedB).isEmpty &&
      plannedB.except(plannedS).isEmpty,
      "serve-time budgets plan drifted from the batch operator")
    graft.ops.Reuse.freeAll(spark)
    // and the SAME stored relation serves the GLOBAL ext172 card —
    // one sink, every card
    val globalS = graft.ops.Sampling.budgetSelectCardFromCounts(
      stored.drop("_s"), 3000L)
    val globalB = graft.ops.Sampling.budgetSelectCard(
      scored(docs), col("score_ppm"), 3000L)
    assert(globalS.except(globalB).isEmpty &&
      globalB.except(globalS).isEmpty,
      "global card from the stratified state drifted from batch")
    graft.ops.Reuse.freeAll(spark)
    // ... and the TWO-LEVEL plan too (r16 verdict item 4): the same
    // stored projection serves the cap + global cut at serve-time
    // knobs, equal to the direct batch operator
    val twoS = graft.ops.Sampling.twoLevelBudgetCardFromCounts(
      stored, 1500L, 4000L)
    val twoB = graft.ops.Sampling.twoLevelBudgetCard(scored(docs),
      "lang", col("score_ppm"), 1500L, 4000L)
    assert(twoB.count() == 1)
    assert(twoS.except(twoB).isEmpty && twoB.except(twoS).isEmpty,
      s"stored-fold two-level card drifted from batch " +
        s"(${twoS.collect().toSeq} vs ${twoB.collect().toSeq})")
    graft.ops.Reuse.freeAll(spark)
    // ... and the per-stratum fill CURVES (ext176): the budget ladder
    // is a serve-time knob over the same stored projection
    val curveS = graft.ops.Sampling.budgetFillCurveByStratumFromCounts(
      stored, "lang", Seq(800L, 3000L))
    val curveB = graft.ops.Sampling.budgetFillCurveByStratum(
      scored(docs), "lang", col("score_ppm"), Seq(800L, 3000L))
    assert(curveS.except(curveB).isEmpty &&
      curveB.except(curveS).isEmpty,
      s"stored-fold fill curves drifted from batch " +
        s"(${curveS.collect().toSeq} vs ${curveB.collect().toSeq})")
    graft.ops.Reuse.freeAll(spark)
    // ... and the cap SWEEP (ext177): the caps ladder and global
    // budget are serve-time knobs over the same stored projection
    val sweepS = graft.ops.Sampling.twoLevelCapSweepFromCounts(
      stored, Seq(800L, 1500L), 4000L)
    val sweepB = graft.ops.Sampling.twoLevelCapSweep(scored(docs),
      "lang", col("score_ppm"), Seq(800L, 1500L), 4000L)
    assert(sweepS.except(sweepB).isEmpty &&
      sweepB.except(sweepS).isEmpty,
      s"stored-fold cap sweep drifted from batch " +
        s"(${sweepS.collect().toSeq} vs ${sweepB.collect().toSeq})")
    graft.ops.Reuse.freeAll(spark)
    // a doc RE-INGESTED UNDER A NEW STRATUM in a later micro-batch
    // (a langid re-run reclassification) passes a (_s, _id) check
    // but would double-count across strata (r16 verdict item 1):
    // the unversioned serve refuses loudly, and the keep-latest
    // serve counts it only in its newest stratum — equal to an
    // INDEPENDENT latest-row arbitration (row_number over a
    // version-desc window)
    val one = stored.limit(1)
    val oneRow = one.collect().head
    val newLang = if (oneRow.getString(0) == "en") "de" else "en"
    spark.createDataFrame(
      java.util.Arrays.asList(org.apache.spark.sql.Row(
        newLang, oneRow.getLong(1), oneRow.getLong(2) + 1L,
        oneRow.getLong(3))), one.schema)
      .write.parquet(s"$state/batch=9999")
    val exCross = intercept[IllegalArgumentException] {
      graft.ops.Sampling.budgetSelectCardsByStratumFromCounts(
        stored, "lang", 3000L)
    }
    assert(exCross.getMessage.contains("more than one stratum"),
      s"cross-stratum serve guard drifted: ${exCross.getMessage}")
    graft.ops.Reuse.freeAll(spark)
    val w9 = org.apache.spark.sql.expressions.Window
      .partitionBy("_id").orderBy(col("batch").cast("long").desc)
    val latestRows = spark.read.parquet(state)
      .withColumn("_rn", org.apache.spark.sql.functions.row_number()
        .over(w9))
      .filter(col("_rn") === 1).select("_s", "_id", "_score", "_toks")
    def versioned = StreamingPipeline.versions(spark, state)
    val keepS = graft.ops.Sampling.budgetSelectCardsByStratumFromVersioned(
      versioned, "lang", 3000L)
    val keepB = graft.ops.Sampling.budgetSelectCardsByStratumFromCounts(
      latestRows, "lang", 3000L)
    assert(keepS.except(keepB).isEmpty && keepB.except(keepS).isEmpty,
      s"stratified keep-latest serve drifted from the independent " +
        s"arbitration (${keepS.collect().toSeq} vs " +
        s"${keepB.collect().toSeq})")
    // the reclassification genuinely moved mass between strata (the
    // twin is not vacuous): the keep-latest cards differ from the
    // pre-append batch cards (recomputed fresh — the earlier `batch`
    // plan references a freed shared checkpoint)
    val preAppend = graft.ops.Sampling.budgetSelectCardsByStratum(
      scored(docs), "lang", col("score_ppm"), 3000L)
    assert(keepS.except(preAppend).count() > 0,
      "cross-stratum re-ingest did not change any stratum's card")
    graft.ops.Reuse.freeAll(spark)
    // keep-latest under the two-level cut, same arbitration law
    val keep2S = graft.ops.Sampling.twoLevelBudgetCardFromVersioned(
      versioned, 1500L, 4000L)
    val keep2B = graft.ops.Sampling.twoLevelBudgetCardFromCounts(
      latestRows, 1500L, 4000L)
    assert(keep2S.except(keep2B).isEmpty &&
      keep2B.except(keep2S).isEmpty,
      s"two-level keep-latest serve drifted from the independent " +
        s"arbitration (${keep2S.collect().toSeq} vs " +
        s"${keep2B.collect().toSeq})")
    graft.ops.Reuse.freeAll(spark)
    // keep-latest under BOTH PLANNING operators (r17 verdict item 1:
    // the cross-stratum refusal used to recommend a FromVersioned
    // path that did not exist for these two callers) — each equals
    // the batch operator over the independent latest-row arbitration,
    // and differs from the pre-reclassification plan (non-vacuous)
    val keepCurve = graft.ops.Sampling.budgetFillCurveByStratumFromVersioned(
      versioned, "lang", Seq(800L, 3000L))
    val curveLat = graft.ops.Sampling.budgetFillCurveByStratumFromCounts(
      latestRows, "lang", Seq(800L, 3000L))
    assert(keepCurve.except(curveLat).isEmpty &&
      curveLat.except(keepCurve).isEmpty,
      s"fill-curve keep-latest serve drifted from the independent " +
        s"arbitration (${keepCurve.collect().toSeq} vs " +
        s"${curveLat.collect().toSeq})")
    val curvePre = graft.ops.Sampling.budgetFillCurveByStratum(
      scored(docs), "lang", col("score_ppm"), Seq(800L, 3000L))
    assert(graft.ops.Sampling.budgetFillCurveByStratumFromVersioned(
      versioned, "lang", Seq(800L, 3000L))
      .except(curvePre).count() > 0,
      "cross-stratum re-ingest did not change any curve row")
    graft.ops.Reuse.freeAll(spark)
    val keepSweep = graft.ops.Sampling.twoLevelCapSweepFromVersioned(
      versioned, Seq(800L, 1500L), 4000L)
    val sweepLat = graft.ops.Sampling.twoLevelCapSweepFromCounts(
      latestRows, Seq(800L, 1500L), 4000L)
    assert(keepSweep.except(sweepLat).isEmpty &&
      sweepLat.except(keepSweep).isEmpty,
      s"cap-sweep keep-latest serve drifted from the independent " +
        s"arbitration (${keepSweep.collect().toSeq} vs " +
        s"${sweepLat.collect().toSeq})")
    graft.ops.Reuse.freeAll(spark)
    // the lineage diff served from the SAME sink (r17 verdict item
    // 2): between the first batch and the appended reclassification
    // batch, the moved doc reads moved_in/moved_out (mass leaves its
    // old stratum, arrives in the new), docs ingested after batch 0
    // read added; == the direct corpusDiff over snapshots
    // MATERIALIZED by the independent row_number arbitration at each
    // version cut, with text re-synthesized from the stored
    // (score, toks) fingerprint
    val batches = spark.read.parquet(state)
      .select(col("batch").cast("long")).distinct()
      .collect().map(_.getLong(0)).sorted
    val (v0, vN) = (batches.head, batches.last)
    val sinkDiff = graft.ops.Sampling.corpusDiffFromVersioned(
      versioned, v0, vN, "lang")
    def matSnap(v: Long) = {
      val wv = org.apache.spark.sql.expressions.Window
        .partitionBy("_id").orderBy(col("batch").cast("long").desc)
      spark.read.parquet(state)
        .filter(col("batch").cast("long") <= v)
        .withColumn("_rn", org.apache.spark.sql.functions.row_number()
          .over(wv))
        .filter(col("_rn") === 1)
        .select(col("_id").as("doc_id"), col("_s").as("lang"),
          concat(lit("s"), col("_score"), lit(" t"), col("_toks"))
            .as("text"), col("_score"), col("_toks"))
    }
    val matDiff = graft.ops.Sampling.corpusDiff(
      matSnap(v0), matSnap(vN), "lang")
    // the materialized text is a 2-token surrogate, so token masses
    // differ from the sink serve (which uses the stored _toks) —
    // compare the CLASS columns, which must agree exactly
    val classCols = Seq("lang", "n_added", "n_removed", "n_changed",
      "n_moved_in", "n_moved_out", "n_unchanged")
    val sc2 = sinkDiff.select(classCols.map(col): _*)
    val mc2 = matDiff.select(classCols.map(col): _*)
    assert(sc2.except(mc2).isEmpty && mc2.except(sc2).isEmpty,
      s"sink-served diff classes drifted from the materialized " +
        s"direct diff (${sc2.collect().toSeq} vs " +
        s"${mc2.collect().toSeq})")
    graft.ops.Reuse.freeAll(spark)
    // the move class, cut-point-precise: between the LAST pre-append
    // batch (full original corpus at keep-latest) and the appended
    // reclassification batch, the ONLY lineage event is the one
    // moved doc
    val vPrev = batches.filter(_ != vN).max
    val movedRows = graft.ops.Sampling.corpusDiffFromVersioned(
      versioned, vPrev, vN, "lang").collect()
    assert(movedRows.map(_.getLong(4)).sum == 1 &&
      movedRows.map(_.getLong(5)).sum == 1 &&
      movedRows.map(_.getLong(1)).sum == 0 &&
      movedRows.map(_.getLong(3)).sum == 0,
      s"reclassification between v$vPrev and v$vN should read as " +
        s"exactly one moved doc: ${movedRows.toSeq}")
    graft.ops.Reuse.freeAll(spark)
    // self-diff law at the newest version: everything unchanged
    val selfDiff = graft.ops.Sampling.corpusDiffFromVersioned(
      versioned, vN, vN, "lang").collect()
    assert(selfDiff.forall(r => r.getLong(1) == 0 && r.getLong(2) == 0
      && r.getLong(3) == 0 && r.getLong(4) == 0 && r.getLong(5) == 0
      && r.getLong(9) == 0) && selfDiff.map(_.getLong(6)).sum > 0,
      s"self-diff at v$vN not all-unchanged: ${selfDiff.toSeq}")
    graft.ops.Reuse.freeAll(spark)
  }

  test("streaming source-overlap state == batch keyOverlap (ext68 twin, " +
      "incremental pair state, cap applied at derivation)") {
    val docs = graft.ingest.Tables.documents(spark, sf("sf0.001"))
      .select("doc_id", "source", "text")
    val srcDir = Files.createTempDirectory("graft-ovl-src").toString + "/d"
    docs.write.parquet(srcDir)
    val pairs = runSink(srcDir)((s, o) => StreamingPipeline.partialsSink(
      s, graft.ops.Dedup.keyShinglePairs(_), o))
    val streamed = graft.ops.Dedup.keyOverlapFromPairs(
      StreamingPipeline.partials(spark, pairs))
    val batch = graft.ops.Dedup.keyOverlap(docs)
    assert(streamed.count() == batch.count() && batch.count() > 0)
    assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty,
      "streamed overlap matrix differs from the batch operator")
    graft.ops.Reuse.freeAll(spark)
  }

  test("streaming card partials: data card and dup stats == batch " +
      "(ext66/ext64 twins, algebraic state + offline cluster artifact)") {
    val docs = graft.ingest.Tables.documents(spark, sf("sf0.001"))
      .select("doc_id", "lang", "source", "text")
    // The corpus-snapshot cluster map, computed once offline exactly as
    // the batch queries' build-once artifact is.
    val clusterMap = graft.ops.Components.connectedComponents(
      graft.ops.Dedup.minhashLsh(docs).select("id_a", "id_b"))
      .select(col("id").as("doc_id"), col("cluster_id"))
    val cl = graft.ops.Reporting.clusterStats(clusterMap)
    val srcDir = Files.createTempDirectory("graft-card-src").toString + "/d"
    docs.write.parquet(srcDir)
    val state = runSink(srcDir)((s, o) => StreamingPipeline.partialsSink(
      s, graft.ops.Reporting.cardPartials(_), o))
    // More than one micro-batch actually ran, or the merge property was
    // never exercised (batch is the partition column of the state dir).
    assert(spark.read.parquet(state).select("batch")
      .distinct().count() > 1)
    val card = graft.ops.Reporting.dataCard(
      StreamingPipeline.partials(spark, state), cl)
    val batchCard = graft.ops.Reporting.dataCard(
      graft.ops.Reporting.cardPartials(docs), cl)
    assert(card.except(batchCard).isEmpty &&
      batchCard.except(card).isEmpty,
      "streamed data card differs from the batch card")
    val stats = graft.ops.Reporting.dupStats(cl,
      StreamingPipeline.partials(spark, state).agg(sum(col("c")).as("n_total")))
    val batchStats = graft.ops.Reporting.dupStats(cl,
      docs.agg(count(lit(1)).as("n_total")))
    assert(stats.except(batchStats).isEmpty &&
      batchStats.except(stats).isEmpty,
      "streamed dup stats differ from the batch report")
    graft.ops.Reuse.freeAll(spark)
  }

  test("chunkWithOverlap is streaming-safe: streamed chunks == batch " +
      "chunks (ext53, stateless projection)") {
    val batchDocs = graft.ingest.Tables.documents(spark, sf("sf0.001"))
      .select("doc_id", "text")
    val srcDir = Files.createTempDirectory("graft-chunk-src").toString + "/d"
    batchDocs.write.parquet(srcDir)
    val q = graft.ops.TextOps.chunkWithOverlap(
      StreamingPipeline.parquetStream(spark, srcDir,
        maxFilesPerTrigger = Some(1)), 32, 8)
      .writeStream.outputMode("append").format("memory")
      .queryName("chunk_stream").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("chunk_stream")
    val batch = graft.ops.TextOps.chunkWithOverlap(batchDocs, 32, 8)
    assert(streamed.count() == batch.count() && batch.count() > 0)
    assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty,
      "streamed chunks differ from batch chunking")
  }

  test("streaming shard sequencer: single batch == batch shardAssign; " +
      "multi-batch keeps shards and dense seq (ext52 twin)") {
    import spark.implicits._
    val batchDocs = graft.ingest.Tables.documents(spark, sf("sf0.001"))
      .select("doc_id", "text")
    val batch = graft.ops.Splits.shardAssign(batchDocs, col("doc_id"), 8)
      .select("doc_id", "shard", "seq")
    val srcDir = Files.createTempDirectory("graft-shard-src").toString + "/d"
    batchDocs.write.parquet(srcDir)
    def run(maxFiles: Option[Int], name: String) = {
      val q = StreamingPipeline.shardSequencerStream(
        StreamingPipeline.parquetStream(spark, srcDir,
          maxFilesPerTrigger = maxFiles), col("doc_id"), 8)
        .writeStream.outputMode("append").format("memory")
        .queryName(name).start()
      q.processAllAvailable()
      q.stop()
      spark.table(name)
    }
    // One trigger sees the whole corpus -> in-batch (draw, id) ordering
    // reproduces the batch operator exactly, seq included.
    val single = run(None, "shard_single")
    assert(single.count() == batch.count())
    assert(single.except(batch).isEmpty && batch.except(single).isEmpty,
      "single-batch streamed shard/seq differs from batch shardAssign")
    // File-at-a-time replay: shard assignment still identical (stateless
    // half), seq still dense 1..n per shard (the cursor state), though
    // append-ordered rather than corpus-ordered.
    val multi = run(Some(1), "shard_multi")
    assert(multi.count() == batch.count())
    assert(multi.select("doc_id", "shard")
      .except(batch.select("doc_id", "shard")).isEmpty)
    val byShard = multi.select("shard", "seq").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq)
    byShard.foreach { case (_, seqs) =>
      assert(seqs == (1L to seqs.size).toSeq)
    }
  }

  test("streaming shard manifest: latest row per shard == batch " +
      "manifest after every replay granularity (ext63 twin)") {
    import spark.implicits._
    val batchDocs = graft.ingest.Tables.documents(spark, sf("sf0.001"))
      .select("doc_id", "text")
    val batch = graft.ops.Splits.shardManifest(batchDocs, col("doc_id"), 8)
      .as[(Long, Long, Long)].collect().toSeq.sortBy(_._1)
    val srcDir = Files.createTempDirectory("graft-manifest-src")
      .toString + "/d"
    batchDocs.write.parquet(srcDir)
    def run(maxFiles: Option[Int], name: String) = {
      val q = StreamingPipeline.shardManifestStream(
        StreamingPipeline.parquetStream(spark, srcDir,
          maxFilesPerTrigger = maxFiles), col("doc_id"), 8)
        .writeStream.outputMode("update").format("memory")
        .queryName(name).start()
      q.processAllAvailable()
      q.stop()
      // update mode re-emits a shard's row each batch it changes in;
      // the manifest is the LAST row per shard (max n_docs — the count
      // only grows)
      spark.table(name).as[(Long, Long, Long)].collect().toSeq
        .groupBy(_._1).map(_._2.maxBy(_._2)).toSeq.sortBy(_._1)
    }
    assert(run(None, "manifest_single") == batch,
      "single-batch streamed manifest differs from batch shardManifest")
    assert(run(Some(1), "manifest_multi") == batch,
      "file-at-a-time streamed manifest differs from batch shardManifest")
  }

  test("streaming incremental dedup == sequential dedupeIncrement (ext36 twin)") {
    import spark.implicits._
    val srcDir = Files.createTempDirectory("graft-incdedup-src").toFile
    val ckpt = Files.createTempDirectory("graft-incdedup-ckpt").toString
    val store = Files.createTempDirectory("graft-incdedup-store").toString
    val (bandsPath, keptPath) = (s"$store/bands", s"$store/kept")

    // Distinct long texts so only PLANTED duplicates share bands; each
    // increment is one parquet file (one micro-batch via
    // maxFilesPerTrigger=1, ordered by mtime).
    def text(seed: Int): String =
      (0 until 12).map(i => s"w${seed}x${(seed * 31 + i * 7) % 97}n$i")
        .mkString(" ")
    val incs = Seq(
      Seq(1L -> text(1), 2L -> text(2), 3L -> text(3)),
      // 11 duplicates inc-1's doc 1; 14/15 duplicate each other in-batch.
      Seq(11L -> text(1), 12L -> text(6), 14L -> text(7), 15L -> text(7)),
      // 21 duplicates inc-2's KEPT doc 12; 22 duplicates inc-1's doc 2.
      Seq(21L -> text(6), 22L -> text(2), 23L -> text(10)))
    oneFileIncrements(srcDir, incs.map(_.toDF("doc_id", "text")))

    val q = StreamingPipeline.incrementalDedupSink(
      StreamingPipeline.parquetStream(spark, srcDir.toString,
        maxFilesPerTrigger = Some(1)),
      bandsPath, keptPath)
      .option("checkpointLocation", ckpt).start()
    q.processAllAvailable()
    q.stop()

    val streamedKept = spark.read.parquet(keptPath)
      .select("doc_id").as[Long].collect().toSet

    // Sequential batch reference: fold dedupeIncrement over the same
    // increments in the same order, growing the band table as the sink
    // does.
    var corpusBands = graft.ops.Dedup.bandedSignatures(
      graft.ops.Dedup.minhashSignatures(
        incs.head.toDF("doc_id", "text").limit(0)))
    val expected = scala.collection.mutable.Set[Long]()
    incs.foreach { rows =>
      val kept = graft.ops.Dedup.dedupeIncrement(
        corpusBands, rows.toDF("doc_id", "text"))
      expected ++= kept.select("doc_id").as[Long].collect()
      corpusBands = corpusBands.union(graft.ops.Dedup.bandedSignatures(
        graft.ops.Dedup.minhashSignatures(kept)))
        .localCheckpoint(true)
    }
    graft.ops.Reuse.freeAll(spark)

    assert(streamedKept == expected.toSet)
    // The planted duplicates (and only they) are dropped.
    assert(streamedKept == Set(1L, 2L, 3L, 12L, 14L, 23L))
    // The stored band table covers every kept doc: 4 bands each.
    assert(spark.read.parquet(bandsPath).count() == expected.size * 4L)
  }

  test("incremental dedup frees each batch's checkpoints: persisted " +
      "RDDs do not grow per batch, over 4 one-file batches") {
    import spark.implicits._
    val nBatches = 4
    val srcDir = Files.createTempDirectory("graft-incfree-src").toFile
    val ckpt = Files.createTempDirectory("graft-incfree-ckpt").toString
    val store = Files.createTempDirectory("graft-incfree-store").toString
    oneFileIncrements(srcDir, (0 until nBatches).map { i =>
      (0 until 3).map { j =>
        val id = i * 10L + j
        id -> (0 until 12).map(w => s"d${id}w$w").mkString(" ")
      }.toDF("doc_id", "text")
    })
    graft.ops.Reuse.freeAll(spark)
    def persisted() = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val before = persisted()
    // dedupeIncrement materializes the increment's bands with Reuse.shared
    val (batches, held) = holdingPersisted {
      val q = StreamingPipeline.incrementalDedupSink(
          StreamingPipeline.parquetStream(spark, srcDir.toString,
            maxFilesPerTrigger = Some(1)),
          s"$store/bands", s"$store/kept")
        .option("checkpointLocation", ckpt).start()
      q.processAllAvailable()
      try q.recentProgress.count(_.numInputRows > 0) finally q.stop()
    }
    assert(batches == nBatches, s"expected $nBatches one-file batches")
    assert(spark.read.parquet(s"$store/kept").count() == 3L * nBatches)
    val grown = persisted() -- before
    assert(grown.isEmpty,
      s"persisted RDDs grew by ${grown.size} over $nBatches batches")
    // non-vacuous: the poller saw a checkpoint of every batch
    import scala.jdk.CollectionConverters._
    val seen = held.keySet.asScala.toSet -- before
    assert(seen.size >= nBatches,
      s"saw ${seen.size} RDDs persisted during the stream")
  }

  test("incremental dedup replay: same batchId reproduces identical state") {
    import spark.implicits._
    val store = Files.createTempDirectory("graft-incdedup-replay").toString
    val (bandsPath, keptPath) = (s"$store/bands", s"$store/kept")
    def snap(): (Set[Long], Long) = (
      spark.read.parquet(keptPath).select("doc_id").as[Long].collect().toSet,
      spark.read.parquet(bandsPath).count())
    val t1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val t2 = "one two three four five six seven eight nine ten eleven"
    val t3 = "red green blue cyan magenta yellow black white gray pink"
    val inc0 = Seq(1L -> t1, 2L -> t2).toDF("doc_id", "text")
    // 11 duplicates corpus doc 1; 12 is novel.
    val inc1 = Seq(11L -> t1, 12L -> t3).toDF("doc_id", "text")
    StreamingPipeline.processIncrement(inc0, 0L, bandsPath, keptPath)
    StreamingPipeline.processIncrement(inc1, 1L, bandsPath, keptPath)
    val before = snap()
    assert(before._1 == Set(1L, 2L, 12L))
    // Crash-replay of batch 1: the partner read must EXCLUDE batch 1's
    // own previous output (doc 12's bands would otherwise mark doc 12 a
    // duplicate of itself and drop it on the second pass).
    StreamingPipeline.processIncrement(inc1, 1L, bandsPath, keptPath)
    assert(snap() == before,
      "replaying a batch with the same id changed the store")
    graft.ops.Reuse.freeAll(spark)
  }

  test("streaming dedup drops re-delivered ids, passes uniques (ext01 twin)") {
    val dir = Files.createTempDirectory("graft-dedup").toFile
    val ckpt = Files.createTempDirectory("graft-dedup-ckpt").toString
    def line(id: Long, tsMs: Long) =
      s"""{"id":$id,"text":"t$id","timestamp_ms":"$tsMs","entities":{"hashtags":[],"user_mentions":[]},"user":{"followers_count":1,"screen_name":"u"},"retweeted_status":null}"""
    val base = 1704067200000L
    // File A: ids 0..99. File B re-delivers 50..99 (same ts — the
    // at-least-once case) and adds 100..149.
    Files.write(new java.io.File(dir, "a.jsonl").toPath,
      (0L to 99L).map(i => line(i, base + i * 1000))
        .mkString("\n").getBytes)
    Files.write(new java.io.File(dir, "b.jsonl").toPath,
      ((50L to 99L) ++ (100L to 149L)).map(i => line(i, base + i * 1000))
        .mkString("\n").getBytes)

    val out = StreamingPipeline.dedupedTweetStream(
      StreamingPipeline.tweetStream(spark, dir.toString))
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("dedup_out").option("checkpointLocation", ckpt).start()
    q.processAllAvailable()
    q.stop()

    val got = spark.table("dedup_out")
    assert(got.count() == 150 && got.select("id").distinct().count() == 150)
  }

  test("streaming KMV sketch == batch sketch (incremental merge safety)") {
    val src = StreamingPipeline.eventStream(spark,
      sf("sf0.001") + "/events.parquet")
      .groupBy(col("event_type").as("entity"))
      .agg(graft.ops.Sketches.kmvSummary(col("user_id")).as("s"))
      .select(col("entity"), col("s.nMins").as("n_mins"),
        col("s.kthMin").as("kth_min"))
    val q = src.writeStream.outputMode("complete").format("memory")
      .queryName("kmv_stream").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("kmv_stream")
    val batch = graft.ops.Sketches
      .kmvDistinctAgg(Tables.events(spark, sf("sf0.001")),
        col("event_type"), col("user_id"))
      .select("entity", "n_mins", "kth_min")
    assert(streamed.count() > 0 &&
      streamed.except(batch).isEmpty && batch.except(streamed).isEmpty)
  }

  test("streaming HLL sketch == batch sketch (register-max merge " +
      "safety, ext132 twin)") {
    // The HllAgg buffer is m=256 bytes per group regardless of stream
    // length — legal unbounded-state-free streaming aggregation; the
    // elementwise-max merge law means incremental micro-batch folds
    // land on the SAME registers (hence the same exact-int64 scaled
    // harmonic sum) as the one-shot batch build.
    val src = StreamingPipeline.eventStream(spark,
      sf("sf0.001") + "/events.parquet")
      .groupBy(col("event_type").as("entity"))
      .agg(graft.ops.Sketches.hllSummary(col("user_id")).as("s"))
      .select(col("entity"), col("s.vZero").as("v_zero"),
        col("s.harmonicScaled").as("harmonic_scaled"))
    val q = src.writeStream.outputMode("complete").format("memory")
      .queryName("hll_stream").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("hll_stream")
    val batch = graft.ops.Sketches
      .hllDistinctAgg(Tables.events(spark, sf("sf0.001")),
        col("event_type"), col("user_id"))
      .select("entity", "v_zero", "harmonic_scaled")
    assert(streamed.count() > 0 &&
      streamed.except(batch).isEmpty && batch.except(streamed).isEmpty)
  }

  test("streaming interval join == batch interval join pairs (ext22 twin)") {
    val events =
      StreamingPipeline.eventStream(spark, sf("sf0.001") + "/events.parquet")
    val streamed = StreamingPipeline.intervalJoinPairsStream(
        events.filter(col("event_type") === "purchase"),
        events.filter(col("event_type") === "click"),
        "user_id", "ts", 3600000000L, StreamingPipeline.Watermark)
      .select("l_id", "r_ts")
    val ckpt = Files.createTempDirectory("graft-ssj-ckpt").toString
    val q = streamed.writeStream.outputMode("append").format("memory")
      .queryName("ssj_out").option("checkpointLocation", ckpt).start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("ssj_out")

    val ev = Tables.events(spark, sf("sf0.001"))
    val batchPairs = graft.ops.IntervalJoin.countRecent(
      ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts"),
      ev.filter(col("event_type") === "click").select("user_id", "ts"),
      "user_id", "ts", 3600000000L, "n")
      .agg(sum("n")).collect()(0).getLong(0)
    assert(got.count() == batchPairs && batchPairs > 0)
  }

  test("streaming session windows == batch sessions closed by the final " +
      "watermark (ext19 twin)") {
    val src = StreamingPipeline.eventStream(spark,
      sf("sf0.001") + "/events.parquet")
      .withWatermark("ts", "5 seconds")
    val agg = graft.agg.Windows.sessionAgg(src, col("user_id"), col("value"))
    val q = agg.writeStream.outputMode("append").format("memory")
      .queryName("sess_stream").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("sess_stream")
    val batch = graft.agg.Windows.sessionAgg(
      Tables.events(spark, sf("sf0.001")), col("user_id"), col("value"))
    // Append mode emits exactly the sessions the final watermark closed;
    // every emitted session must match the batch result bit-for-bit
    // (subset), and the tail the watermark left open is the only gap.
    assert(streamed.count() > 0)
    assert(streamed.except(batch).isEmpty,
      "streamed session disagrees with the oracle-verified batch form")
    // Spark truncates the watermark to ms, so leave a 1 s margin on the
    // boundary — the bit-exact subset assertion above is the strong check.
    // The closed-count is evaluated DRIVER-SIDE on purpose: a
    // `.filter(session_end_us < wm)` on the DataFrame gets pushed below
    // the session merge (session_window is a grouping column), which
    // SPLITS sessions whose later events fall past the cutoff — the
    // filtered aggregate is a different aggregation, not a subset.
    val wmUs = Tables.events(spark, sf("sf0.001"))
      .agg(max(unix_micros(col("ts")))).collect()(0).getLong(0) - 6000000L
    val closed = batch.collect()
      .count(_.getAs[Long]("session_end_us") < wmUs)
    assert(streamed.count() >= closed,
      s"watermark-closed sessions missing: emitted ${streamed.count()} < $closed")
  }

  test("streaming stratified sample == batch stratified sample (ext25 twin)") {
    val src = StreamingPipeline.parquetStream(spark,
      sf("sf0.001") + "/documents.parquet")
    val agg = StreamingPipeline.stratifiedSampleStream(
      src, Seq("lang", "source"), col("doc_id"), 20)
    val q = agg.writeStream.outputMode("complete").format("memory")
      .queryName("strat_stream").start()
    q.processAllAvailable()
    q.stop()
    // rank = position in the bounded buffer (selection order), 1-based —
    // the exact shape of the batch operator's output.
    val streamed = spark.table("strat_stream")
      .select(col("lang"), col("source"),
        posexplode(col("sample_ids")).as(Seq("pos", "doc_id")))
      .select(col("doc_id"), col("lang"), col("source"),
        (col("pos") + 1).cast("long").as("rank"))
    val batch = graft.ops.Sampling.stratifiedTopK(
      graft.ingest.Tables.documents(spark, sf("sf0.001"))
        .select("doc_id", "lang", "source"),
      Seq("lang", "source"), col("doc_id"), 20)
      .select("doc_id", "lang", "source", "rank")
    assert(streamed.count() > 0)
    assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty,
      "streaming stratified sample differs from the batch selection")
  }

  test("text coalesce prefers extended and retweeted text (OP-05)") {
    val lines = Seq(
      """{"id":1,"text":"short","timestamp_ms":"1704067200000","extended_tweet":{"full_text":"long form"},"entities":{"hashtags":[],"user_mentions":[]},"user":{"followers_count":1,"screen_name":"a"},"retweeted_status":null}""",
      """{"id":2,"text":"rt short","timestamp_ms":"1704067201000","extended_tweet":null,"entities":{"hashtags":[],"user_mentions":[]},"user":{"followers_count":1,"screen_name":"b"},"retweeted_status":{"id":1,"extended_tweet":{"full_text":"rt long"}}}""",
      """{"id":3,"text":"plain","timestamp_ms":"1704067202000","extended_tweet":null,"entities":{"hashtags":[],"user_mentions":[]},"user":{"followers_count":1,"screen_name":"c"},"retweeted_status":null}""")
    import spark.implicits._
    val df = Tables.projectTweets(
      Tables.tweetsFromJsonLines(lines.toDF("value")))
    val texts = df.orderBy("id").select("text").as[String].collect().toSeq
    assert(texts == Seq("long form", "rt long", "plain"))
    val orig = df.orderBy("id").select("originalTweetId")
      .as[Long].collect().toSeq
    assert(orig == Seq(-1L, 1L, -1L))
  }

  test("streaming dup-span scoring and pii partials == batch operators " +
      "(ext91/ext92 twins)") {
    val docs = graft.ingest.Tables.documents(spark, sf("sf0.001"))
      .select("doc_id", "text", "source")
    val srcDir = Files.createTempDirectory("graft-span-src").toString + "/d"
    docs.write.parquet(srcDir)
    // ext91: the per-snapshot shared-hash artifact computed once
    // offline, each micro-batch scored against it (ext69's boundary).
    val shared = graft.ops.Dedup.dupSharedHashes(docs)
    val spanOut = runSink(srcDir)((s, o) =>
      StreamingPipeline.partialsSink(s, fixed(shared),
        (b, a) => graft.ops.Dedup.dupSpanMassAgainst(b, a.head), o))
    val spanStreamed = spark.read.parquet(spanOut)
      .select("doc_id", "n_spans", "n_dup_spans", "n_covered_toks",
        "dup_mass_ppm")
    val spanBatch = graft.ops.Dedup.dupSpanMass(docs)
    assert(spanStreamed.count() == spanBatch.count() && spanBatch.count() > 0)
    assert(spanStreamed.except(spanBatch).isEmpty &&
      spanBatch.except(spanStreamed).isEmpty,
      "streamed dup-span scores differ from the batch operator")
    // ext96: surgery against the stored keeper artifact — per-doc cut
    // and reassembly are corpus-independent, same boundary as ext91.
    val keepers = graft.ops.Dedup.dupKeeperSpans(docs)
    val surgOut = runSink(srcDir)((s, o) =>
      StreamingPipeline.partialsSink(s, fixed(keepers),
        (b, a) => graft.ops.Dedup.dupSpanSurgeryAgainst(b, a.head), o))
    val surgStreamed = spark.read.parquet(surgOut)
      .select("doc_id", "n_toks", "n_toks_cut", "clean_text")
    val surgBatch = graft.ops.Dedup.dupSpanSurgery(docs)
    assert(surgStreamed.count() == surgBatch.count() && surgBatch.count() > 0)
    assert(surgStreamed.except(surgBatch).isEmpty &&
      surgBatch.except(surgStreamed).isEmpty,
      "streamed span surgery differs from the batch operator")
    // ext92: the card is its own algebraic partial; the fold sums.
    val piiOut = runSink(srcDir)((s, o) => StreamingPipeline.partialsSink(
      s, graft.ops.TextOps.piiAudit(_, Seq("source")), o))
    val piiStreamed = graft.ops.TextOps.piiAuditFromCounts(
      StreamingPipeline.partials(spark, piiOut))
    val piiBatch = graft.ops.TextOps.piiAudit(docs, Seq("source"))
    assert(piiStreamed.except(piiBatch).isEmpty &&
      piiBatch.except(piiStreamed).isEmpty && piiBatch.count() > 0,
      "streamed pii fold differs from the batch card")
    // ext98: the counter table is its own partial; cell-wise merge.
    val cmsOut = runSink(srcDir)((s, o) => StreamingPipeline.partialsSink(
      s, graft.ops.Sketches.countMinCounters(_), o))
    val cmsStreamed = graft.ops.Sketches.countMinMerge(
      StreamingPipeline.partials(spark, cmsOut))
    val cmsBatch = graft.ops.Sketches.countMinCounters(docs)
    assert(cmsStreamed.except(cmsBatch).isEmpty &&
      cmsBatch.except(cmsStreamed).isEmpty && cmsBatch.count() > 0,
      "streamed count-min fold differs from the one-shot counters")
    graft.ops.Reuse.freeAll(spark)
  }

  test("streaming json-profile partials == batch card (ext99 twin)") {
    val ev = graft.ingest.Tables.events(spark, sf("sf0.001"))
      .select("event_id", "props")
    val srcDir = Files.createTempDirectory("graft-json-src").toString + "/d"
    ev.write.parquet(srcDir)
    val out = runSink(srcDir)((s, o) => StreamingPipeline.partialsSink(
      s, graft.ops.Reporting.jsonKeyProfile(_, col("props")), o))
    val streamed = graft.ops.Reporting.jsonKeyProfileFromCounts(
      StreamingPipeline.partials(spark, out))
    val batch = graft.ops.Reporting.jsonKeyProfile(ev, col("props"))
    assert(streamed.except(batch).isEmpty &&
      batch.except(streamed).isEmpty && batch.count() > 0,
      "streamed json-profile fold differs from the batch card")
    graft.ops.Reuse.freeAll(spark)
  }

  test("streaming norm-audit partials == batch card (ext95 twin, " +
      "mergeable count/zero/min/max/decimal-sum state)") {
    val emb = graft.ingest.Tables.embeddings(spark, sf("sf0.001"))
      .select("vec_id", "embedding", "label")
    val srcDir = Files.createTempDirectory("graft-norm-src").toString + "/d"
    emb.write.parquet(srcDir)
    val out = runSink(srcDir)((s, o) => StreamingPipeline.partialsSink(
      s, graft.ops.Similarity.normAuditPartials(_), o))
    val streamed = graft.ops.Similarity.normAuditFromCounts(
      StreamingPipeline.partials(spark, out))
    val batch = graft.ops.Similarity.normAudit(emb)
    assert(streamed.count() == batch.count() && batch.count() > 0)
    assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty,
      "streamed norm-audit fold differs from the batch card")
    graft.ops.Reuse.freeAll(spark)
  }

  test("streaming trending partials == batch aligned trending at any " +
      "batching (ext141 twin, addition-merged histogram state)") {
    import spark.implicits._
    val ev = graft.ingest.Tables.events(spark, sf("sf0.001"))
      .select("event_id", "ts", "user_id", "event_type")
    val batch = graft.ops.Decay.trendingTopKAligned(ev, col("event_type"),
        col("user_id"), col("ts"), 86400000000L, 10)
    for (filesPerTrigger <- Seq(1, 4)) {
      val srcDir = Files.createTempDirectory("graft-trend-src")
        .toString + "/d"
      // four increments = four parquet files, split by event id
      ev.withColumn("part", pmod(col("event_id"), lit(4)))
        .repartition(4, col("part")).drop("part")
        .write.parquet(srcDir)
      val out = runSink(srcDir, filesPerTrigger)((s, o) =>
        StreamingPipeline.partialsSink(s, graft.ops.Decay.alignedHistogram(
          _, Seq(col("event_type"), col("user_id")), col("ts"),
          86400000000L), o))
      val streamed = StreamingPipeline.trendingFromState(spark, out, 10)
      assert(streamed.count() == batch.count() && batch.count() > 0)
      assert(streamed.except(batch).isEmpty &&
        batch.except(streamed).isEmpty,
        s"streamed trending @$filesPerTrigger/trigger differs from batch")
    }
    graft.ops.Reuse.freeAll(spark)
  }

  test("streaming textrank edge partials == batch keywords at any " +
      "batching (ext145 twin, addition-merged graph)") {
    import spark.implicits._
    val docs = graft.ingest.Tables.documents(spark, sf("sf0.001"))
      .select("doc_id", "text")
    // collect the reference BEFORE the loop: freeAll between
    // granularities drops the checkpoint blocks a live plan would read
    val batch = graft.ops.TextOps.textRank(docs)
      .as[(String, Long)].collect().toSet
    graft.ops.Reuse.freeAll(spark)
    assert(batch.nonEmpty)
    for (filesPerTrigger <- Seq(1, 4)) {
      val srcDir = Files.createTempDirectory("graft-tr-src")
        .toString + "/d"
      docs.withColumn("part", pmod(col("doc_id"), lit(4)))
        .repartition(4, col("part")).drop("part")
        .write.parquet(srcDir)
      val out = Files.createTempDirectory("graft-tr-out").toString
      val ckpt = Files.createTempDirectory("graft-tr-ckpt").toString
      val q = StreamingPipeline.partialsSink(
        StreamingPipeline.parquetStream(spark, srcDir,
          maxFilesPerTrigger = Some(filesPerTrigger)),
        graft.ops.TextOps.textRankEdges(_, "text"), out)
        .option("checkpointLocation", ckpt).start()
      q.processAllAvailable()
      q.stop()
      val streamed = StreamingPipeline.textrankFromState(spark, out)
        .as[(String, Long)].collect().toSet
      assert(streamed == batch,
        s"streamed textrank @$filesPerTrigger/trigger differs from batch")
      graft.ops.Reuse.freeAll(spark)
    }
  }

  test("streaming stupid-backoff LM count partials == batch scores at " +
      "any batching; post-merge prune non-vacuous (ext148 twin)") {
    import spark.implicits._
    val docs = graft.ingest.Tables.documents(spark, sf("sf0.001"))
      .select("doc_id", "text")
    val batch = graft.ops.TextOps.stupidBackoffScores(docs)
      .as[(Long, Long, Long, Long)].collect().toSet
    graft.ops.Reuse.freeAll(spark)
    assert(batch.nonEmpty)
    for (filesPerTrigger <- Seq(1, 4)) {
      val srcDir = Files.createTempDirectory("graft-lm-src")
        .toString + "/d"
      docs.withColumn("part", pmod(col("doc_id"), lit(4)))
        .repartition(4, col("part")).drop("part")
        .write.parquet(srcDir)
      val out = Files.createTempDirectory("graft-lm-out").toString
      val ckpt = Files.createTempDirectory("graft-lm-ckpt").toString
      val q = StreamingPipeline.lmPartialsSink(
        StreamingPipeline.parquetStream(spark, srcDir,
          maxFilesPerTrigger = Some(filesPerTrigger)), out)
        .option("checkpointLocation", ckpt).start()
      q.processAllAvailable()
      q.stop()
      val streamed = StreamingPipeline
        .lmBackoffFromState(spark, out, docs)
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(streamed == batch,
        s"streamed lm backoff @$filesPerTrigger/trigger differs")
      // the post-merge prune law has teeth at 1-file batching: some
      // bigram must be kept in the MERGE that no single batch saw
      // minCount times (per-batch pruning would have dropped it)
      if (filesPerTrigger == 1) {
        val perBatchKept = spark.read.parquet(out)
          .filter(col("t2").isNotNull)
          .groupBy("batch", "t1", "t2").agg(sum("c").as("c"))
          .filter(col("c") >= 2)
          .select("t1", "t2").distinct()
        val mergedKept = spark.read.parquet(out).drop("batch")
          .filter(col("t2").isNotNull)
          .groupBy("t1", "t2").agg(sum("c").as("c"))
          .filter(col("c") >= 2)
          .select("t1", "t2").distinct()
        assert(mergedKept.except(perBatchKept).count() > 0,
          "post-merge prune is vacuous: every kept bigram already " +
            "cleared minCount inside one batch")
      }
      graft.ops.Reuse.freeAll(spark)
    }
  }

  test("streaming moore-lewis tagged count partials == batch gains at " +
      "any batching (ext154 twin, one stored table serves both LMs)") {
    import spark.implicits._
    val docs = graft.ingest.Tables.documents(spark, sf("sf0.001"))
      .select("doc_id", "lang", "text")
    val batch = graft.ops.TextOps
      .mooreLewisScores(docs, col("lang") === "en")
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)]
      .collect().toSet
    graft.ops.Reuse.freeAll(spark)
    assert(batch.nonEmpty && batch.exists(_._8 == 0L) &&
      batch.exists(_._8 == 1L), "fixture must split selected/dropped")
    for (filesPerTrigger <- Seq(1, 4)) {
      val srcDir = Files.createTempDirectory("graft-ml-src")
        .toString + "/d"
      docs.withColumn("part", pmod(col("doc_id"), lit(4)))
        .repartition(4, col("part")).drop("part")
        .write.parquet(srcDir)
      val out = Files.createTempDirectory("graft-ml-out").toString
      val ckpt = Files.createTempDirectory("graft-ml-ckpt").toString
      val q = StreamingPipeline.mooreLewisPartialsSink(
        StreamingPipeline.parquetStream(spark, srcDir,
          maxFilesPerTrigger = Some(filesPerTrigger)),
        col("lang") === "en", out)
        .option("checkpointLocation", ckpt).start()
      q.processAllAvailable()
      q.stop()
      val streamed = StreamingPipeline
        .mooreLewisFromState(spark, out, docs)
        .as[(Long, Long, Long, Long, Long, Long, Long, Long)]
        .collect().toSet
      assert(streamed == batch,
        s"streamed moore-lewis @$filesPerTrigger/trigger differs")
      graft.ops.Reuse.freeAll(spark)
    }
  }

  test("streaming funnel state == batch funnel at any batching; " +
      "horizon eviction non-vacuous (ext139 twin)") {
    import spark.implicits._
    val hour = 3600000000L
    val day = 24L * hour
    val steps = Seq("A", "B", "C")
    // Out-of-order across increments: u1's step-1 'A' arrives LAST —
    // its earlier-ts B/C must be re-validated by the late t1 (the case
    // that kills current-step streaming funnels). u2's B is past the
    // horizon once its t1 is known — eviction must drop it from state.
    // u3 converts in order. 'X' rows never enter funnel state.
    val incs = Seq(
      Seq((1L, 1L, "B", 2 * hour), (2L, 3L, "A", 0L),
        (3L, 2L, "A", 0L), (4L, 1L, "X", hour)),
      Seq((5L, 1L, "C", 3 * hour), (6L, 3L, "B", hour),
        (7L, 2L, "B", 9 * day)),
      Seq((8L, 1L, "A", hour), (9L, 3L, "C", 2 * hour)))
    val all = incs.flatten
    def toDf(rows: Seq[(Long, Long, String, Long)]) =
      rows.toDF("event_id", "user_id", "event_type", "us")
        .select($"event_id", $"user_id", $"event_type",
          expr("timestamp_micros(us)").as("ts"))
    val batchRef = graft.agg.Windows
      .funnel(toDf(all), col("user_id"), steps)
      .orderBy("step")
      .as[(Long, String, Long, Long, Long)].collect().toSeq
    // u1: A@1h, B@2h, C@3h converts fully (late A re-times the chain);
    // u3 converts; u2 stalls at A (B beyond horizon).
    assert(batchRef.map(r => (r._1, r._3)) == Seq((1L, 3L), (2L, 2L),
      (3L, 2L)), s"fixture drifted: $batchRef")

    for (filesPerTrigger <- Seq(1, 3)) {
      val srcDir = Files.createTempDirectory("graft-funnel-src").toFile
      val state = Files.createTempDirectory("graft-funnel-state")
        .toString + "/s"
      val ckpt = Files.createTempDirectory("graft-funnel-ckpt").toString
      incs.zipWithIndex.foreach { case (rows, i) =>
        val tmp = s"$srcDir/_stage$i"
        toDf(rows).coalesce(1).write.parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        val dst = new java.io.File(srcDir, f"inc$i%02d.parquet")
        Files.move(part.toPath, dst.toPath)
        dst.setLastModified(1704067200000L + i * 60000L)
        org.apache.commons.io.FileUtils.deleteDirectory(
          new java.io.File(tmp))
      }
      val q = StreamingPipeline.funnelStateSink(
        StreamingPipeline.parquetStream(spark, srcDir.toString,
          maxFilesPerTrigger = Some(filesPerTrigger)),
        steps, state)
        .option("checkpointLocation", ckpt).start()
      q.processAllAvailable()
      q.stop()
      val streamed = StreamingPipeline
        .funnelFromState(spark, state, steps)
        .orderBy("step")
        .as[(Long, String, Long, Long, Long)].collect().toSeq
      assert(streamed == batchRef,
        s"streamed funnel @$filesPerTrigger/trigger differs: " +
          s"$streamed vs $batchRef")
      // eviction + type-filter non-vacuous: u2's beyond-horizon B and
      // the 'X' row are gone from the final snapshot
      val stateIds = spark.read.parquet(
          new java.io.File(state).listFiles().filter(_.isDirectory)
            .map(_.toString).max)
        .select("event_id").as[Long].collect().toSet
      assert(!stateIds.contains(7L),
        "beyond-horizon event survived eviction")
      assert(!stateIds.contains(4L), "non-funnel event entered state")
      assert(stateIds.contains(5L),
        "pre-t1 event was wrongly evicted before its late step-1")
    }
  }

  test("DisorderPolicy.Adjust twin: late events lift to the 5-s bound, " +
      "window counts equal hand-computed Trill Adjust, delta vs " +
      "drop-mode non-vacuous (OP-19)") {
    import spark.implicits._
    val base = 1704067200000000L // 2024-01-01 00:00:00 UTC in micros
    def at(s: Long) = base + s * 1000000L
    // Trill Adjust(5 s) hand-run, M = running max event time:
    //  b0: e1@0:00, e2@9:58            -> M = 9:58, nothing late
    //  b1: e3@9:50  (< M-5s = 9:53)    -> ADJUSTED to 9:53
    //      e4@-0:03 (ancient)          -> ADJUSTED to 9:53 — crosses a
    //                                     window boundary into [0,10)
    //      e5@10:05 fresh              -> M = 10:05
    //  b2: e6@20:30 fresh (flushes [0,10) and [10,20))
    //  b3: e7@40:00 fresh (flushes [20,30))
    // Tumbling 10-min counts under Adjust: [0,10) = e1,e2,e3,e4 = 4;
    // [10,20) = e5 = 1; [20,30) = e6 = 1.
    val incs = Seq(
      Seq((1L, at(0)), (2L, at(598))),
      Seq((3L, at(590)), (4L, at(-3)), (5L, at(605))),
      Seq((6L, at(1230))),
      Seq((7L, at(2400))))
    def toDf(rows: Seq[(Long, Long)]) =
      rows.toDF("event_id", "us")
        .select($"event_id", expr("timestamp_micros(us)").as("ts"))
    val srcDir = Files.createTempDirectory("graft-adjust-src").toFile
    incs.zipWithIndex.foreach { case (rows, i) =>
      val tmp = s"$srcDir/_stage$i"
      toDf(rows).coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(srcDir, f"inc$i%02d.parquet")
      Files.move(part.toPath, dst.toPath)
      dst.setLastModified(1704067200000L + i * 60000L)
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(tmp))
    }
    def runCounts(adjust: Boolean): Map[Long, Long] = {
      val ckpt = Files.createTempDirectory("graft-adjust-ckpt").toString
      val out = Files.createTempDirectory("graft-adjust-out").toString
      val src = StreamingPipeline.parquetStream(spark, srcDir.toString,
        maxFilesPerTrigger = Some(1))
      val counts = graft.agg.Windows.tumblingCounts(
        (if (adjust) StreamingPipeline.adjustDisorderStream(src) else src)
          .withWatermark("ts", StreamingPipeline.Watermark))
      val q = counts.writeStream.outputMode("append")
        .format("parquet").option("path", out)
        .option("checkpointLocation", ckpt).start()
      q.processAllAvailable()
      q.stop()
      spark.read.parquet(out).as[(Long, Long)].collect().toMap
    }
    val adjusted = runCounts(adjust = true)
    val baseSec = base / 1000000L
    // e7's window never closes (no later event) — assert the CLOSED set.
    assert(adjusted == Map(
      (baseSec + 600L) -> 4L, (baseSec + 1200L) -> 1L,
      (baseSec + 1800L) -> 1L),
      s"Adjust-mode counts differ from hand-computed Trill: $adjusted")
    // Drop-mode (plain watermark, Trill's DisorderPolicy.Drop analog):
    // e4's window end (0:10:00 after base-10min... its own window ends
    // at base+0) is behind the b0-derived watermark 9:53 -> DROPPED;
    // e3's window [0,10) end 10:00 is ahead of it -> kept. [0,10) = 3.
    val dropped = runCounts(adjust = false)
    assert(dropped.get(baseSec + 600L).contains(3L),
      s"drop-mode fixture drifted: $dropped")
    assert(adjusted(baseSec + 600L) != dropped(baseSec + 600L),
      "Adjust-vs-drop delta is vacuous on this fixture")
  }

  test("sharded Adjust clamp: each shard satisfies the per-shard Adjust " +
      "law independently — and differs from the global clamp where the " +
      "laws disagree (OP-19 scale knob)") {
    import spark.implicits._
    val base = 1704067200000000L
    def at(s: Long) = base + s * 1000000L
    // Per-shard Trill Adjust(5 s) hand-run (M tracked PER SHARD):
    //  b0: A:e1@0:00       -> M_A = 0:00
    //      B:e2@9:58       -> M_B = 9:58
    //  b1: A:e3@20:00      -> M_A = 20:00
    //      B:e4@10:00      -> fine for B (floor 9:53) — but the GLOBAL
    //                         law (one M = 20:00 after this batch...
    //                         prior M = 9:58, so here still fine)
    //  b2: A:e5@5:00       -> A floor = 19:55 -> LIFTED to 19:55
    //      B:e6@5:00       -> B floor =  9:55 -> LIFTED to  9:55
    //                         (global law would lift e6 to 19:55 too —
    //                         the divergence that makes this non-vacuous)
    val incs = Seq(
      Seq((1L, 0L, at(0)), (2L, 1L, at(598))),
      Seq((3L, 0L, at(1200)), (4L, 1L, at(600))),
      Seq((5L, 0L, at(300)), (6L, 1L, at(300))))
    val srcDir = Files.createTempDirectory("graft-shadj-src").toFile
    incs.zipWithIndex.foreach { case (rows, i) =>
      val tmp = s"$srcDir/_stage$i"
      rows.toDF("event_id", "shard", "us")
        .select($"event_id", $"shard",
          expr("timestamp_micros(us)").as("ts"))
        .coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(srcDir, f"inc$i%02d.parquet")
      Files.move(part.toPath, dst.toPath)
      dst.setLastModified(1704067200000L + i * 60000L)
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(tmp))
    }
    def adjustedTs(clamp: org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame): Map[Long, Long] = {
      val ckpt = Files.createTempDirectory("graft-shadj-ckpt").toString
      val out = Files.createTempDirectory("graft-shadj-out").toString
      val src = StreamingPipeline.parquetStream(spark, srcDir.toString,
        maxFilesPerTrigger = Some(1))
      val q = clamp(src)
        .select($"event_id", unix_micros($"ts").as("us"))
        .writeStream.outputMode("append")
        .format("parquet").option("path", out)
        .option("checkpointLocation", ckpt).start()
      q.processAllAvailable()
      q.stop()
      spark.read.parquet(out).as[(Long, Long)].collect().toMap
    }
    val sharded = adjustedTs(
      StreamingPipeline.adjustDisorderStream(_, key = col("shard")))
    assert(sharded == Map(
      1L -> at(0), 2L -> at(598), 3L -> at(1200), 4L -> at(600),
      5L -> at(1195), 6L -> at(595)),
      s"per-shard Adjust law violated: $sharded")
    // the global single-key clamp lifts e6 against shard A's max —
    // the two laws genuinely diverge on this fixture
    val global = adjustedTs(
      StreamingPipeline.adjustDisorderStream(_))
    assert(global(6L) == at(1195) && sharded(6L) == at(595),
      s"fixture no longer separates the laws: $global vs $sharded")
    // AUTO keying (r14 verdict item 3): the source carries its shard
    // column, so the auto clamp satisfies the per-shard law with NO
    // opt-in key argument...
    val auto = adjustedTs(
      StreamingPipeline.adjustDisorderStreamAuto(_))
    assert(auto == sharded,
      s"auto-keyed clamp broke the per-shard law: $auto")
    // ...and a shard-less source falls back to the global law
    val autoGlobal = adjustedTs(df =>
      StreamingPipeline.adjustDisorderStreamAuto(df.drop("shard")))
    assert(autoGlobal == global,
      s"auto clamp on single-stream ingress drifted: $autoGlobal")
  }

  test("file-sharded tweet ingress end to end: shard=N partition dirs " +
      "surface through parse + projection, and the adjust pipeline " +
      "clamps per shard BY DEFAULT (r14 verdict item 3)") {
    import spark.implicits._
    val base = 1704067200000L // ms
    def us(s: Long) = (base + s * 1000L) * 1000L
    def line(id: Long, sec: Long) =
      s"""{"id":$id,"text":"t$id #x","timestamp_ms":"${base + sec * 1000L}","extended_tweet":null,"entities":{"hashtags":[{"text":"x"}],"user_mentions":[]},"user":{"followers_count":1,"screen_name":"u"},"retweeted_status":null}"""
    // the divergence fixture of the sharded-clamp test, as a FILE
    // LAYOUT: shard A (=0) and shard B (=1) each an ingress dir
    val root = Files.createTempDirectory("graft-autoshard").toFile
    val incs = Seq(
      (0L, 1L, 0L), (1L, 2L, 598L), (0L, 3L, 1200L),
      (1L, 4L, 600L), (0L, 5L, 300L), (1L, 6L, 300L))
    incs.zipWithIndex.foreach { case ((shard, id, sec), i) =>
      val d = new java.io.File(root, s"shard=$shard")
      d.mkdirs()
      val f = new java.io.File(d, f"inc$i%02d.jsonl")
      Files.write(f.toPath, line(id, sec).getBytes)
      f.setLastModified(base + i * 60000L)
    }
    val src = StreamingPipeline.tweetStream(spark, root.toString,
      maxFilesPerTrigger = Some(1))
    assert(src.columns.contains("shard"),
      s"sharded layout lost its shard column: ${src.columns.toSeq}")
    val ckpt = Files.createTempDirectory("graft-autoshard-ckpt").toString
    val out = Files.createTempDirectory("graft-autoshard-out").toString
    val q = StreamingPipeline.adjustDisorderStreamAuto(src)
      .select($"id", unix_micros($"ts").as("us"))
      .writeStream.outputMode("append")
      .format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).start()
    q.processAllAvailable()
    q.stop()
    val got = spark.read.parquet(out).as[(Long, Long)].collect().toMap
    // per-shard Adjust(5 s): e5 lifts against shard A's max (20:00),
    // e6 against shard B's (10:00) — the global clamp would lift BOTH
    // to 19:55
    assert(got == Map(1L -> us(0), 2L -> us(598), 3L -> us(1200),
      4L -> us(600), 5L -> us(1195), 6L -> us(595)),
      s"auto-keyed sharded ingress violated the per-shard law: $got")
  }

  test("run(adjust = true): the full live pipeline LIFTS an " +
      "out-of-bound late tweet into the trailing window that plain " +
      "watermark ingress drops (OP-19 end to end)") {
    val base = 1704067200000L
    def line(id: Long, tMs: Long) =
      s"""{"id":$id,"text":"t $id #x","timestamp_ms":"$tMs","lang":"en",""" +
        """"extended_tweet":null,"entities":{"hashtags":[{"text":"x"}],""" +
        """"user_mentions":[]},"user":{"followers_count":10,""" +
        """"screen_name":"u"},"retweeted_status":null}"""
    def counts(adjust: Boolean): Map[Long, Long] = {
      val dir = Files.createTempDirectory("graft-adj-run").toFile
      val store = Files.createTempDirectory("graft-adj-store").toString
      val ckpt = Files.createTempDirectory("graft-adj-ckpt").toString
      // runUnified's stages, with the Adjust clamp ahead of the
      // aggregate for Adjust and without it for Drop
      val src = StreamingPipeline.tweetStream(spark, dir.toString, Some(8))
      val agg = StreamingPipeline.unifiedAggStream(
        if (adjust) StreamingPipeline.adjustDisorderStreamAuto(src) else src)
      val q = StreamingPipeline.unifiedSink(agg, store)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(
          "1 second"))
        .start()
      def feed(name: String, lines: Seq[String]): Unit = {
        Files.write(new java.io.File(dir, name).toPath,
          lines.mkString("\n").getBytes)
        q.processAllAvailable()
      }
      // batch 1 establishes M = base+598 s; batch 2's tweet at
      // base-60 s is ~11 min late — beyond every containing hopping
      // window under Drop, lifted to base+593 s under Adjust; batch 3
      // advances the watermark so windows close and emit.
      feed("b1.jsonl", Seq(line(1, base), line(2, base + 598000L)))
      feed("b2.jsonl", Seq(line(3, base - 60000L)))
      feed("b3.jsonl", Seq(line(4, base + 2000000L)))
      q.stop()
      import spark.implicits._
      AggregateStore.read(spark, s"$store/hashtags")
        .filter(col("entity") === "x")
        .select("window_end", "tweet_count")
        .as[(Long, Long)].collect().toMap
    }
    val baseSec = base / 1000L
    val adj = counts(adjust = true)
    val drop = counts(adjust = false)
    // the window ending base+600 s holds tweets 1 and 2 either way;
    // only Adjust also holds the lifted tweet 3 (at base+593 s)
    assert(drop.get(baseSec + 600L).contains(2L),
      s"drop-mode fixture drifted: $drop")
    assert(adj.get(baseSec + 600L).contains(3L),
      s"Adjust did not lift the late tweet: $adj")
  }
}
