package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.graftbridge.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampType}

import graft.ingest.Tables
import graft.stream.StreamingPipeline

/** [[Tables.parquet]], the one opener of parquet relations: its
  * driver-side footer schema equals Spark's inferred one, it runs no
  * Spark job, and no other read in `src/main` infers a schema. */
class ParquetResolverSpec extends TestBase {

  private val TableNames = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  private def sameAsInferred(path: String): Unit = {
    val resolved = Tables.parquet(spark, path).schema
    assert(resolved == spark.read.parquet(path).schema, path)
  }

  private def failure(read: => DataFrame): Option[Class[_]] =
    try { read.schema; None }
    catch { case e: Exception => Some(e.getClass) }

  test("resolved schema == spark.read.parquet schema for every test " +
      "table at sf0.001, sf0.01 and sf0.1") {
    for (s <- Seq("sf0.001", "sf0.01", "sf0.1"); t <- TableNames)
      sameAsInferred(s"${sf(s)}/$t.parquet")
  }

  test("a TIMESTAMP(NANOS) column resolves to LongType (nanosAsLong), " +
      "set by the resolver before it reads the conf") {
    val file = Files.createTempDirectory("graft-nanos").resolve("e.parquet")
    val schema = MessageTypeParser.parseMessageType(
      "message e { required int64 event_id; " +
        "required int64 ts (TIMESTAMP(NANOS,true)); }")
    val w = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(file.toString))
      .withType(schema).withConf(new Configuration()).build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("event_id", 1L).append("ts", 1704110400123456789L))
    finally w.close()
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    val raw = Tables.parquet(spark, file.toString)
    assert(raw.schema("ts").dataType == LongType)
    assert(raw.schema == spark.read.parquet(file.toString).schema)
    val ts = Tables.normalizeEventTs(raw)
    assert(ts.schema("ts").dataType == TimestampType)
    assert(ts.select(expr("unix_micros(ts)")).head().getLong(0) ==
      1704110400123456L)
  }

  test("resolved schema == inferred for a Spark-written store with " +
      "batch=/window_date= partitions and an empty first batch") {
    val store = Files.createTempDirectory("graft-resolver-store").toString
    val rows = spark.range(30).select(
      (col("id") * 3600L).as("window_end"),
      (col("id") % 4).cast("string").as("entity"),
      (col("id") * 1.5).as("weight"))
      .withColumn("window_date",
        to_date(timestamp_seconds(col("window_end"))))
    for (b <- 0 to 2)
      rows.filter(col("id") % 3 < b).write.mode("overwrite")
        .partitionBy("window_date").parquet(s"$store/batch=$b")
    assert(new java.io.File(s"$store/batch=0").list().toSeq
      .filterNot(_.startsWith(".")) == Seq("_SUCCESS"))
    sameAsInferred(store)
    assert(Tables.parquet(spark, store).columns.toSeq ==
      Seq("window_end", "entity", "weight", "batch", "window_date"))
    sameAsInferred(s"$store/batch=2")
  }

  test("a missing path and an empty directory fail as spark.read.parquet " +
      "does; eventStream on an empty directory keeps its static schema") {
    val empty = Files.createTempDirectory("graft-resolver-empty")
    Files.write(empty.resolve("_SUCCESS"), Array.emptyByteArray)
    for (path <- Seq(s"$empty/missing", empty.toString)) {
      val inferred = failure(spark.read.parquet(path))
      assert(inferred.isDefined, s"$path unexpectedly readable")
      assert(failure(Tables.parquet(spark, path)) == inferred, path)
    }
    val ev = StreamingPipeline.eventStream(spark, empty.toString)
    assert(ev.isStreaming && ev.columns.toSeq ==
      Seq("event_id", "ts", "user_id", "event_type", "value", "props"))
    assert(ev.schema("ts").dataType == TimestampType)
  }

  test("opening the ten tables through Tables and taking .schema runs " +
      "no Spark job") {
    val group = "parquet-resolver-spec"
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties)
            .exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    def jobsOf(open: String => DataFrame): Int = {
      ListenerDrain(sc)
      jobs.set(0)
      sc.setJobGroup(group, "open tables")
      try TableNames.foreach(t => open(t).schema)
      finally sc.clearJobGroup()
      ListenerDrain(sc)
      jobs.get
    }
    sc.addSparkListener(listener)
    try {
      val dir = sf("sf0.001")
      assert(jobsOf(Tables.table(spark, dir, _)) == 0)
      // non-vacuous: schema inference runs one job per table
      assert(jobsOf(t => spark.read.parquet(s"$dir/$t.parquet")) ==
        TableNames.size)
    } finally sc.removeSparkListener(listener)
  }

  test("src/main opens parquet with an inferred schema only inside " +
      "Tables.parquet") {
    // Reads that would infer the schema in a Spark job: `read.parquet(`,
    // `read.load(` (parquet is the default source) and
    // `read.format("parquet")`, with any options between.
    val inferring = ("""\.read\s*(?:\.\s*options?\([^()]*\)\s*)*\.\s*""" +
      """(?:parquet\s*\(|load\s*\(|format\(\s*"parquet")""").r
    val AllowList = Set.empty[String]
    val root = MainSources.root
    val sources = MainSources.all
    assert(sources.size > 20, "src/main/scala not found from the test dir")
    val tables = root.resolve("graft/ingest/Tables.scala")
    val resolver = """(?s)  def parquet\(spark: SparkSession.*?\n  }\n""".r
    val body = sources.collectFirst { case (`tables`, src) => src }
      .flatMap(resolver.findFirstIn).getOrElse("")
    assert(inferring.findAllIn(body).size == 1,
      "Tables.parquet's no-data-file fallback not found")
    val outside = sources.flatMap { case (p, src) =>
      val rest = if (p == tables) src.replace(body, "") else src
      val n = inferring.findAllIn(rest).size
      if (n > 0 && !AllowList(root.relativize(p).toString))
        Some(s"$p: $n inferring read(s)")
      else None
    }
    assert(outside.isEmpty, outside.mkString("; "))
  }
}
