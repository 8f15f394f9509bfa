package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import java.security.MessageDigest
import java.time.Instant

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.{Repl, SparkEntry}
import graft.stream.StreamingPipeline

/**
 * JVM side of the benchmark: runs one workload against the program's public
 * entry points (`SparkEntry.queries`, `StreamingPipeline.runUnified`,
 * `Repl.serveLine`) on one local SparkSession, and writes `result.json`
 * into the work directory. Inputs come from `gen.py`; `run.py` checks the
 * outputs afterwards.
 *
 * A workload is set up `--setups` times, then measured in rounds, each a
 * pass over the query list or the command mix. Untraced runs measure
 * rounds until `--seconds` have passed, and at least three: the first is
 * still slower while the JIT compiler works. An operation's time is the
 * lowest of its rounds, so a slowdown of the shared host that covers one
 * round does not show.
 * Traced runs measure blocks of four rounds, untraced, traced, traced,
 * untraced, so a drift over the run weighs both modes the same; the
 * difference of the two modes is the tracing overhead. After its rounds, a
 * traced run does the workload's traced-only work, if it has any.
 *
 * Usage: perfbench.Harness --workload W --data DIR --work DIR
 *          --seconds S --trace 0|1 --cores N --setups K
 */
object Harness {

  trait Workload {
    /** One repetition of the workload's set-up, the last one of which is
      * kept; returns the seconds it took. Repetition 0 runs first on the
      * cold JVM and is not timed. `tracer` is attached during the last
      * set-up of a traced run. */
    def setup(i: Int, tracer: Option[Tracer]): Double
    /** Untimed work between set-up and measurement. */
    def warm(): Unit = ()
    /** One pass of measured operations; returns their latencies in ms. */
    def round(tracer: Option[Tracer]): Seq[Double]
    /** Per-layer metrics of the traced rounds and the traced set-up. */
    def layers(tr: Tracer, rounds: Int, setupTr: Tracer): Map[String, Double]
    /** Per-layer metric that carries the untraced rounds' `latency_ms_p50`. */
    def latencyLayer: String
    /** Work that only a traced run does, after its rounds, traced on its
      * own; returns its per-layer metrics. */
    def backlog(): Map[String, Double] = Map.empty
    def close(): Unit = ()
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = a("work")
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val cores = a("cores").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val data = a("data")
    val wl: Workload = a("workload") match {
      case "registry" => new Registry(spark, data, work)
      case "repl_mix" => new ReplMix(spark, data, work)
      case w => sys.error(s"unknown workload $w")
    }
    val setups = a("setups").toInt
    val setupTr = new Tracer(spark)
    phase("session")
    wl.setup(0, None)
    phase("cold set-up")
    val setupS = (1 to setups).map { i =>
      val tr = Some(setupTr).filter(_ => trace && i == setups)
      tr.foreach(_.attach())
      try wl.setup(i, tr) finally tr.foreach(_.detach())
    }
    phase("timed set-ups")
    wl.warm()
    phase("warm-up")

    val out = scala.collection.mutable.LinkedHashMap[String, Any]()
    out("setup_s") = setupS
    val t0 = now()
    if (!trace) {
      val rounds = ArrayBuffer[Seq[Double]]()
      while (rounds.size < 3 || now() - t0 < seconds * 1000) rounds += wl.round(None)
      out ++= e2e(rounds.toSeq)
    } else {
      val tr = new Tracer(spark)
      val plain = ArrayBuffer[Seq[Double]]()
      val traced = ArrayBuffer[Seq[Double]]()
      while (plain.isEmpty || now() - t0 < seconds * 1000)
        Seq(false, true, true, false).foreach { on =>
          if (!on) plain += wl.round(None)
          else {
            tr.attach()
            val start = now()
            traced += wl.round(Some(tr))
            tr.record("round", "bench", -1, start, now())
            tr.detach()
          }
        }
      val base = e2e(plain.toSeq)
      val overhead = e2e(traced.toSeq).map { case (k, v) => s"overhead.$k" -> (v - base(k)) }
      out("layers") = sparkLayers(tr, traced.size) ++ wl.layers(tr, traced.size, setupTr) ++
        wl.backlog() ++ overhead + (wl.latencyLayer -> base("latency_ms_p50"))
      tr.writeSpans(Paths.get(work, "spans.jsonl"))
      setupTr.writeSpans(Paths.get(work, "setup_spans.jsonl"))
    }
    phase("measured rounds and traced work")
    wl.close()
    Files.writeString(Paths.get(work, "result.json"), Json(out.toMap))
    spark.stop()
  }

  /** End-to-end metrics of rounds of operation latencies (ms), each round
    * the same operations in the same order. An operation's time is its
    * lowest over the rounds; `latency_ms_p50` is their median and `pass_s`
    * their sum, a pass with every operation at its best, as `graft.Bench`
    * totals the elementwise minimum of its passes. */
  def e2e(rounds: Seq[Seq[Double]]): Map[String, Double] = {
    val best = rounds.transpose.map(_.min)
    Map("latency_ms_p50" -> median(best), "pass_s" -> best.sum / 1000)
  }

  /** Engine counters of the traced rounds, per round. */
  private def sparkLayers(tr: Tracer, rounds: Int): Map[String, Double] = Map(
    "spark.jobs" -> tr.jobs.size.toDouble,
    "spark.tasks" -> tr.tasks.sum.toDouble,
    "spark.nojob_s" -> tr.noJobSeconds,
    "spark.task_cpu_s" -> tr.cpuNs.sum / 1e9,
    "spark.gc_s" -> tr.gcMs.sum / 1e3,
    "spark.shuffle_mb" -> tr.shuffleBytes.sum / 1e6,
    "spark.spill_mb" -> tr.spillBytes.sum / 1e6,
    "spark.scan_mb" -> tr.scanBytes.sum / 1e6).map { case (k, v) => k -> v / rounds }

  /** Linear-interpolated percentile (numpy's default); 0 when empty. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val r = p / 100.0 * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  def now(): Long = System.currentTimeMillis()

  private val started = now()

  /** Logs the end of a phase of the run, for reading where a run's time goes. */
  def phase(name: String): Unit =
    System.err.println(f"[perfbench] ${(now() - started) / 1000.0}%.1f s: $name done")

  def seconds(f: => Unit): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  /** Runs `f` with the `perfbench.layer` local property set, so the jobs it
    * starts are attributed to `layer`. */
  def inLayer[T](spark: SparkSession, layer: String)(f: => T): T = {
    val sc = spark.sparkContext
    sc.setLocalProperty(Tracer.LayerKey, layer)
    try f finally sc.setLocalProperty(Tracer.LayerKey, null)
  }

  def listFiles(dir: String): Seq[File] =
    Option(new File(dir).listFiles()).map(_.toSeq).getOrElse(Nil)
      .filter(f => f.isFile && !f.getName.startsWith(".")).sortBy(_.getName)

  /** Minimal JSON writer for the result file. */
  object Json {
    def apply(v: Any): String = v match {
      case m: Map[_, _] =>
        m.toSeq.sortBy(_._1.toString)
          .map { case (k, x) => quote(k.toString) + ":" + apply(x) }
          .mkString("{", ",", "}")
      case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
      case s: String => quote(s)
      case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
      case n: Int => n.toString
      case n: Long => n.toString
      case b: Boolean => b.toString
      case null => "null"
      case x => quote(x.toString)
    }
    private def quote(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  }
}

/**
 * Closed loop over a fixed list of registry queries, in the seed's order,
 * against tables generated under the work directory. Each query is
 * constructed (`SparkEntry.queries`), planned (`executedPlan`) and executed
 * with `collect()`, a full-result action.
 */
final class Registry(spark: SparkSession, data: String, work: String)
    extends Harness.Workload {
  import Harness._
  private val tables = s"$data/tables"
  val latencyLayer = "registry.query_ms_p50"
  private val names =
    Files.readAllLines(Paths.get(data, "queries.txt")).asScala.toSeq.filter(_.nonEmpty)
  private val first = scala.collection.mutable.Map[String, String]()
  private val log = ArrayBuffer[String]()
  private val reuseBytes = ArrayBuffer[Long]()
  private val phases = ArrayBuffer[(Double, Double, Double)]()

  /** Opens every table through `graft.ingest.Tables`, which reads its
    * parquet schema. */
  def setup(i: Int, tracer: Option[Tracer]): Double = Harness.seconds {
    inLayer(spark, "registry") {
      Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
        "events", "documents", "embeddings")
        .foreach(t => graft.ingest.Tables.table(spark, tables, t).schema)
    }
  }

  /** A query's result and the times (`System.nanoTime`) at which its
    * construction started and its construction, planning and execution
    * ended. */
  private final class Run(val df: DataFrame, val rows: Array[Row], val marks: Seq[Long])

  private def run(n: String): Option[Run] = {
    val t0 = System.nanoTime()
    try inLayer(spark, "registry") {
      val df = SparkEntry.queries(n)(spark, tables)
      val t1 = System.nanoTime()
      df.queryExecution.executedPlan
      val t2 = System.nanoTime()
      val rows = df.collect()
      Some(new Run(df, rows, Seq(t0, t1, t2, System.nanoTime())))
    } catch { case e: Exception =>
      System.err.println(s"[perfbench] $n failed: ${e.getMessage}")
      None
    }
  }

  /** Frees what the query cached or checkpointed, untimed, as
    * `graft.Bench` does between queries. */
  private def cleanUp(): Unit = {
    spark.catalog.clearCache()
    graft.ops.Reuse.freeAll(spark)
  }

  /** One untimed pass on the cold JVM: class loading and code generation.
    * Its results are the ones `check.py` compares with the oracle. */
  override def warm(): Unit = {
    names.foreach { n =>
      run(n).foreach { r =>
        spark.createDataFrame(r.rows.toSeq.asJava, r.df.schema).coalesce(1)
          .write.parquet(s"$work/results/$n")
        first(n) = digest(r.rows)
      }
      cleanUp()
      phase(s"cold $n")
    }
    val oracle = names.map(n => n -> SparkEntry.oracleSql.getOrElse(n, "")).toMap
    Files.writeString(Paths.get(work, "oracle_sql.json"), Json(oracle))
  }

  private def digest(rows: Array[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  def round(tracer: Option[Tracer]): Seq[Double] =
    names.map { n =>
      val wall0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val r = run(n)
      val ms = (System.nanoTime() - t0) / 1e6
      for (tr <- tracer; x <- r) {
        val at = (t: Long) => wall0 + (t - t0) / 1000000
        val Seq(s, c, p, e) = x.marks
        val id = tr.record(s"registry.$n", "registry", -1, at(s), at(e))
        tr.record("registry.construct", "registry", id, at(s), at(c))
        tr.record("registry.plan", "registry", id, at(c), at(p))
        tr.record("registry.exec", "registry", id, at(p), at(e))
        phases += (((c - s) / 1e9, (p - c) / 1e9, (e - p) / 1e9))
        reuseBytes += spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
      }
      log += s"$n\t$ms\t${r.map(x => digest(x.rows)).getOrElse("")}"
      cleanUp()
      ms
    }

  def layers(tr: Tracer, rounds: Int, setupTr: Tracer): Map[String, Double] = {
    val passes = rounds.toDouble
    def perPass(jobs: Seq[Tracer.Job]) = (jobs.size / passes, jobs.map(_.seconds).sum / passes)
    val (schemaJobs, schemaS) = perPass(tr.jobsAt("ingest.tables"))
    val (reuseJobs, reuseS) = perPass(tr.jobsAt("ops.reuse"))
    val (probeJobs, probeS) = perPass(tr.jobsAt("ops.probe"))
    Map(
      "registry.construct_s" -> phases.map(_._1).sum / passes,
      "registry.plan_s" -> phases.map(_._2).sum / passes,
      "registry.exec_s" -> phases.map(_._3).sum / passes,
      "ingest.schema_jobs" -> schemaJobs,
      "ingest.schema_s" -> schemaS,
      "ops.reuse_jobs" -> reuseJobs,
      "ops.reuse_s" -> reuseS,
      "ops.reuse_mb" -> (if (reuseBytes.isEmpty) 0.0 else reuseBytes.max / 1e6),
      "ops.probe_jobs" -> probeJobs,
      "ops.probe_s" -> probeS)
  }

  override def close(): Unit = {
    Files.writeString(Paths.get(work, "digests.json"), Json(first.toMap))
    Files.writeString(Paths.get(work, "queries.log"), log.mkString("", "\n", "\n"))
  }
}

/** Driving of the live pipeline for the REPL store's set-up drain, and
  * reading of its progress. */
object Live {
  import Harness._

  /** `runUnified` with the `stream` layer tag, which the streaming thread
    * inherits for every job it runs. */
  def start(spark: SparkSession, input: String, store: String,
      ckpt: String): StreamingQuery =
    inLayer(spark, "stream")(StreamingPipeline.runUnified(spark, input, store, ckpt))

  /** Progress records of micro-batches that actually executed. */
  def executed(ps: Seq[StreamingQueryProgress]): Seq[StreamingQueryProgress] =
    ps.filter(_.durationMs.containsKey("addBatch"))

  def commitMs(p: StreamingQueryProgress): Long =
    Instant.parse(p.timestamp).toEpochMilli + p.durationMs.get("triggerExecution")

  /** Waits for the no-data micro-batch that follows the drain's last data
    * batch: it emits the windows the drain's watermark closed. Returns its
    * progress record. */
  def closingBatch(q: StreamingQuery): StreamingQueryProgress = {
    val deadline = now() + 60000
    def find() = {
      val ps = executed(q.recentProgress.toSeq)
      val lastData = ps.filter(_.numInputRows > 0).map(_.batchId).maxOption.getOrElse(-1L)
      ps.find(p => p.numInputRows == 0 && p.batchId > lastData)
    }
    var closing = find()
    while (closing.isEmpty) {
      if (now() > deadline) sys.error("no closing micro-batch within 60 s")
      Thread.sleep(20)
      closing = find()
    }
    closing.get
  }

  /** Layer metrics of the micro-batches in `ps`, read from progress. */
  def streamLayers(tr: Tracer, ps: Seq[StreamingQueryProgress],
      store: String): Map[String, Double] = {
    val n = math.max(ps.size, 1).toDouble
    def phase(k: String) = median(ps.map(p => Option(p.durationMs.get(k)).fold(0.0)(_.toDouble)))
    val batchIds = ps.map(_.batchId).toSet
    val storeFiles = Seq("hashtags", "mentions", "retweets", "counts").map { kind =>
      Option(new File(s"$store/$kind").listFiles()).toSeq.flatten
        .filter(d => d.getName.startsWith("batch=") &&
          batchIds.contains(d.getName.stripPrefix("batch=").toLong))
        .map(d => countFiles(d, _.getName.endsWith(".parquet"))).sum
    }.sum
    Map(
      "stream.batches" -> ps.size.toDouble,
      "stream.trigger_ms_p50" -> phase("triggerExecution"),
      "stream.addbatch_ms_p50" -> phase("addBatch"),
      "stream.planning_ms_p50" -> phase("queryPlanning"),
      "stream.walcommit_ms_p50" -> phase("walCommit"),
      "stream.offsets_ms_p50" -> phase("latestOffset"),
      "stream.jobs_per_batch" -> tr.jobsOf("stream").size / n,
      "ingest.rows_per_batch" -> ps.map(_.numInputRows).sum / n,
      "stream.store_writes_per_batch" -> tr.storeWrites.size / n,
      "stream.store_write_ms_p50" -> median(tr.storeWrites.asScala.toSeq.map(_.ms)),
      "stream.store_files_per_batch" -> storeFiles / n,
      "stream.store_mb" -> countBytes(new File(store)) / 1e6)
  }

  /** State-operator metrics of the micro-batches in `ps`, read from
    * progress, and their throughput from the first batch's start to the
    * last batch's commit. */
  def aggLayers(ps: Seq[StreamingQueryProgress]): Map[String, Double] = {
    val ops = ps.flatMap(_.stateOperators.headOption)
    val seconds = (ps.map(commitMs).max - Instant.parse(ps.head.timestamp).toEpochMilli) / 1000.0
    Map(
      "agg.state_rows" -> ops.map(_.numRowsTotal.toDouble).maxOption.getOrElse(0.0),
      "agg.state_mb" -> ops.map(_.memoryUsedBytes / 1e6).maxOption.getOrElse(0.0),
      "agg.state_update_ms_p50" -> median(ops.map(_.allUpdatesTimeMs.toDouble)),
      "agg.state_commit_ms_p50" -> median(ops.map(_.commitTimeMs.toDouble)),
      "agg.late_rows_dropped" -> ops.map(_.numRowsDroppedByWatermark).sum.toDouble,
      "agg.backlog_tweets_per_s" -> ps.map(_.numInputRows).sum / seconds)
  }

  /** Runs `runUnified` over `input` into a new store under `dir` until the
    * no-data batch that closes the last windows has committed; returns
    * that batch's progress record. */
  def drain(spark: SparkSession, input: String, dir: String): StreamingQueryProgress = {
    val q = start(spark, input, s"$dir/store", s"$dir/ckpt")
    try {
      q.processAllAvailable()
      closingBatch(q)
    } finally q.stop()
  }

  /** One span per micro-batch, with its phases as children. */
  def batchSpans(tr: Tracer, ps: Seq[StreamingQueryProgress]): Unit =
    ps.foreach { p =>
      val start = Instant.parse(p.timestamp).toEpochMilli
      val id = tr.record(s"stream.batch.${p.batchId}", "stream", -1, start, commitMs(p))
      Seq("latestOffset", "queryPlanning", "addBatch", "walCommit").foreach { k =>
        Option(p.durationMs.get(k)).foreach { d =>
          tr.record(s"stream.$k", "stream", id, start, start + d)
        }
      }
    }

  def countFiles(f: File, keep: File => Boolean): Int =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(countFiles(_, keep)).sum
    else if (keep(f)) 1 else 0

  def countBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(countBytes).sum
    else f.length()
}

/**
 * Closed loop, one client: a seeded command mix sent through
 * `Repl.serveLine` against a multi-day store that set-up builds with a
 * backlog drain through the live pipeline and leaves uncompacted.
 */
final class ReplMix(spark: SparkSession, data: String, work: String)
    extends Harness.Workload {
  import Harness._
  private val commands =
    Files.readAllLines(Paths.get(data, "commands.txt")).asScala.toSeq.filter(_.nonEmpty)
  private var store = ""
  private val log = ArrayBuffer[String]()
  private val outDir = s"$work/results"
  val latencyLayer = "serve.cmd_ms_p50"
  /** Traced commands: (command, total ms, execution ms). */
  private val tracedCmds = ArrayBuffer[(String, Double, Double)]()

  /** Drains the replay into a new store; the time runs from the query's
    * start to the commit of the no-data batch that closes the last
    * windows. */
  def setup(i: Int, tracer: Option[Tracer]): Double = {
    val dir = s"$work/setup-$i"
    store = s"$dir/store"
    val t0 = now()
    val closing = Live.drain(spark, s"$data/days", dir)
    (Live.commitMs(closing) - t0) / 1000.0
  }

  /** A drain of the denser backlog replay, one large micro-batch, into a
    * store of its own that `check.py` checks like the REPL's. Its state
    * and TopK work dominate it, so it gives the `agg` metrics. */
  override def backlog(): Map[String, Double] = {
    val tr = new Tracer(spark)
    tr.attach()
    try Live.drain(spark, s"$data/backlog", s"$work/backlog") finally tr.detach()
    val ps = Live.executed(tr.progress.asScala.toSeq)
    Live.batchSpans(tr, ps)
    tr.writeSpans(Paths.get(work, "backlog_spans.jsonl"))
    Live.aggLayers(ps)
  }

  /** First call of each command: class loading and code generation. */
  override def warm(): Unit =
    commands.groupBy(kind).values.map(_.head).foreach { line =>
      try serve(line) catch { case e: Exception =>
        System.err.println(s"[perfbench] '$line' failed: ${e.getMessage}")
      }
    }

  private def kind(line: String) = line.trim.split("\\s+").head

  private def serve(line: String): Option[java.nio.file.Path] =
    inLayer(spark, "serve")(Repl.serveLine(spark, store, outDir, line))

  def round(tracer: Option[Tracer]): Seq[Double] =
    commands.map { line =>
      val start = now()
      val t0 = System.nanoTime()
      val path = try serve(line).map(_.toString).getOrElse("")
        catch { case e: Exception =>
          System.err.println(s"[perfbench] '$line' failed: ${e.getMessage}")
          ""
        }
      val ms = (System.nanoTime() - t0) / 1e6
      tracer.foreach { tr =>
        // the execution time of the command's actions, from the
        // QueryExecutionListener; the rest of the command is dispatch:
        // parsing, listing the store, building and planning the query,
        // writing the file
        val exec = math.min(tr.takeExecMs(), ms)
        val end = start + ms.toLong
        val id = tr.record("serve.command", "serve", -1, start, end)
        tr.record("serve.dispatch", "serve", id, start, end - exec.toLong)
        tr.record("serve.exec", "serve", id, end - exec.toLong, end)
        tracedCmds += ((kind(line), ms, exec))
      }
      log += s"$line\t$ms\t$path"
      ms
    }

  def layers(tr: Tracer, rounds: Int, setupTr: Tracer): Map[String, Double] = {
    val n = math.max(tracedCmds.size, 1).toDouble
    val perKind = commands.map(kind).distinct.map { k =>
      s"serve.${k}_ms_p50" -> median(tracedCmds.filter(_._1 == k).map(_._2).toSeq)
    }
    // the set-up drain: one micro-batch of 3,000 tweets and the closing
    // no-data batch
    val drain = Live.executed(setupTr.progress.asScala.toSeq)
    Live.batchSpans(setupTr, drain)
    Live.streamLayers(setupTr, drain, store) ++ Map(
      "serve.dispatch_ms_p50" -> median(tracedCmds.map(c => c._2 - c._3).toSeq),
      "serve.exec_ms_p50" -> median(tracedCmds.map(_._3).toSeq),
      "serve.jobs_per_cmd" -> tr.jobsOf("serve").size / n,
      "serve.files_per_cmd" -> tr.scanFiles.sum / n) ++ perKind
  }

  override def close(): Unit = {
    Files.writeString(Paths.get(work, "stores.txt"), store)
    Files.writeString(Paths.get(work, "commands.log"), log.mkString("", "\n", "\n"))
  }
}
