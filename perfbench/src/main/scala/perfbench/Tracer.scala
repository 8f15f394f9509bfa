package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/**
 * Traced-mode instrumentation, attached from outside the program:
 *
 *  - a `SparkListener` counts jobs, tasks and task metrics. It attributes
 *    each job twice: to the layer named by the `perfbench.layer` local
 *    property the harness sets around its calls (the streaming thread
 *    inherits the value set before `start()`), and to the program module
 *    of its call site: the first program frame of the stack that started
 *    the job, or that started its SQL execution;
 *  - a `StreamingQueryListener` keeps every micro-batch progress record;
 *  - SQL execution events time the store's parquet writes (the streaming
 *    query runs on a cloned session, which a `QueryExecutionListener`
 *    registered later does not see);
 *  - a `QueryExecutionListener` sums the execution time of each action on
 *    the harness's session and counts the files its scans read.
 *
 * The harness attaches the listeners for the traced rounds only; totals
 * accumulate over all of them. Spans are kept in memory and written when
 * the harness exits.
 */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc = spark.sparkContext
  private val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]

  val spans = new ConcurrentLinkedQueue[Span]()
  private val spanIds = new AtomicLong(0)

  private val jobStarts = new ConcurrentHashMap[Int, (Long, String, String)]()
  private val writeStarts = new ConcurrentHashMap[Long, Long]()
  private val executionSites = new ConcurrentHashMap[Long, String]()
  val jobs = new ConcurrentLinkedQueue[Job]()
  val tasks = new LongAdder
  val cpuNs = new LongAdder
  val gcMs = new LongAdder
  val shuffleBytes = new LongAdder
  val spillBytes = new LongAdder
  val scanBytes = new LongAdder
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  val storeWrites = new ConcurrentLinkedQueue[Span]()
  val scanFiles = new LongAdder
  private val execNs = new AtomicLong(0)
  /** Wall-clock intervals during which the listeners were attached. */
  val windows = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
  private var attachedAt = 0L

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val layer = Option(e.properties)
        .flatMap(p => Option(p.getProperty(LayerKey))).getOrElse("other")
      // a job of a SQL execution may run on another thread (adaptive
      // query stages); the execution's call site is the caller's
      val site = Option(e.properties).flatMap(p => Option(p.getProperty(ExecutionIdKey)))
        .flatMap(id => Option(executionSites.get(id.toLong)))
        .orElse(e.stageInfos.headOption.map(s => module(s.details)))
        .getOrElse("other")
      jobStarts.put(e.jobId, (e.time, layer, site))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStarts.remove(e.jobId)).foreach { case (start, layer, site) =>
        jobs.add(Job(layer, site, start, e.time))
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        executionSites.put(s.executionId, module(s.details))
        if (s.physicalPlanDescription.contains("InsertIntoHadoopFsRelationCommand"))
          writeStarts.put(s.executionId, s.time)
      case end: SparkListenerSQLExecutionEnd =>
        executionSites.remove(end.executionId)
        Option(writeStarts.remove(end.executionId)).foreach { start =>
          storeWrites.add(Span(spanIds.incrementAndGet(), -1, "stream.store_write",
            "stream", start, end.time))
        }
      case _ => ()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.increment()
      Option(e.taskMetrics).foreach { m =>
        cpuNs.add(m.executorCpuTime)
        gcMs.add(m.jvmGCTime)
        shuffleBytes.add(m.shuffleWriteMetrics.bytesWritten)
        spillBytes.add(m.diskBytesSpilled)
        scanBytes.add(m.inputMetrics.bytesRead)
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      execNs.addAndGet(durationNs)
      scanFiles.add(scans(qe.executedPlan).flatMap(_.metrics.get("numFiles"))
        .map(_.value).sum)
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** File scans of a finished plan, looking through adaptive stages. */
  private def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case s: QueryStageExec => scans(s.plan)
    case f: FileSourceScanExec => Seq(f)
    case other => other.children.flatMap(scans)
  }

  def attach(): Unit = {
    Tracer.drain(spark)
    sc.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
    classic.listenerManager.register(qeListener)
    attachedAt = System.currentTimeMillis()
  }

  def detach(): Unit = {
    Tracer.drain(spark)
    sc.removeSparkListener(sparkListener)
    spark.streams.removeListener(streamListener)
    classic.listenerManager.unregister(qeListener)
    windows += ((attachedAt, System.currentTimeMillis()))
  }

  /** Execution time of the actions that ended since the last call, in ms.
    * Drains the listener bus first, so the actions of a call that has
    * returned are all counted. */
  def takeExecMs(): Double = {
    Tracer.drain(spark)
    execNs.getAndSet(0) / 1e6
  }

  /** Records a span measured elsewhere; returns its id. */
  def record(name: String, layer: String, parent: Long, start: Long, end: Long): Long = {
    val id = spanIds.incrementAndGet()
    spans.add(Span(id, parent, name, layer, start, end))
    id
  }

  def jobsOf(layer: String): Seq[Job] = jobs.asScala.filter(_.layer == layer).toSeq

  def jobsAt(site: String): Seq[Job] = jobs.asScala.filter(_.site == site).toSeq

  /** Seconds of the traced windows during which no Spark job was running. */
  def noJobSeconds: Double = windows.map { case (from, to) =>
    val iv = jobs.asScala.map(j => (math.max(j.start, from), math.min(j.end, to)))
      .filter { case (s, e) => e > s }.toSeq.sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    (to - from - covered) / 1000.0
  }.sum

  def writeSpans(path: java.nio.file.Path): Unit = {
    val all = (spans.asScala ++ storeWrites.asScala).toSeq.sortBy(_.start)
    java.nio.file.Files.write(path, all.map(_.json).mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  val LayerKey = "perfbench.layer"

  final case class Job(layer: String, site: String, start: Long, end: Long) {
    def seconds: Double = (end - start) / 1000.0
  }

  final case class Span(id: Long, parent: Long, name: String, layer: String,
      start: Long, end: Long) {
    def ms: Double = (end - start).toDouble
    def json: String =
      s"""{"id":$id,"parent":$parent,"name":"$name","layer":"$layer","start_ms":$start,"end_ms":$end}"""
  }

  val ExecutionIdKey = "spark.sql.execution.id"

  /** Program module of a call site: Spark's long call site, a stack, read
    * from its first frame in the program or the harness. */
  def module(callSite: String): String = {
    val frame = callSite.linesIterator.map(_.trim)
      .find(f => f.startsWith("graft.") || f.startsWith("perfbench.")).getOrElse("")
    Seq(
      "graft.ingest.Tables" -> "ingest.tables",
      "graft.ops.Reuse" -> "ops.reuse",
      "graft.ops.ProbeScan" -> "ops.probe",
      "graft.ops." -> "ops",
      "graft.SparkEntry" -> "registry",
      "graft.ExtEntry" -> "registry",
      "perfbench." -> "bench",
      "graft." -> "program")
      .collectFirst { case (prefix, m) if frame.startsWith(prefix) => m }
      .getOrElse("other")
  }

  def drain(spark: SparkSession): Unit =
    org.apache.spark.perfbench.Bridge.drainListeners(spark.sparkContext)
}
