package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ops.Reuse

/** What the registry mains (Bench, Verify, PlanBudget, PerfLab, PlanDump)
  * share: the session, Bench's warm-up, the name-prefix filter, the
  * per-query storage release, the plan-fingerprint step and the flat
  * `{"name": value}` files under `tools/`. */
object QueryRun {
  /** Constructs one registry query's DataFrame. */
  type Build = () => DataFrame

  /** The one session builder, for these mains and the product CLI
    * ([[Main.session]]): `local[cpus]` and `cpus` shuffle partitions,
    * then `confs` in order (a `spark.master` entry replaces the
    * master). */
  def session(cpus: String, confs: Seq[(String, String)] = Nil)
      : SparkSession = {
    val spark = confs.foldLeft(SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")) { case (b, (k, v)) =>
      b.config(k, v) }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Run `body`, printing a failure to stderr (stdout is what the
    * mains' callers parse) instead of stopping the caller. */
  def loudly(what: String)(body: => Any): Unit =
    try body catch {
      case t: Throwable => System.err.println(s"$what failed: $t")
    }

  /** Untimed warm-up: every query once at sf0.001 beside `sfDir` (if
    * present) so timing sees steady state, not one-time JVM/codegen
    * compilation (~50% of first-run time on the heavy queries); then
    * the target SF's scans and its pay-once bucketed layout, so the
    * timed ext26 measures the zero-exchange join, not the one-time
    * write. Each step runs on its own: a failed read skips nothing. */
  def warm(spark: SparkSession, sfDir: String): Unit = {
    val warmDir = sfDir.replaceAll("sf[0-9.]+/*$", "sf0.001")
    if (warmDir != sfDir && new java.io.File(warmDir).isDirectory)
      SparkEntry.queries.foreach { case (name, fn) =>
        loudly(s"[warm-up] $name")(fn(spark, warmDir).count())
        Reuse.freeAll(spark)
      }
    loudly("[warm-up] events")(graft.ingest.Tables.events(spark, sfDir)
      .groupBy("event_type").count().count())
    Seq("documents", "embeddings").foreach { t =>
      loudly(s"[warm-up] $t")(graft.ingest.Tables.table(spark, sfDir, t).count())
    }
    loudly("[warm-up] bucketed layout")(registry.Artifacts.ensureBucketed(spark, sfDir))
    spark.catalog.clearCache()
  }

  /** Registry names, sorted, starting with one of `prefixes` (all of
    * them when no prefix is non-empty). */
  def select(prefixes: Seq[String]): Seq[String] = {
    val ps = prefixes.filter(_.nonEmpty)
    SparkEntry.queries.keys.toSeq.sorted
      .filter(n => ps.isEmpty || ps.exists(n.startsWith))
  }

  /** `f` on each named query, then drop BOTH the SQL cache and Reuse's
    * checkpoint/persist blocks (clearCache alone does not free
    * localCheckpoint blocks) so one query's storage never degrades the
    * next. Reuse.index artifacts survive (build-once lifecycle). */
  def each[A](spark: SparkSession, sfDir: String, names: Seq[String])(
      f: (String, Build) => A): Seq[(String, A)] =
    names.map { name =>
      val a = f(name, () => SparkEntry.queries(name)(spark, sfDir))
      spark.catalog.clearCache()
      Reuse.freeAll(spark)
      name -> a
    }

  /** Construct with `graft.reuse.planlog` on: the frame, and the text
    * its fingerprint hashes — the executed plan, then the pre-checkpoint
    * plans Reuse logged (construction order, deterministic). A Reuse
    * materialization cuts the executed plan at a checkpoint scan, so
    * without them a plan edit ABOVE a shared() (ext178's shift literal,
    * r18) hashed unchanged: the unsafe direction. */
  def planText(spark: SparkSession, build: Build): (DataFrame, String) = {
    spark.conf.set("graft.reuse.planlog", "1")
    try {
      Reuse.drainPlans(spark)
      val df = build()
      val main = df.queryExecution.executedPlan.toString
      (df, (main +: Reuse.drainPlans(spark)).mkString("\n=== reuse ===\n"))
    } finally spark.conf.set("graft.reuse.planlog", "0")
  }

  def hash(text: String): String =
    PlanFingerprint.md5hex(PlanFingerprint.normalize(text))

  final case class Planned(df: Option[DataFrame], text: String, hash: String)

  /** One construction's fingerprint: its frame (None if it threw), its
    * [[planText]] and that text's hash. A failed construction hashes as
    * `ERR-<nanos>` (always changed). */
  def fingerprint(spark: SparkSession, build: Build): Planned =
    try { val (df, t) = planText(spark, build); Planned(Some(df), t, hash(t)) }
    catch { case t: Throwable =>
      Planned(None, s"ERR: $t", s"ERR-${System.nanoTime()}") }

  /** A flat `{"name": value}` file: each value is a JSON string's
    * contents, else the value's JSON text (`1.25`, `[3, 0]`). */
  def readFlat(path: String): Map[String, String] =
    """"([^"]+)"\s*:\s*("([^"]*)"|\[[^\]]*\]|[^,\s}]+)""".r
      .findAllMatchIn(Files.readString(Paths.get(path)))
      .map(m => m.group(1) -> Option(m.group(3)).getOrElse(m.group(2)))
      .toMap

  /** Write `entries` (values as JSON text) one per line, in order. */
  def writeFlat(path: String, entries: Seq[(String, String)],
      indent: String = ""): Unit =
    Files.writeString(Paths.get(path), entries
      .map { case (k, v) => s"""$indent"$k": $v""" }
      .mkString("{\n", ",\n", "\n}\n"))
}
