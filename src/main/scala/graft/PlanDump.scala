package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.FormattedMode

/** Dev harness (not graded): dump the plans of the registry queries
  * whose names start with one of `namePrefixes` (all when none), so two
  * JVM sessions or two commits compare with `diff -r`. Per query:
  *  - `<name>.txt`: the composite text the changed-mode Bench hashes
  *    ([[QueryRun.fingerprint]], the same step)
  *  - `<name>.norm.txt`: that text after [[PlanFingerprint.normalize]],
  *    what the hash sees — a diff localizes a flip to its exact token
  *  - `<name>.formatted.txt`: `explain("formatted")` of the executed
  *    plan after `collect()`, with AQE's final choices (the rendering
  *    `plans/r18` and `plans/r19` archive)
  * plus one `fingerprints.json` in Bench's format; copying it over
  * `tools/bench_fingerprints.json` seeds the changed-mode baseline.
  *
  *   SPARK_GRAFT_PLANDUMP_WARM=1 SPARK_GRAFT_CPUS=32 sbt \
  *     "runMain graft.PlanDump <sfDir> <outDir> [namePrefixes...]"
  *
  * `SPARK_GRAFT_PLANDUMP_WARM=1` replays Bench's warm-up first, so the
  * hashes are the ones a changed-mode Bench records. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = args.lift(1).getOrElse("/tmp/plandump")
    val spark = QueryRun.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
    if (sys.env.get("SPARK_GRAFT_PLANDUMP_WARM").contains("1"))
      QueryRun.warm(spark, sfDir)
    Files.createDirectories(Paths.get(out))
    def write(file: String, s: String): Unit =
      Files.writeString(Paths.get(out, file), s)
    val fps = QueryRun.each(spark, sfDir, QueryRun.select(args.drop(2))) {
      (name, q) =>
        val p = QueryRun.fingerprint(spark, q)
        write(s"$name.txt", p.text)
        write(s"$name.norm.txt", PlanFingerprint.normalize(p.text))
        // collect() THIS Dataset (count() would plan a separate
        // aggregate) so AQE finalizes and shows its runtime choices.
        write(s"$name.formatted.txt", p.df.fold(p.text) { df =>
          try { df.collect(); df.queryExecution.explainString(FormattedMode) }
          catch { case t: Throwable => s"ERR: $t" }
        })
        "\"" + p.hash + "\""
    }
    QueryRun.writeFlat(s"$out/fingerprints.json", fps)
    spark.stop()
  }
}
