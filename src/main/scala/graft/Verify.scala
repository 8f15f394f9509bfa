package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // Driver contract is exactly (sfDir, outDir); a third arg is the
    // builder's local single-query filter (comma-separated name prefixes).
    if (args.length < 2 || args.length > 3) {
      System.err.println(
        "usage: graft.Verify <sfDir> <outDir> [namePrefixes]")
      sys.exit(2)
    }
    val Array(sfDir, outDir) = args.take(2)
    val spark = QueryRun.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    new java.io.File(outDir).mkdirs()
    QueryRun.each(spark, sfDir,
        QueryRun.select(args.drop(2).flatMap(_.split(",")).toSeq)) {
      (name, q) =>
        try q().coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // _MANIFEST.json: the dump's own statement of what it contains, so a
    // downstream comparator (driver or tools/check.py --manifest) can detect
    // a silently-empty or truncated round artifact — an oracle_sql.json with
    // fewer entries than the registry, or a query dir that never got written
    // — instead of recording `{}` as if nothing was ever claimed
    // (CORRECTNESS_r13.json failure mode).
    val qNames = SparkEntry.queries.keys.toSeq.sorted
    val oNames = SparkEntry.oracleSql.keys.toSeq.sorted
    val written = qNames.filter(n => Files.exists(Paths.get(s"$outDir/$n")))
    val manifest =
      s"""{"query_count": ${qNames.size}, "oracle_count": ${oNames.size},
         | "written_count": ${written.size},
         | "queries": [${qNames.map(q).mkString(",")}],
         | "oracles": [${oNames.map(q).mkString(",")}],
         | "written": [${written.map(q).mkString(",")}]}""".stripMargin
    Files.writeString(Paths.get(s"$outDir/_MANIFEST.json"), manifest)
    println(s"[verify] manifest: ${qNames.size} queries, " +
      s"${oNames.size} oracles, ${written.size} written")
    spark.stop()
  }
}
