package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions.col

import graft.ops.Reuse

/** The registry harness's shared pieces: the reader and writer of the
  * flat JSON maps under `tools/`, the name-prefix filter, and the
  * plan-fingerprint step. */
class QueryRunSpec extends TestBase {

  private def read(path: String) = Files.readString(Paths.get(path))

  // The three readers `readFlat` replaced, kept as the reference.
  private def fingerprintsRef(path: String): Map[String, String] =
    """"([^"]+)"\s*:\s*"([^"]+)"""".r.findAllMatchIn(read(path))
      .map(m => m.group(1) -> m.group(2)).toMap
  private def floorsRef(path: String): Map[String, Double] =
    "\"([^\"]+)\"\\s*:\\s*([0-9.]+)".r.findAllMatchIn(read(path))
      .map(m => m.group(1) -> m.group(2).toDouble).toMap
  private def budgetsRef(path: String): Map[String, (Int, Int)] =
    "\"([^\"]+)\"\\s*:\\s*\\[(\\d+),\\s*(\\d+)\\]".r
      .findAllMatchIn(read(path))
      .map(m => m.group(1) -> (m.group(2).toInt, m.group(3).toInt)).toMap

  test("readFlat yields the names and values of the three replaced " +
      "regex readers on the committed tools/ files") {
    val fps = "tools/bench_fingerprints.json"
    val floors = "tools/perf_floors.json"
    val budgets = "tools/plan_budgets.json"
    assert(fingerprintsRef(fps).size >= 200)
    assert(QueryRun.readFlat(fps) == fingerprintsRef(fps))
    assert(floorsRef(floors).size >= 200)
    assert(QueryRun.readFlat(floors).map { case (k, v) => k -> v.toDouble } ==
      floorsRef(floors))
    assert(budgetsRef(budgets).size >= 200)
    assert(QueryRun.readFlat(budgets).map { case (k, v) =>
      val Seq(s, b) = "\\d+".r.findAllIn(v).map(_.toInt).toSeq
      k -> (s, b)
    } == budgetsRef(budgets))
  }

  test("writeFlat rewrites the fingerprint and budget files byte for byte") {
    val tmp = Files.createTempFile("graft-flat", ".json").toString
    def roundTrip(path: String, quote: Boolean, indent: String): Unit = {
      val entries = QueryRun.readFlat(path).toSeq.sortBy(_._1).map {
        case (k, v) => k -> (if (quote) "\"" + v + "\"" else v) }
      QueryRun.writeFlat(tmp, entries, indent)
      assert(read(tmp) == read(path), path)
    }
    roundTrip("tools/bench_fingerprints.json", quote = true, "")
    roundTrip("tools/plan_budgets.json", quote = false, "  ")
    Files.delete(Paths.get(tmp))
  }

  test("select keeps name-prefix semantics; an empty filter selects all") {
    val all = SparkEntry.queries.keys.toSeq.sorted
    assert(QueryRun.select(Nil) == all)
    assert(QueryRun.select(Seq("")) == all)
    val ext1 = QueryRun.select(Seq("ext1"))
    assert(ext1 == all.filter(_.startsWith("ext1")))
    assert(ext1.exists(_.startsWith("ext10")))
    assert(ext1.contains("ext113_containment_pairs"))
    assert(!ext1.exists(_.startsWith("ext02")))
    assert(QueryRun.select(Seq("op38_store_payload", "ext02")) ==
      all.filter(n => n == "op38_store_payload" || n.startsWith("ext02")))
  }

  test("fingerprint: one construction; the Reuse.index build plan is " +
      "hashed; a failed construction always reads as changed") {
    val key = s"queryrun-spec-${System.nanoTime()}"
    var builds = 0
    val stub: QueryRun.Build = () => {
      builds += 1
      Reuse.index(spark, key) {
        spark.range(200).groupBy((col("id") % 7).as("k")).count()
      }
    }
    try {
      val first = QueryRun.fingerprint(spark, stub)
      assert(builds == 1)
      assert(first.df.isDefined)
      assert(first.text.contains("=== reuse ==="), "index build plan kept")
      assert(first.hash == QueryRun.hash(first.text))
      // A new JVM builds the index again: the same hash.
      Reuse.dropIndex(spark, key)
      assert(QueryRun.fingerprint(spark, stub).hash == first.hash)
      assert(builds == 2)
    } finally Reuse.dropIndex(spark, key)
    val failed = QueryRun.fingerprint(spark, () => sys.error("boom"))
    assert(failed.df.isEmpty && failed.hash.startsWith("ERR-"))
    assert(failed.text.contains("boom"))
    assert(spark.conf.get("graft.reuse.planlog") == "0")
  }
}
