package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.ops.{Reuse, Sampling, Sketches}

/** The budget-cut family's and the selection quantiles' Spark job
  * counts on one small fixture: each search round is one single-stage
  * probe pass, so a driver-side refactor of the searches must not add
  * jobs. The ceilings are the counts measured before the budget-cut
  * searches, the guarded folds and the quantile bracket loop were
  * merged into one engine each. */
class BudgetJobsSpec extends TestBase {

  /** 240 docs over three strata: 61 score classes (ties inside each)
    * spread over a 60,000-wide score span, 1 to 9 tokens a doc. */
  private lazy val docs: DataFrame = {
    import spark.implicits._
    (1 to 240).map { i =>
      (i * 7919L % 100003L, Seq.fill(1 + i % 9)("w").mkString(" "),
        (i * 37L % 61L) * 1000L, Seq("en", "de", "fr")(i % 3))
    }.toDF("doc_id", "text", "q", "lang")
  }

  private def stratified: DataFrame =
    Sampling.budgetSelectStratumPartials(docs, col("lang"), col("q"))

  /** Versioned partials: every doc at version 0, a third of them
    * re-scored at version 1. */
  private def versioned: DataFrame = stratified.withColumn("_ver", lit(0L))
    .unionByName(stratified.filter(col("_id") % 3 === 0)
      .withColumn("_score", col("_score") + 500L)
      .withColumn("_ver", lit(1L)))

  /** (label, the call). */
  private def cases: Seq[(String, () => Seq[Row])] = Seq(
    ("budgetSelectCard", () =>
      Sampling.budgetSelectCard(docs, col("q"), 500L).collect().toSeq),
    ("budgetFillCurve", () =>
      Sampling.budgetFillCurve(docs, col("q"), Seq(100L, 500L, 1500L))
        .collect().toSeq),
    ("budgetSelectCardsByStratum", () =>
      Sampling.budgetSelectCardsByStratum(docs, "lang", col("q"), 200L,
        Map("de" -> 300L)).collect().toSeq),
    ("twoLevelCapSweep", () =>
      Sampling.twoLevelCapSweep(docs, "lang", col("q"), Seq(100L, 300L),
        500L).collect().toSeq),
    ("selectionQuantiles", () =>
      Sketches.selectionQuantiles(docs, Seq("lang"), col("q"),
        Seq(50, 90)).collect().toSeq),
    ("budgetSelectCardFromCounts", () =>
      Sampling.budgetSelectCardFromCounts(stratified.drop("_s"), 500L)
        .collect().toSeq),
    ("budgetSelectCardsByStratumFromVersioned", () =>
      Sampling.budgetSelectCardsByStratumFromVersioned(versioned, "lang",
        200L).collect().toSeq))

  /** Jobs each call ran before the merge (this fixture, this suite's
    * local[8] session). */
  private val Ceiling = Map(
    "budgetSelectCard" -> 12,
    "budgetFillCurve" -> 14,
    "budgetSelectCardsByStratum" -> 14,
    "twoLevelCapSweep" -> 29,
    "selectionQuantiles" -> 6,
    "budgetSelectCardFromCounts" -> 16,
    "budgetSelectCardsByStratumFromVersioned" -> 19)

  test("budget cuts, guarded folds and selection quantiles run no more " +
      "Spark jobs than before the one-engine merge") {
    val counts = cases.map { case (label, run) =>
      Reuse.freeAll(spark)
      val (rows, jobs) = countingJobs(label)(run())
      Reuse.freeAll(spark)
      assert(rows.nonEmpty, s"$label: vacuous")
      (label, jobs, Ceiling(label))
    }
    info(counts.map { case (l, j, c) => s"$l=$j (ceiling $c)" }
      .mkString(", "))
    val over = counts.filter { case (_, j, c) => j > c }
    assert(over.isEmpty, over.mkString("; "))
  }
}
