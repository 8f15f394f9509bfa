package graft

/**
 * Dev harness (not graded): the SHUFFLE-BUDGET gate. Every registry
 * query's physical plan is summarized as (shuffle exchanges, broadcast
 * exchanges) counted from the pre-execution plan — deterministic at a
 * fixed SF/config, independent of timing noise — and compared against
 * `tools/plan_budgets.json`:
 *
 *   sbt "runMain graft.PlanBudget"          # gate: exit 2 if any query
 *                                           # SHUFFLES more than recorded
 *   SPARK_GRAFT_PLAN_MODE=record \
 *     sbt "runMain graft.PlanBudget"        # (re)write the budget file
 *
 * Perf floors (PerfLab's floor gate, tools/floor_check.py) catch
 * *time* drift but inherit machine noise; this catches *plan* drift
 * exactly — a broadcast degrading to a sort-merge join, a lost
 * map-side combine, or an accidental repartition shows up as a
 * shuffle-count increase long before it costs seconds at bench SF. Broadcast counts are recorded for context but
 * not gated (an extra broadcast is usually the FIX for a shuffle).
 * Queries that read build-once artifacts ([[graft.ops.Reuse.index]])
 * are budgeted on their post-artifact plan — the artifact build's own
 * shuffles are a one-time corpus cost, not a per-query one.
 *
 * Budgets are updated deliberately (after an accepted plan change),
 * never automatically.
 */
object PlanBudget {
  private val ShuffleMarkers =
    Seq("Exchange hashpartitioning", "Exchange rangepartitioning",
      "Exchange SinglePartition", "Exchange RoundRobinPartitioning")

  def main(args: Array[String]): Unit = {
    val sfDir =
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val mode = sys.env.getOrElse("SPARK_GRAFT_PLAN_MODE", "gate")
    val path = sys.env.getOrElse("SPARK_GRAFT_PLAN_BUDGETS",
      "tools/plan_budgets.json")
    val spark = QueryRun.session("8")
    def countOf(plan: String, marker: String): Int =
      marker.r.findAllMatchIn(plan).size
    val counts = QueryRun.each(spark, sfDir, QueryRun.select(Nil)) {
      (_, q) =>
        // ReusedExchange lines repeat the referenced exchange's
        // description — drop them so only real operators count.
        val plan = q().queryExecution.executedPlan.toString
          .linesIterator.filterNot(_.contains("ReusedExchange"))
          .mkString("\n")
        (ShuffleMarkers.map(m => countOf(plan, m)).sum,
          countOf(plan, "BroadcastExchange"))
    }
    spark.stop()
    mode match {
      case "record" =>
        QueryRun.writeFlat(path,
          counts.map { case (n, (s, b)) => n -> s"[$s, $b]" }, "  ")
        println(s"PLANBUDGET recorded ${counts.size} queries to $path")
      case _ =>
        val recorded = QueryRun.readFlat(path).map { case (n, v) =>
          n -> "\\d+".r.findFirstIn(v).get.toInt }
        val breaches = counts.flatMap { case (n, (s, _)) =>
          recorded.get(n) match {
            case Some(rs) if s > rs =>
              Some(s"$n: $s shuffle exchanges > budget $rs")
            case None => Some(s"$n: NOT IN BUDGET FILE (record it)")
            case _ => None
          }
        }
        breaches.foreach(x => println(s"PLANBUDGET BREACH $x"))
        println(s"PLANBUDGET gate: ${counts.size} queries checked, " +
          s"${breaches.size} breaches")
        if (breaches.nonEmpty) sys.exit(2)
    }
  }
}
