package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Sampling

/**
 * Direct scalacheck laws for the keyed-bracket bisection driver —
 * the ONE home of the probe/bracket bookkeeping under every
 * search in `ops/`: the budget cut (`Sampling.budgetCut`: ext172-ext177,
 * the global, per-stratum and per-cap-rung cuts alike) and the
 * selection quantiles (`Sketches.selectionQuantiles`: ext151, ext170's
 * cutoff). The operators' specs pin end-to-end results; these laws pin
 * the driver itself against a linear-scan reference on arbitrary
 * monotone predicates, including the domain edges the operators
 * construct ([lo−1, hi] brackets, one-point and empty widths, spans
 * near Long bounds where probe arithmetic must be BigInt-safe).
 */
class SearchLawsSpec extends AnyFunSuite {

  /** Min t in [lo, hi] with monotone (false…false true…true) `preds`,
    * pred(hi) given: [[Sampling.keyedSearch]] with one key. */
  private def karyMinTrue(lo: Long, hi: Long,
      preds: Seq[Long] => Seq[Boolean]): Long =
    Sampling.keyedSearch[Unit](Map(() -> (lo, hi)), Sampling.minProbes,
      Sampling.minUpdate, ladders => Map(() -> preds(ladders.head._2)))(())

  /** Max t in [lo, hi] with monotone (true…true false…false) `preds`,
    * pred(lo) given. */
  private def karyMaxTrue(lo: Long, hi: Long,
      preds: Seq[Long] => Seq[Boolean]): Long =
    Sampling.keyedSearch[Unit](Map(() -> (lo, hi)), Sampling.maxProbes,
      Sampling.maxUpdate, ladders => Map(() -> preds(ladders.head._2)))(())

  private def checkProp(p: Prop): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(300), p)
    assert(res.passed, res.status.toString)
  }

  // a bracket [lo, hi] with a target T in it: pred(m) = m >= T is
  // monotone false…true and pred(hi) holds — karyMinTrue must return
  // exactly T (the smallest true point)
  private val bracketGen = for {
    lo <- Gen.chooseNum(-1000000L, 1000000L)
    w <- Gen.chooseNum(0L, 5000L)
    t <- Gen.chooseNum(0L, w)
  } yield (lo, lo + w, lo + t)

  test("karyMinTrue finds the exact smallest true point") {
    checkProp(Prop.forAll(bracketGen) { case (lo, hi, t) =>
      karyMinTrue(lo, hi, ps => ps.map(_ >= t)) == t
    })
  }

  test("karyMaxTrue finds the exact largest true point") {
    // pred(m) = m <= T is monotone true…false and pred(lo) holds
    checkProp(Prop.forAll(bracketGen) { case (lo, hi, t) =>
      karyMaxTrue(lo, hi, ps => ps.map(_ <= t)) == t
    })
  }

  test("keyedSearch solves every key's bracket independently and " +
      "batches only active keys") {
    val keyedGen = Gen.nonEmptyListOf(bracketGen).map(_.zipWithIndex)
    checkProp(Prop.forAll(keyedGen) { brs =>
      val init = brs.map { case ((lo, hi, _), k) => k -> (lo, hi) }.toMap
      val tOf = brs.map { case ((_, _, t), k) => k -> t }.toMap
      // every eval round must only see still-active keys, and each
      // key's ladder must lie inside its CURRENT bracket's domain
      var sawForeign = false
      val got = Sampling.keyedSearch[Int](init,
        Sampling.minProbes, Sampling.minUpdate,
        ladders => {
          if (!ladders.forall { case (k, _) => init.contains(k) })
            sawForeign = true
          ladders.map { case (k, ps) =>
            k -> ps.map(_ >= tOf(k)) }.toMap
        })
      !sawForeign && got == tOf
    })
  }

  test("probe ladders stay inside the bracket and BigInt-safe at " +
      "Long extremes") {
    // a full-Long span would overflow hi - lo in naive arithmetic;
    // the operators guard lo > Long.MinValue, so test from there up
    val extremeGen = for {
      lo <- Gen.oneOf(Long.MinValue + 1, -1L, 0L, Long.MaxValue - 5000)
      w <- Gen.chooseNum(1L, 4000L)
      hi <- Gen.const(
        if (lo > Long.MaxValue - 5000) Long.MaxValue else lo + w)
    } yield (lo, hi)
    checkProp(Prop.forAll(extremeGen) { case (lo, hi) =>
      val mins = Sampling.minProbes(lo, hi)
      val maxs = Sampling.maxProbes(lo, hi)
      mins.nonEmpty && mins.forall(p => p >= lo && p <= hi) &&
        mins == mins.distinct.sorted &&
        maxs.nonEmpty && maxs.forall(p => p > lo && p <= hi) &&
        maxs == maxs.distinct.sorted
    })
    // and the searches still land exactly on targets near the bounds
    assert(karyMinTrue(Long.MaxValue - 100, Long.MaxValue,
      ps => ps.map(_ >= Long.MaxValue - 3)) == Long.MaxValue - 3)
    assert(karyMaxTrue(Long.MinValue + 1, Long.MinValue + 90,
      ps => ps.map(_ <= Long.MinValue + 7)) == Long.MinValue + 7)
  }

  test("degenerate brackets: converged and one-point domains") {
    // lo == hi is already converged: the driver must return it
    // without calling eval
    var evals = 0
    val got = Sampling.keyedSearch[Int](Map(1 -> (5L, 5L)),
      Sampling.minProbes, Sampling.minUpdate,
      ladders => { evals += 1; ladders.map { case (k, ps) =>
        k -> ps.map(_ => true) }.toMap })
    assert(got == Map(1 -> 5L) && evals == 0)
    // width-1 bracket resolves in one round either way
    assert(karyMinTrue(3L, 4L, ps => ps.map(_ >= 4L)) == 4L)
    assert(karyMinTrue(3L, 4L, ps => ps.map(_ >= 3L)) == 3L)
  }

  test("one budget-cut engine: no bracket loop outside keyedSearch, " +
      "one Long.MinValue domain refusal and one guarded fold in ops/") {
    val ops = MainSources.all.filter(_._1.startsWith(
      MainSources.root.resolve("graft/ops")))
    def count(pattern: String): Int =
      ops.map { case (_, src) => pattern.r.findAllIn(src).size }.sum
    val loops = Seq("""while \(minBr""", """while \(maxBr""",
      """while \(probes\.nonEmpty\)""").map(p => p -> count(p))
    assert(loops.forall(_._2 == 0), s"bracket loops left: $loops")
    assert(count("""\bmidsOf\b""") == 0, "midsOf is back")
    assert(count("""above Long\.MinValue""") == 1,
      "the Long.MinValue domain refusal is not in one place")
    // each guarded fold checks for null _score/_toks partials once
    val folds =
      count("""col\("_score"\)\.isNull \|\| col\("_toks"\)\.isNull""")
    assert(folds == 1, s"$folds guarded partial folds in ops/")
    val gone = Seq("budgetBoundaryOf", "stratumBudgetEnvelopes",
      "StratumBudgetEnvelopes", "foldStratified",
      "foldStratifiedVersioned", "cardFromFolded", "karyMinTrue",
      "karyMaxTrue", "emptyLongs")
    val found = for ((p, src) <- ops; name <- gone
      if ("\\b" + name + "\\b").r.findFirstIn(src).isDefined)
      yield s"$p: $name"
    assert(found.isEmpty, found.mkString("; "))
  }
}
