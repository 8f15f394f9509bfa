package graft

import org.apache.spark.sql.functions._

import graft.ops.{IntervalJoin, Packing, Sampling, Sketches, Splits}

/** Unit coverage for the split / sketch / interval-join pipeline ops. */
class PipelineOpsSpec extends TestBase {

  test("splits: deterministic, stable under repartition, cutoffs honored") {
    import spark.implicits._
    val ids = spark.range(0, 2000).toDF("id")
    val a = Splits.assign(ids, col("id")).select("id", "bucket", "split")
    val b = Splits.assign(ids.repartition(7), col("id"))
      .select("id", "bucket", "split")
    assert(a.except(b).isEmpty && b.except(a).isEmpty)
    val rows = a.as[(Long, Long, String)].collect()
    assert(rows.forall { case (_, bk, sp) =>
      bk >= 0 && bk < 100 &&
        sp == (if (bk < 90) "train" else if (bk < 95) "val" else "test")
    })
    // Hash-uniformity sanity: each split is near its nominal share.
    val frac = rows.count(_._3 == "train").toDouble / rows.length
    assert(frac > 0.85 && frac < 0.95)
  }

  test("splits: salt namespaces independent assignments") {
    import spark.implicits._
    val ids = spark.range(0, 500).toDF("id")
    val s1 = Splits.assign(ids, col("id"), salt = "exp1")
      .select($"id", $"bucket".as("b1"))
    val s2 = Splits.assign(ids, col("id"), salt = "exp2")
      .select($"id", $"bucket".as("b2"))
    val differing = s1.join(s2, "id").filter($"b1" =!= $"b2").count()
    assert(differing > 400) // ~99% differ for independent hashes
  }

  test("leakage-safe split: cluster members share a split, singletons " +
      "match plain assign (ext51)") {
    import spark.implicits._
    val docs = spark.range(0, 300).toDF("doc_id")
    // Two clusters — a chain {5,6,7} and a pair {100, 250} — plus 295
    // unclustered docs.
    val pairs = Seq((5L, 6L), (6L, 7L), (100L, 250L)).toDF("id_a", "id_b")
    val got = Splits.assignLeakageSafe(docs, pairs)
      .select("doc_id", "split_key", "bucket", "split")
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> r).toMap
    // Every cluster member keys on the cluster minimum → same split.
    assert(Seq(5L, 6L, 7L).map(got(_)._2).distinct == Seq(5L))
    assert(Seq(5L, 6L, 7L).map(got(_)._4).distinct.size == 1)
    assert(got(250L)._2 == 100L && got(250L)._4 == got(100L)._4)
    // Unclustered docs reproduce the plain assignment bit-exactly.
    val plain = Splits.assign(docs, col("doc_id"))
      .select("doc_id", "bucket", "split")
      .as[(Long, Long, String)].collect().map(r => r._1 -> r).toMap
    val clustered = Set(5L, 6L, 7L, 100L, 250L)
    assert((0L until 300L).filterNot(clustered).forall { d =>
      got(d)._2 == d && got(d)._3 == plain(d)._2 && got(d)._4 == plain(d)._3
    })
    graft.ops.Reuse.freeAll(spark)
  }

  test("balanced folds: groups never straddle folds, head is dealt " +
      "serpentine by mass rank, tail matches the hash draw (ext140)") {
    import spark.implicits._
    val k = 3
    val headSize = 7
    // 40 docs; docs 2i/2i+1 for i<5 pair into clusters of mass
    // (2000−4i)+(2000−4i−2); the rest are singletons with descending
    // masses — so group masses (and the serpentine ranking) are known.
    val docs = (0 until 40)
      .map(i => (i.toLong, 2000L - 2 * i)).toDF("doc_id", "n_chars")
    val clusters = (0 until 5)
      .flatMap(i => Seq((2L * i, 2L * i), (2L * i + 1, 2L * i)))
      .toDF("doc_id", "cluster_id")
    val got = Splits.balancedFolds(docs, clusters, k,
        col("n_chars"), headSize)
      .as[(Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> r).toMap

    // (a) leakage-safety: paired docs share group AND fold
    (0 until 5).foreach { i =>
      assert(got(2L * i)._2 == got(2L * i + 1)._2 &&
        got(2L * i)._3 == got(2L * i + 1)._3)
    }
    // (b) head = the 7 heaviest groups: the 5 clusters (mass ≈ 4k)
    //     then singletons 10, 11; serpentine folds 0,1,2,2,1,0,0
    val headGroups = Seq(0L, 2L, 4L, 6L, 8L, 10L, 11L)
    val serpentine = Seq(0L, 1L, 2L, 2L, 1L, 0L, 0L)
    headGroups.zip(serpentine).foreach { case (gk, f) =>
      val doc = got.values.find(_._2 == gk).get
      assert(doc._4, s"group $gk expected in head")
      assert(got.values.filter(_._2 == gk).forall(_._3 == f),
        s"group $gk expected fold $f, got " +
          got.values.filter(_._2 == gk).map(_._3).toSet)
    }
    // (c) every tail doc matches the portable hash draw and is
    //     flagged out-of-head
    val tail = got.values.filter(!_._4).toSeq
    assert(tail.nonEmpty)
    tail.foreach { case (_, gk, fold, _) =>
      assert(!headGroups.contains(gk))
      assert(fold ==
        ((graft.ops.Hashing.portableHash32Local(s"fold:$gk") %
          k) + k) % k)
    }
    graft.ops.Reuse.freeAll(spark)
  }

  test("shard assign: stable shard, dense reproducible within-shard " +
      "sequence (ext52)") {
    import spark.implicits._
    val docs = spark.range(0, 1000).toDF("doc_id")
    val a = Splits.shardAssign(docs, col("doc_id"), 8)
      .select("doc_id", "shard", "seq")
    // Deterministic and partitioning-independent.
    val b = Splits.shardAssign(docs.repartition(7), col("doc_id"), 8)
      .select("doc_id", "shard", "seq")
    assert(a.except(b).isEmpty && b.except(a).isEmpty)
    val rows = a.as[(Long, Long, Long)].collect()
    assert(rows.map(_._2).forall(s => s >= 0 && s < 8))
    // seq is dense 1..n within each shard.
    rows.groupBy(_._2).values.foreach { g =>
      assert(g.map(_._3).sorted.toSeq == (1L to g.size).toSeq)
    }
    // A doc keeps its shard when the corpus grows (append stability).
    val grown = Splits.shardAssign(
      spark.range(0, 2000).toDF("doc_id"), col("doc_id"), 8)
      .filter(col("doc_id") < 1000).select("doc_id", "shard")
    assert(grown.except(a.select("doc_id", "shard")).isEmpty)
  }

  test("log-histogram quantiles: estimates bracket the true order " +
      "statistic within 2x; degenerate values clamp (ext56)") {
    import spark.implicits._
    // 1..1000 in one stratum: the q-th order statistic is ceil(q*10).
    val df = (1L to 1000L).map(v => ("g", v)).toDF("lang", "v") union
      Seq(("one", 1L), ("one", 0L), ("one", 1L)).toDF("lang", "v")
    val got = graft.ops.Sketches
      .logHistogramQuantiles(df, Seq("lang"), col("v"))
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    val (_, n, p50, p90, p99) = got("g")
    assert(n == 1000L)
    // Envelope: order statistic x_q <= est <= 2*x_q - 1.
    for ((est, x) <- Seq((p50, 500L), (p90, 900L), (p99, 990L)))
      assert(est >= x && est <= 2 * x - 1, s"est=$est x=$x")
    assert(p50 == 511L) // bucket 8 of 500 -> 2^9 - 1
    // Values <= 1 (incl. 0) clamp to bucket 0 -> upper bound 1.
    assert(got("one") == ("one", 3L, 1L, 1L, 1L))
    // Real-data envelope per stratum: n_chars of documents by lang.
    val docs = graft.ingest.Tables.documents(spark, sf("sf0.001"))
      .select(col("lang"), col("n_chars").cast("long").as("v"))
    val est = graft.ops.Sketches
      .logHistogramQuantiles(docs, Seq("lang"), col("v"))
      .as[(String, Long, Long, Long, Long)].collect()
    assert(est.nonEmpty)
    val byLang = docs.as[(String, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    est.foreach { case (lang, nl, e50, e90, e99) =>
      val vs = byLang(lang)
      assert(nl == vs.length)
      for ((e, q) <- Seq((e50, 50), (e90, 90), (e99, 99))) {
        val x = vs(((q * vs.length + 99) / 100) - 1)
        assert(e >= x && e <= math.max(1, 2 * x - 1),
          s"$lang p$q: est=$e exact=$x")
      }
    }
  }

  test("log-histogram quantiles: the 2x envelope holds on random value " +
      "sets (property)") {
    import spark.implicits._
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val gen = Gen.nonEmptyListOf(Gen.chooseNum(0L, 1000000L))
    val p = Prop.forAll(gen) { vs =>
      val got = graft.ops.Sketches.logHistogramQuantiles(
          vs.map(("g", _)).toDF("lang", "v"), Seq("lang"), col("v"))
        .as[(String, Long, Long, Long, Long)].collect().head
      val sorted = vs.map(math.max(_, 1L)).sorted
      Seq((got._3, 50), (got._4, 90), (got._5, 99)).forall {
        case (est, q) =>
          val x = sorted(((q * sorted.length + 99) / 100) - 1)
          got._2 == vs.length && est >= x && est <= math.max(1, 2 * x - 1)
      }
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(10), p)
    assert(res.passed, res.status.toString)
  }

  test("kmv: exact below k, close estimate above k") {
    import spark.implicits._
    // Group "small": 10 distinct values (< k=64) → est must equal exact.
    // Group "big": 5000 distinct values → |est/exact - 1| small for k=64.
    val small = (1 to 10).flatMap(v => Seq(("small", v), ("small", v)))
    val big = (1 to 5000).map(v => ("big", v))
    val df = (small ++ big).toDF("g", "v")
    val got = Sketches.kmvDistinct(df, col("g"), col("v"))
      .select("entity", "est_distinct", "exact_distinct")
      .as[(String, Double, Long)].collect().map(r => r._1 -> r).toMap
    assert(got("small")._2 == 10.0 && got("small")._3 == 10L)
    val (est, exact) = (got("big")._2, got("big")._3.toDouble)
    assert(exact == 5000.0 && math.abs(est / exact - 1.0) < 0.35)
  }

  test("count-min: est >= exact always, exact on collision-free cells, " +
      "counter merge == one-shot build (ext98)") {
    import spark.implicits._
    // 3 distinct tokens in a 4x1024 sketch: collisions are essentially
    // impossible, so every estimate must be EXACT; and the one-sided
    // guarantee est >= exact must hold on the real corpus too.
    val tiny = Seq((1L, "aa bb aa"), (2L, "aa cc")).toDF("doc_id", "text")
    val audit = Sketches.countMinAccuracyAudit(tiny, 10)
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(audit == Seq(("aa", 3L, 3L, 0L), ("bb", 1L, 1L, 0L),
      ("cc", 1L, 1L, 0L)))
    val docs = graft.ingest.Tables.documents(spark, sf("sf0.001"))
    val real = Sketches.countMinAccuracyAudit(docs, 20)
      .as[(String, Long, Long, Long)].collect()
    assert(real.length == 20 &&
      real.forall(r => r._3 >= r._2 && r._4 >= 0L))
    // mergeability: union the two halves' counter tables, merge, and
    // the cells equal the one-shot build's — the property the
    // streaming twin and shard-parallel builds ride.
    val whole = Sketches.countMinCounters(docs)
    val halves = Sketches.countMinMerge(
      Sketches.countMinCounters(docs.filter($"doc_id" % 2 === 0)).union(
        Sketches.countMinCounters(docs.filter($"doc_id" % 2 === 1))))
    assert(halves.except(whole).isEmpty && whole.except(halves).isEmpty)
  }

  test("json key profile: keys counted with value types; fold == " +
      "one-shot (ext99)") {
    import spark.implicits._
    val df = Seq(
      """{"a": 1, "b": "x", "c": true}""",
      """{"a": 2.5, "b": "y", "d": null}""",
      """{"a": -3}"""
    ).toDF("props")
    val got = graft.ops.Reporting.jsonKeyProfile(df, col("props"))
      .orderBy("key")
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      ("a", 3L, 3L, 0L, 0L, 0L),
      ("b", 2L, 0L, 2L, 0L, 0L),
      ("c", 1L, 0L, 0L, 1L, 0L),
      ("d", 1L, 0L, 0L, 0L, 1L)))
    // the card is its own algebraic partial: halves re-folded == whole
    val halves = graft.ops.Reporting.jsonKeyProfileFromCounts(
      graft.ops.Reporting.jsonKeyProfile(df.limit(1), col("props")).union(
        graft.ops.Reporting.jsonKeyProfile(
          df.except(df.limit(1)), col("props"))))
    val whole = graft.ops.Reporting.jsonKeyProfile(df, col("props"))
    assert(halves.except(whole).isEmpty && whole.except(halves).isEmpty)
  }

  test("kmv: aggregator form matches window form on real data") {
    val ev = graft.ingest.Tables.events(spark, sf("sf0.001"))
    val a = Sketches.kmvDistinct(ev, col("event_type"), col("user_id"))
    val b = Sketches.kmvDistinctAgg(ev, col("event_type"), col("user_id"))
    assert(a.except(b).isEmpty && b.except(a).isEmpty && b.count() > 0)
  }

  test("hll: linear-counting regime exact-ish small, raw regime within " +
      "rse bound big, duplicates absorbed (ext132)") {
    import spark.implicits._
    // "small": 10 distinct (duplicated ×3) → linear-counting regime;
    // m·ln(m/V) at V=246..256 is near-exact for tiny cardinalities.
    // "big": 50k distinct → raw harmonic regime; standard error is
    // 1.04/√256 ≈ 6.5%, assert within 4σ.
    val small = (1 to 10).flatMap(v => Seq.fill(3)(("small", v)))
    val big = (1 to 50000).map(v => ("big", v))
    val df = (small ++ big).toDF("g", "v")
    val got = Sketches.hllDistinct(df, col("g"), col("v"))
      .select("entity", "est_distinct", "exact_distinct")
      .as[(String, Double, Long)].collect().map(r => r._1 -> r).toMap
    assert(got("small")._3 == 10L &&
      math.abs(got("small")._2 - 10.0) < 2.0)
    val (est, exact) = (got("big")._2, got("big")._3.toDouble)
    assert(exact == 50000.0 && math.abs(est / exact - 1.0) < 0.26)
  }

  test("hll: register relation merges by union+re-max; aggregator form " +
      "matches relational form on real data (ext132)") {
    import spark.implicits._
    val ev = graft.ingest.Tables.events(spark, sf("sf0.001"))
    // Mergeability: per-half register relations unioned and re-maxed
    // equal the one-shot registers — the law that makes the sketch
    // shardable/streamable/storable.
    val whole = Sketches.hllRegisters(ev, col("event_type"), col("user_id"))
    val halves = Sketches.hllRegisters(
        ev.filter($"user_id" % 2 === 0), col("event_type"), col("user_id"))
      .union(Sketches.hllRegisters(
        ev.filter($"user_id" % 2 === 1), col("event_type"), col("user_id")))
      .groupBy("entity", "idx").agg(max("rho").as("rho"))
    assert(halves.except(whole).isEmpty && whole.except(halves).isEmpty)
    // And the estimate over merged registers equals the one-shot one.
    val estW = Sketches.hllEstimateFromRegisters(whole)
    val estH = Sketches.hllEstimateFromRegisters(halves)
    assert(estH.except(estW).isEmpty && estW.except(estH).isEmpty)
    // Aggregator scale path == relational path, bit-for-bit.
    val a = Sketches.hllDistinct(ev, col("event_type"), col("user_id"))
    val b = Sketches.hllDistinctAgg(ev, col("event_type"), col("user_id"))
    assert(a.except(b).isEmpty && b.except(a).isEmpty && b.count() > 0)
  }

  test("dsir: target-vocab docs outscore off-vocab, layout-stable, " +
      "selection mass shifts toward high scores (ext134)") {
    import spark.implicits._
    // Target docs speak vocab {aa bb cc dd}, off-corpus docs {xx yy zz
    // ww}; two raw candidates speak one vocab each. The candidate whose
    // tokens the target distribution favors must outscore the other
    // (its buckets carry higher target/raw octave ratios).
    val docs = ((1 to 10).map(i => (i.toLong, "aa bb cc dd", true)) ++
      (11 to 12).map(i => (i.toLong, "xx yy zz ww", false)) ++
      Seq((100L, "aa bb aa bb", false), (101L, "xx yy xx yy", false)))
      .toDF("doc_id", "text", "is_t")
    val sc = Sampling.dsirScores(docs, $"is_t")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r._2).toMap
    assert(sc(100L) > sc(101L))
    // Scores are a pure function of the corpus — stable under layout.
    val sc7 = Sampling.dsirScores(docs.repartition(7), $"is_t")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r._2).toMap
    assert(sc7 == sc)
    // Real corpus: the importance draw must shift selection mass toward
    // high-scoring docs — mean selected score strictly above the corpus
    // mean (weights span octaves, so the shift is far outside draw
    // noise).
    val real = graft.ingest.Tables.documents(spark, sf("sf0.001"))
    val scores = Sampling.dsirScores(real, col("lang") === "en")
    val corpusMean = scores.agg(avg("dsir_log2w")).as[Double].collect().head
    val selMean = Sampling.dsirSelect(real, col("lang") === "en", 100)
      .agg(avg("dsir_log2w")).as[Double].collect().head
    assert(selMean > corpusMean)
  }

  test("decay: power-of-two weights, histogram merge law, in-place " +
      "shift == recompute at tref+H (ext133)") {
    import spark.implicits._
    import graft.ops.Decay
    val H = 86400000000L
    // Weights: ages 0, 1 and K-1 buckets → 2^29 + 2^28 + 1 exactly;
    // an event K half-lives old contributes nothing.
    val base = 1700000000000000L
    val tiny = Seq(base, base - H, base - (Decay.AgeBuckets - 1) * H,
        base - Decay.AgeBuckets.toLong * H)
      .map(us => ("t", 1L, us)).toDF("et", "uid", "us")
      .select($"et", $"uid", expr("timestamp_micros(us)").as("ts"))
    val tinyScore = Decay.scoreFromHistogram(Decay.histogram(
        tiny, Seq($"et", $"uid"), $"ts", lit(base), H))
      .select("decayed_scaled", "n_events").as[(Long, Long)].collect()
    assert(tinyScore.toSeq == Seq(((1L << 29) + (1L << 28) + 1L, 3L)))
    // Real data: histogram of halves unioned + re-summed == one-shot
    // (the shard/micro-batch merge law), and one in-place shift equals
    // recomputing every event's age against tref advanced a half-life
    // — including the oldest bucket expiring (30-day corpus, K = 30).
    val ev = graft.ingest.Tables.events(spark, sf("sf0.001"))
    val tref = ev.agg(max(unix_micros($"ts")).as("t"))
      .as[Long].collect().head
    def hist(df: org.apache.spark.sql.DataFrame, t: Long) =
      Decay.histogram(df, Seq($"event_type", $"user_id"), $"ts", lit(t), H)
    val whole = hist(ev, tref)
    val merged = hist(ev.filter($"event_id" % 2 === 0), tref)
      .union(hist(ev.filter($"event_id" % 2 === 1), tref))
      .groupBy("g0", "g1", "age_bucket").agg(sum("cnt").as("cnt"))
    assert(merged.except(whole).isEmpty && whole.except(merged).isEmpty)
    val shifted = Decay.scoreFromHistogram(Decay.shift(whole))
    val recomputed = Decay.scoreFromHistogram(hist(ev, tref + H))
    assert(shifted.except(recomputed).isEmpty &&
      recomputed.except(shifted).isEmpty && shifted.count() > 0)
    // And the expiry edge is non-vacuous: the corpus really has events
    // in the oldest bucket at tref.
    assert(whole.filter($"age_bucket" === (Decay.AgeBuckets - 1)).count() > 0)
  }

  test("aligned decay: == tref-anchored form on grid-aligned data, " +
      "differs off-grid, addition merge law (ext141)") {
    import spark.implicits._
    import graft.ops.Decay
    val H = 86400000000L
    // Grid-aligned timestamps (exact multiples of H): (tref−ts) DIV H
    // == trefB − tsB, so both quantizations agree bucket-for-bucket.
    val aligned = Seq(0L, 1L, 1L, 3L, 29L, 30L)
      .map(b => ("t", 1L + b % 2, 1700006400000000L - b * H))
      .toDF("et", "uid", "us")
      .select($"et", $"uid", expr("timestamp_micros(us)").as("ts"))
    val a = Decay.trendingTopKAligned(
      aligned, $"et", $"uid", $"ts", H, 10)
    val t = Decay.trendingTopK(aligned, $"et", $"uid", $"ts", H, 10)
    assert(a.except(t).isEmpty && t.except(a).isEmpty && a.count() > 0)
    // Off-grid: two events half a bucket apart that STRADDLE a grid
    // boundary — tref-anchored puts both at age 0, the absolute grid
    // ages the earlier one to 1. The distinction is non-vacuous.
    val off = Seq(1700006400000000L + H / 4,
        1700006400000000L + H / 4 - H / 2)
      .map(us => ("t", 1L, us))
      .toDF("et", "uid", "us")
      .select($"et", $"uid", expr("timestamp_micros(us)").as("ts"))
    val aOff = Decay.trendingTopKAligned(off, $"et", $"uid", $"ts", H, 10)
      .select("decayed_scaled").as[Long].collect().toSeq
    val tOff = Decay.trendingTopK(off, $"et", $"uid", $"ts", H, 10)
      .select("decayed_scaled").as[Long].collect().toSeq
    assert(aOff != tOff,
      "aligned and tref-anchored agreed off-grid — law is vacuous")
    // Merge law on real data: partial aligned histograms of the two
    // halves sum to the one-shot histogram (NO tref agreement needed —
    // the property histogram() cannot have across different trefs).
    val ev = graft.ingest.Tables.events(spark, sf("sf0.001"))
    def ah(df: org.apache.spark.sql.DataFrame) =
      Decay.alignedHistogram(df, Seq($"event_type", $"user_id"), $"ts", H)
    val whole = ah(ev)
    val merged = ah(ev.filter($"event_id" % 2 === 0))
      .union(ah(ev.filter($"event_id" % 2 === 1)))
      .groupBy("g0", "g1", "abs_bucket").agg(sum("cnt").as("cnt"))
    assert(merged.except(whole).isEmpty && whole.except(merged).isEmpty)
    assert(Decay.trendingFromAligned(merged, 10)
      .except(Decay.trendingFromAligned(whole, 10)).isEmpty)
    graft.ops.Reuse.freeAll(spark)
  }

  test("z-order layout: morton interleave hand-checked; every z-bucket " +
      "bounds BOTH dim spans, d1-sort leaves d2 unbounded (ext142)") {
    import spark.implicits._
    import graft.ops.Layout
    // morton(0b101, 0b011) = d1 bits at odd positions (1<<1 + 1<<5)
    // + d2 bits at even positions (1<<0 + 1<<2) = 2 + 32 + 1 + 4 = 39
    val m = Seq((5L, 3L)).toDF("a", "b")
      .select(Layout.morton(col("a"), col("b"), 16).as("z"))
      .as[Long].head()
    assert(m == 39L)

    val bits = 16
    val bucketBits = 4
    val audit = Layout.zOrderAudit(
        graft.ingest.Tables.events(spark, sf("sf0.001"))
          .select(col("user_id"),
            expr("unix_micros(ts) DIV 86400000000").as("day")),
        col("user_id"), col("day"), bucketBits, bits)
      .as[(String, Long, Long, Long, Long)].collect()
    val (zb, db) = audit.partition(_._1 == "zorder")
    assert(zb.nonEmpty && db.nonEmpty)
    // row conservation: both layouts partition the same rows
    assert(zb.map(_._3).sum == db.map(_._3).sum)
    // bucketBits=4 constrains the top 2 bits of EACH dimension inside
    // a z-bucket → both spans < 2^(bits−2); more than one z-bucket is
    // actually populated (the bound is not vacuous)
    val cap = 1L << (bits - bucketBits / 2)
    assert(zb.length > 1)
    assert(zb.forall(r => r._4 < cap && r._5 < cap),
      s"z-bucket span exceeded ${cap}: ${zb.filterNot(r =>
        r._4 < cap && r._5 < cap).toSeq}")
    // the single-key layout bounds d1 the same way…
    assert(db.forall(_._4 < cap))
    // …but leaves some bucket's d2 span at (near-)full range — the
    // pruning Z-order buys and d1-sort cannot
    assert(db.exists(_._5 >= cap),
      s"d1-sort d2 spans all under $cap — fixture can't distinguish " +
        "layouts")
    graft.ops.Reuse.freeAll(spark)
  }

  test("interval join: [t-i, t) bounds, cross-bin matches, empty left") {
    import spark.implicits._
    val i = 100L // µs interval → bins of 100
    def ts(us: Long) = expr(s"timestamp_micros($us)")
    val left = Seq((1L, "u1", 250L), (2L, "u1", 300L), (3L, "u2", 250L))
      .toDF("id", "k", "us")
      .select($"id", $"k", expr("timestamp_micros(us)").as("t"))
    // Left 250 sees [150, 250): 150 (t-i inclusive) and 249 — not 149,
    // not 250 (t exclusive). Left 300 sees [200, 300): 249 and 250 —
    // 250 crosses a bin boundary relative to 300's bin. u2: no rights → 0.
    val right = Seq(("u1", 149L), ("u1", 150L), ("u1", 249L),
        ("u1", 250L), ("u1", 305L))
      .toDF("k", "us").select($"k", expr("timestamp_micros(us)").as("t"))
    val got = IntervalJoin.countRecent(left, right, "k", "t", i, "n")
      .select("id", "n").as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 2L, 2L -> 2L, 3L -> 0L))
  }

  test("packing: two-phase prefix sum equals sequential fold") {
    import spark.implicits._
    // Unsorted, unevenly-partitioned input: the op must produce the
    // global doc_id-ordered prefix sum regardless of input layout.
    val sizes = (1L to 300L).map(i => i -> (i % 17 + 1))
    val df = spark.createDataFrame(scala.util.Random.shuffle(sizes))
      .toDF("doc_id", "n").repartition(5)
    val got = Packing
      .concatChunks(df, col("doc_id"), col("n"), budget = 10L)
      .select("doc_id", "n_toks", "first_tok", "chunk_id")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    var run = 0L
    sizes.zip(got).foreach { case ((id, n), (gid, gn, first, chunk)) =>
      assert(gid == id && gn == n && first == run && chunk == run / 10)
      run += n
    }
    // A doc straddling a budget boundary belongs to its FIRST token's
    // chunk — consecutive docs may share a chunk_id, never skip back.
    assert(got.map(_._4).toSeq == got.map(_._4).toSeq.sorted)
  }

  test("sampling: stratified takes exactly min(k, stratum) per stratum") {
    import spark.implicits._
    val df = ((1 to 50).map(i => (i.toLong, "a")) ++
        (51 to 60).map(i => (i.toLong, "b"))).toDF("id", "st")
    val got = Sampling.stratifiedTopK(df, Seq("st"), col("id"), 20)
    val bySt = got.groupBy("st").count().as[(String, Long)].collect().toMap
    assert(bySt == Map("a" -> 20L, "b" -> 10L))
    val again = Sampling.stratifiedTopK(df.repartition(7), Seq("st"),
      col("id"), 20)
    assert(got.select("id", "st", "rank")
      .except(again.select("id", "st", "rank")).isEmpty)
  }

  test("rank normalize: exact percent-rank per stratum, endpoints 0 " +
      "and 1e6, singleton reads 0 (ext116)") {
    import spark.implicits._
    val df = Seq(
      (1L, "a", 30L), (2L, "a", 10L), (3L, "a", 20L), (4L, "a", 20L),
      (5L, "b", 99L))
      .toDF("doc_id", "st", "sig")
    val got = Sampling.rankNormalize(df, Seq("st"), col("doc_id"),
        col("sig")).orderBy("doc_id")
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> r._4).toMap
    // a: order by (sig, id): 2(10) < 3(20) < 4(20) < 1(30) →
    // ranks 1..4 → pct 0, 333333, 666666, 1e6
    assert(got == Map(2L -> 0L, 3L -> 333333L, 4L -> 666666L,
      1L -> 1000000L, 5L -> 0L))
    // stable under repartition
    val again = Sampling.rankNormalize(df.repartition(5), Seq("st"),
        col("doc_id"), col("sig"))
      .as[(Long, String, Long, Long)].collect().map(r => r._1 -> r._4).toMap
    assert(again == got)
  }

  test("temporal split: k-th order-statistic cutoff incl. tie " +
      "inclusion, horizon gap drops, user exposure, empty card " +
      "(ext170)") {
    import spark.implicits._
    // n=10, testPct=20 -> k = ceil(8.0) = 8 -> cutoff = 8th smallest
    // = 8; BOTH us=8 rows land in train (<= cutoff — the ties rule);
    // gap (8, 13] empty; only us=20 is test.
    val ev = Seq(("u1", 1L), ("u1", 2L), ("u1", 3L), ("u1", 4L),
      ("u1", 8L), ("u2", 5L), ("u2", 6L), ("u2", 7L), ("u2", 8L),
      ("u2", 20L))
      .toDF("u", "us")
      .select($"u", expr("timestamp_micros(us)").as("ts"))
    val got = graft.ops.Splits.temporalSplit(ev, col("u"),
        testPct = 20, gapUs = 5L)
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)]
      .collect().toSeq
    assert(got == Seq((8L, 9L, 0L, 1L, 2L, 1L, 1L, 500000L)),
      s"hand-computed temporal split drifted: $got")
    // a wider gap swallows the test row
    val g2 = graft.ops.Splits.temporalSplit(ev, col("u"),
        testPct = 20, gapUs = 100L)
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)]
      .collect().toSeq
    assert(g2 == Seq((8L, 9L, 1L, 0L, 2L, 0L, 0L, 0L)),
      s"gap handling drifted: $g2")
    // empty input: no cutoff exists — empty card, not an NPE
    assert(graft.ops.Splits.temporalSplit(ev.filter(lit(false)),
      col("u")).count() == 0L)
    // null timestamps: the counts-twin excludes them exactly as the
    // batch bisection does — the cards stay identical (a null count
    // row would inflate n and shift the cutoff)
    val evNull = ev.unionByName(
      Seq(("u3", null.asInstanceOf[java.sql.Timestamp]))
        .toDF("u", "ts"))
    val bNull = graft.ops.Splits.temporalSplit(evNull, col("u"),
      testPct = 20, gapUs = 5L)
    val cNull = graft.ops.Splits.temporalSplitFromCounts(
      graft.ops.Splits.temporalEventCounts(evNull, col("u")),
      testPct = 20, gapUs = 5L)
    assert(bNull.except(cNull).isEmpty && cNull.except(bNull).isEmpty,
      "null-ts events broke batch/counts-twin parity")
    graft.ops.Reuse.freeAll(spark)
  }

  test("budget select: full classes above the threshold, boundary " +
      "class cut at the first overflow with ids ordered, whole-corpus " +
      "fit, nothing-fits, empty card (ext172)") {
    import spark.implicits._
    import graft.ops.Sampling
    // tokens = whitespace words; scores: {90: d1(5), d2(5)},
    // {80: d3(4), d4(4), d5(4)}, {70: d6(10)}
    def words(n: Int) = Seq.fill(n)("w").mkString(" ")
    val docs = Seq(
      (1L, words(5), 90L), (2L, words(5), 90L), (3L, words(4), 80L),
      (4L, words(4), 80L), (5L, words(4), 80L), (6L, words(10), 70L))
      .toDF("doc_id", "text", "q")
    // budget 16: class 90 fits whole (10); boundary class 80 admits
    // d3 (14) and stops at d4 (18 > 16) — prefix, no back-fill of d5
    val got = Sampling.budgetSelectCard(docs, col("q"), 16L)
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((80L, 3L, 3L, 14L, 6L, 32L, 16L, 875000L)),
      s"hand-computed budget card drifted: $got")
    val rel = Sampling.budgetSelectDocs(docs, col("q"), 16L)
      .orderBy("doc_id").as[(Long, Long, Long, Long)].collect().toSeq
    assert(rel.map(r => r._1 -> r._4) == Seq(1L -> 1L, 2L -> 1L,
      3L -> 1L, 4L -> 0L, 5L -> 0L, 6L -> 0L),
      s"selection relation drifted: $rel")
    // whole corpus fits: threshold = min score - 1, boundary = max id
    val all = Sampling.budgetSelectCard(docs, col("q"), 100L)
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(all == Seq((69L, 6L, 6L, 32L, 6L, 32L, 100L, 320000L)),
      s"whole-fit card drifted: $all")
    // budget below the best doc: nothing selected, loud-zero card
    val none = Sampling.budgetSelectCard(docs, col("q"), 3L)
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(none.head._3 == 0L && none.head._4 == 0L,
      s"nothing-fits selected rows: $none")
    // empty corpus: empty card (no boundary exists), not an NPE
    assert(Sampling.budgetSelectCard(docs.filter(lit(false)),
      col("q"), 16L).count() == 0L)
    // integral-score contract (r15 verdict item 1): a double score is
    // refused TYPED — cast('long') would floor it silently, changing
    // the admission order vs the caller's intent
    val exDbl = intercept[IllegalArgumentException] {
      Sampling.budgetSelectCard(
        docs.withColumn("qd", col("q") / lit(2.0)), col("qd"), 16L)
    }
    assert(exDbl.getMessage.contains("integral"),
      s"double-score rejection message drifted: ${exDbl.getMessage}")
    // ids get the same contract: a fractional id would silently merge
    // distinct docs under the floor
    val exDblId = intercept[IllegalArgumentException] {
      Sampling.budgetSelectCard(
        docs.withColumn("did", col("doc_id") / lit(2.0)), col("q"),
        16L, id = "did")
    }
    assert(exDblId.getMessage.contains("integral id"),
      s"double-id rejection message drifted: ${exDblId.getMessage}")
    // null score/id raise LOUDLY in the scan (r15 ADVICE) — a null
    // would silently leave the bisection domain while still counting
    // in n_docs/tokens_total
    def deepMsg(t: Throwable): String = {
      var s = new StringBuilder; var e: Throwable = t; var d = 0
      while (e != null && d < 12) {
        s ++= Option(e.getMessage).getOrElse("")
        e = if (e.getCause eq e) null else e.getCause; d += 1
      }
      s.toString
    }
    val exNull = intercept[Exception] {
      Sampling.budgetSelectCard(
        docs.withColumn("qn",
          when(col("doc_id") === 3L, lit(null)).otherwise(col("q"))),
        col("qn"), 16L).collect()
    }
    assert(deepMsg(exNull).contains("null score"),
      s"null-score guard did not fire: ${deepMsg(exNull)}")
    // externally-produced stored partials with a null key are
    // diagnosed AS null keys — countDistinct skips nulls, so without
    // the separate check they would read as phantom duplicates
    val ncSchema = org.apache.spark.sql.types.StructType(
      Seq("_id", "_score", "_toks").map(
        org.apache.spark.sql.types.StructField(_,
          org.apache.spark.sql.types.LongType)))
    val nullCounts = spark.createDataFrame(java.util.Arrays.asList(
      org.apache.spark.sql.Row(1L, 10L, 5L),
      org.apache.spark.sql.Row(null, 9L, 4L)), ncSchema)
    val exNullId = intercept[IllegalArgumentException] {
      Sampling.budgetSelectCardFromCounts(nullCounts, 16L)
    }
    assert(exNullId.getMessage.contains("null _id"),
      s"null-key diagnosis drifted: ${exNullId.getMessage}")
    graft.ops.Reuse.freeAll(spark)
  }

  test("budget fill curve: K budgets == K single cards (incl. " +
      "nothing-fits, partial and whole-fit rows from ONE search " +
      "pass), distinct-budgets contract, real-corpus law (ext174)") {
    import spark.implicits._
    import graft.ops.Sampling
    def words(n: Int) = Seq.fill(n)("w").mkString(" ")
    val docs = Seq(
      (1L, words(5), 90L), (2L, words(5), 90L), (3L, words(4), 80L),
      (4L, words(4), 80L), (5L, words(4), 80L), (6L, words(10), 70L))
      .toDF("doc_id", "text", "q")
    // budgets spanning all three regimes of the hand-computed corpus
    val curve = Sampling.budgetFillCurve(docs, col("q"),
        Seq(3L, 16L, 100L))
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)]
      .collect().toSeq
    assert(curve.map(_._1) == Seq(3L, 16L, 100L),
      s"curve rows not budget-ordered: $curve")
    curve.foreach { r =>
      val solo = Sampling.budgetSelectCard(docs, col("q"), r._1)
        .as[(Long, Long, Long, Long, Long, Long, Long, Long)]
        .collect().head
      // card columns: (t, id*, n_sel, tok_sel, n_docs, tok_tot, B,
      // fill); curve rows lead with B
      assert((r._2, r._3, r._4, r._5, r._6, r._7, r._1, r._8) == solo,
        s"curve row for budget ${r._1} != single card: $r vs $solo")
      graft.ops.Reuse.freeAll(spark)
    }
    intercept[IllegalArgumentException] {
      Sampling.budgetFillCurve(docs, col("q"), Seq(16L, 16L))
    }
    assert(Sampling.budgetFillCurve(docs.filter(lit(false)), col("q"),
      Seq(16L)).count() == 0L)
    graft.ops.Reuse.freeAll(spark)
    // real corpus: every curve row equals its single-budget card
    val real = graft.ingest.Tables.documents(spark, sf("sf0.001"))
    def scored(d: org.apache.spark.sql.DataFrame) =
      graft.ops.TextOps.quality(d).withColumn("score_ppm", expr(
        "least(n_words * 10000, 1000000) DIV 2" +
          " + (n_stop * 1000000 DIV n_words) DIV 2"))
    val realCurve = Sampling.budgetFillCurve(scored(real),
        col("score_ppm"), Seq(500L, 1500L, 999999L))
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)]
      .collect().toSeq
    graft.ops.Reuse.freeAll(spark)
    // monotone law: fill mass never decreases with budget, and the
    // oversized budget admits the whole corpus
    assert(realCurve.map(_._5) == realCurve.map(_._5).sorted,
      s"tokens_selected not monotone in budget: $realCurve")
    assert(realCurve.last._5 == realCurve.last._7,
      s"oversized budget did not admit the whole corpus: $realCurve")
    realCurve.foreach { r =>
      val solo = Sampling.budgetSelectCard(scored(real),
          col("score_ppm"), r._1)
        .as[(Long, Long, Long, Long, Long, Long, Long, Long)]
        .collect().head
      graft.ops.Reuse.freeAll(spark)
      assert((r._2, r._3, r._4, r._5, r._6, r._7, r._1, r._8) == solo,
        s"real-corpus curve row ${r._1} != single card")
    }
  }

  test("two-level budget: per-stratum caps then a global cut — " +
      "hand-computed whole-fit and partial-global cards, docs " +
      "relation == per-stratum singles, composition law on the " +
      "real corpus (ext175)") {
    import spark.implicits._
    import graft.ops.Sampling
    def words(n: Int) = Seq.fill(n)("w").mkString(" ")
    val docs = Seq(
      (1L, words(5), 90L, "a"), (2L, words(5), 90L, "a"),
      (3L, words(4), 80L, "a"), (4L, words(4), 80L, "a"),
      (5L, words(4), 80L, "a"), (6L, words(10), 70L, "a"),
      (7L, words(3), 50L, "b"), (8L, words(2), 40L, "b"),
      (9L, words(20), 10L, "c"))
      .toDF("doc_id", "text", "q", "lang")
    // caps 16: survivors = a:{1,2,3} b:{7,8} c:{} (19 tokens).
    // global 20 fits them whole (t = smin-1 = 39, boundary = max id)
    val card20 = Sampling.twoLevelBudgetCard(docs, "lang", col("q"),
        16L, 20L)
      .as[(Long, Long, Long, Long, Long, Long, Long, Long, Long,
        Long, Long)].collect().head
    assert(card20 == (39L, 8L, 5L, 19L, 5L, 19L, 9L, 57L, 16L, 20L,
      950000L), s"whole-fit two-level card drifted: $card20")
    graft.ops.Reuse.freeAll(spark)
    // global 12 cuts the survivors again: t=80, base 10, doc 3 (4
    // toks) overflows -> boundary 2, selection = the two 90s
    val card12 = Sampling.twoLevelBudgetCard(docs, "lang", col("q"),
        16L, 12L)
      .as[(Long, Long, Long, Long, Long, Long, Long, Long, Long,
        Long, Long)].collect().head
    assert(card12 == (80L, 2L, 2L, 10L, 5L, 19L, 9L, 57L, 16L, 12L,
      833333L), s"partial-global two-level card drifted: $card12")
    graft.ops.Reuse.freeAll(spark)
    // caps so tight nothing survives: ONE row, null threshold and
    // boundary (no stage-2 boundary exists), cap-stage telemetry
    // intact — the declarative oracle's exact shape
    val none = Sampling.twoLevelBudgetCard(docs, "lang", col("q"),
      1L, 20L).collect()
    assert(none.length == 1, s"nothing-survives card rows: $none")
    val nr = none.head
    assert(nr.isNullAt(0) && nr.isNullAt(1) && nr.getLong(2) == 0L &&
      nr.getLong(3) == 0L && nr.getLong(4) == 0L &&
      nr.getLong(5) == 0L && nr.getLong(6) == 9L &&
      nr.getLong(7) == 57L && nr.getLong(8) == 1L &&
      nr.getLong(9) == 20L && nr.getLong(10) == 0L,
      s"nothing-survives card drifted: $nr")
    graft.ops.Reuse.freeAll(spark)
    // ids shared ACROSS strata would silently double-step the global
    // boundary bisection — rejected loudly
    val exShared = intercept[IllegalArgumentException] {
      Sampling.twoLevelBudgetCard(
        docs.withColumn("doc_id",
          when(col("doc_id") === 7L, 1L).otherwise(col("doc_id"))),
        "lang", col("q"), 16L, 20L)
    }
    assert(exShared.getMessage.contains("GLOBALLY unique"),
      s"shared-id guard drifted: ${exShared.getMessage}")
    graft.ops.Reuse.freeAll(spark)
    // the stratified docs relation == the single-stratum docs
    // relation per stratum
    Seq("a", "b", "c").foreach { s =>
      val got = Sampling.budgetSelectDocsByStratum(docs, "lang",
          col("q"), 16L)
        .filter(col("lang") === s).drop("lang").orderBy("doc_id")
        .as[(Long, Long, Long, Long)].collect().toSeq
      val solo = Sampling.budgetSelectDocs(
          docs.filter(col("lang") === s), col("q"), 16L)
        .orderBy("doc_id").as[(Long, Long, Long, Long)]
        .collect().toSeq
      assert(got == solo, s"stratified docs relation for $s " +
        s"drifted: $got vs $solo")
      graft.ops.Reuse.freeAll(spark)
    }
    // composition law on the real corpus: the two-level card's global
    // columns equal the single cut over the docs-relation survivors
    val real = graft.ingest.Tables.documents(spark, sf("sf0.001"))
    def scored(d: org.apache.spark.sql.DataFrame) =
      graft.ops.TextOps.quality(d).withColumn("score_ppm", expr(
        "least(n_words * 10000, 1000000) DIV 2" +
          " + (n_stop * 1000000 DIV n_words) DIV 2"))
    val two = Sampling.twoLevelBudgetCard(scored(real), "lang",
        col("score_ppm"), 1500L, 4000L)
      .as[(Long, Long, Long, Long, Long, Long, Long, Long, Long,
        Long, Long)].collect().head
    graft.ops.Reuse.freeAll(spark)
    val survIds = Sampling.budgetSelectDocsByStratum(scored(real),
        "lang", col("score_ppm"), 1500L)
      .filter(col("selected") === 1L).select("doc_id")
    val solo = Sampling.budgetSelectCard(
        scored(real).join(survIds, "doc_id"), col("score_ppm"), 4000L)
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)]
      .collect().head
    graft.ops.Reuse.freeAll(spark)
    assert((two._1, two._2, two._3, two._4) ==
      (solo._1, solo._2, solo._3, solo._4) &&
      two._5 == solo._5 && two._6 == solo._6 && two._11 == solo._8,
      s"two-level != composed single cut: $two vs $solo")
    assert(two._4 > 0 && two._4 < two._6,
      s"real-corpus global cut should be non-trivial: $two")
  }

  test("stratified budget select: hand-computed mixed strata " +
      "(partial / whole-fit / nothing-fits), per-stratum budgets " +
      "map, null stratum rejected, == the single-stratum operator " +
      "per stratum on the real corpus (ext173)") {
    import spark.implicits._
    import graft.ops.Sampling
    def words(n: Int) = Seq.fill(n)("w").mkString(" ")
    // stratum a = the ext172 spec corpus (boundary class cut at the
    // first overflow); b fits whole; c's single 20-tok doc overflows
    val docs = Seq(
      (1L, words(5), 90L, "a"), (2L, words(5), 90L, "a"),
      (3L, words(4), 80L, "a"), (4L, words(4), 80L, "a"),
      (5L, words(4), 80L, "a"), (6L, words(10), 70L, "a"),
      (7L, words(3), 50L, "b"), (8L, words(2), 40L, "b"),
      (9L, words(20), 10L, "c"))
      .toDF("doc_id", "text", "q", "lang")
    val got = Sampling
      .budgetSelectCardsByStratum(docs, "lang", col("q"), 16L)
      .orderBy("lang")
      .as[(String, Long, Long, Long, Long, Long, Long, Long, Long)]
      .collect().toSeq
    assert(got == Seq(
      ("a", 80L, 3L, 3L, 14L, 6L, 32L, 16L, 875000L),
      ("b", 39L, 8L, 2L, 5L, 2L, 5L, 16L, 312500L),
      ("c", 10L, 8L, 0L, 0L, 1L, 20L, 16L, 0L)),
      s"hand-computed stratified cards drifted: $got")
    // per-stratum budget override (the tokenLedger-planned form):
    // a's budget 100 makes it whole-fit, b/c keep the default
    val planned = Sampling.budgetSelectCardsByStratum(docs, "lang",
        col("q"), 16L, budgets = Map("a" -> 100L))
      .orderBy("lang")
      .as[(String, Long, Long, Long, Long, Long, Long, Long, Long)]
      .collect().toSeq
    assert(planned.head == ("a", 69L, 6L, 6L, 32L, 6L, 32L, 100L,
      320000L) && planned.tail == got.tail,
      s"planned-budget cards drifted: $planned")
    // a null stratum would silently drop out of the probe join —
    // rejected loudly instead
    val exNullS = intercept[IllegalArgumentException] {
      Sampling.budgetSelectCardsByStratum(
        docs.withColumn("lang",
          when(col("doc_id") === 9L, lit(null)).otherwise(col("lang"))),
        "lang", col("q"), 16L)
    }
    assert(exNullS.getMessage.contains("null stratum"))
    // empty corpus: empty card relation, not an NPE
    assert(Sampling.budgetSelectCardsByStratum(
      docs.filter(lit(false)), "lang", col("q"), 16L).count() == 0L)
    graft.ops.Reuse.freeAll(spark)
    // the strong law on the real corpus: every stratum's card equals
    // running the SINGLE-stratum operator on that stratum alone
    val real = graft.ingest.Tables.documents(spark, sf("sf0.001"))
    def scored(d: org.apache.spark.sql.DataFrame) =
      graft.ops.TextOps.quality(d).withColumn("score_ppm", expr(
        "least(n_words * 10000, 1000000) DIV 2" +
          " + (n_stop * 1000000 DIV n_words) DIV 2"))
    val cards = Sampling.budgetSelectCardsByStratum(scored(real),
        "lang", col("score_ppm"), 3000L)
      .as[(String, Long, Long, Long, Long, Long, Long, Long, Long)]
      .collect().toSeq.sortBy(_._1)
    graft.ops.Reuse.freeAll(spark)
    assert(cards.size > 1, "real corpus should carry several langs")
    cards.foreach { c =>
      val solo = Sampling.budgetSelectCard(
          scored(real.filter(col("lang") === c._1)),
          col("score_ppm"), 3000L)
        .as[(Long, Long, Long, Long, Long, Long, Long, Long)]
        .collect().head
      graft.ops.Reuse.freeAll(spark)
      assert((c._2, c._3, c._4, c._5, c._6, c._7, c._8, c._9) == solo,
        s"stratified card for ${c._1} != single-stratum run: " +
          s"$c vs $solo")
    }
  }

  test("stratified serve guards (r17): cross-stratum re-ingest " +
      "rejected, versioned keep-latest fold == batch over newest " +
      "crawls, unmatched budgets keys rejected, null stored values " +
      "rejected") {
    import spark.implicits._
    import graft.ops.Sampling
    def words(n: Int) = Seq.fill(n)("w").mkString(" ")
    val docs = Seq(
      (1L, words(5), 90L, "a"), (2L, words(5), 90L, "a"),
      (3L, words(4), 80L, "a"), (7L, words(3), 50L, "b"),
      (8L, words(2), 40L, "b"))
      .toDF("doc_id", "text", "q", "lang")
    val parts = Sampling.budgetSelectStratumPartials(
      docs, col("lang"), col("q"))
    // a doc re-ingested under a DIFFERENT stratum (a langid re-run
    // reclassification) passes the (_s, _id) uniqueness check yet
    // would be counted — and potentially selected — in BOTH strata's
    // cards (r16 verdict item 1): rejected loudly, class named
    val reclass = parts.unionByName(
      Seq(("b", 3L, 80L, 4L)).toDF("_s", "_id", "_score", "_toks"))
    val exCross = intercept[IllegalArgumentException] {
      Sampling.budgetSelectCardsByStratumFromCounts(reclass, "lang", 16L)
    }
    assert(exCross.getMessage.contains("more than one stratum"),
      s"cross-stratum guard drifted: ${exCross.getMessage}")
    graft.ops.Reuse.freeAll(spark)
    // the keep-latest rule that guard demands, shipped: v1 re-crawls
    // doc 3 from stratum a INTO stratum b (new score/toks); the
    // versioned fold == the batch operator over each doc's newest
    // crawl — the reclassified doc counts ONLY in its new stratum
    val versioned = parts.withColumn("_ver", lit(0L)).unionByName(
      Seq(("b", 3L, 45L, 6L)).toDF("_s", "_id", "_score", "_toks")
        .withColumn("_ver", lit(1L)))
    val served = Sampling.budgetSelectCardsByStratumFromVersioned(
      versioned, "lang", 16L)
    val newest = docs.filter(col("doc_id") =!= 3L).unionByName(
      Seq((3L, words(6), 45L, "b")).toDF("doc_id", "text", "q", "lang"))
    val batch = Sampling.budgetSelectCardsByStratum(newest, "lang",
      col("q"), 16L)
    assert(batch.count() == 2)
    assert(served.except(batch).isEmpty && batch.except(served).isEmpty,
      s"versioned stratified fold != batch over newest crawls " +
        s"(${served.collect().toSeq} vs ${batch.collect().toSeq})")
    graft.ops.Reuse.freeAll(spark)
    // a `budgets` key matching no observed stratum is a misspelled
    // plan entry, not a silent fall-back to the default (r16 verdict
    // item 3) — rejected with the key named
    val exKey = intercept[IllegalArgumentException] {
      Sampling.budgetSelectCardsByStratum(docs, "lang", col("q"), 16L,
        budgets = Map("a" -> 100L, "zz" -> 5L))
    }
    assert(exKey.getMessage.contains("zz"),
      s"unmatched-budgets-key guard drifted: ${exKey.getMessage}")
    // the two-level cap overrides ride the same envelope — same guard
    val exKey2 = intercept[IllegalArgumentException] {
      Sampling.twoLevelBudgetCard(docs, "lang", col("q"), 16L, 20L,
        budgets = Map("en-US" -> 5L))
    }
    assert(exKey2.getMessage.contains("en-US"))
    graft.ops.Reuse.freeAll(spark)
    // externally stored partials with a null _score/_toks would count
    // in the totals yet never be selectable (r17 ADVICE) — refused
    // with the value class named, on every serve path
    import org.apache.spark.sql.types.{LongType, StringType,
      StructField, StructType}
    val sSchema = StructType(Seq(StructField("_s", StringType),
      StructField("_id", LongType), StructField("_score", LongType),
      StructField("_toks", LongType)))
    val nullVal = parts.unionByName(spark.createDataFrame(
      java.util.Arrays.asList(
        org.apache.spark.sql.Row("c", 99L, null, 7L)), sSchema))
    val exNullV = intercept[IllegalArgumentException] {
      Sampling.budgetSelectCardsByStratumFromCounts(nullVal, "lang", 16L)
    }
    assert(exNullV.getMessage.contains("null _score or _toks"),
      s"stratified null-value guard drifted: ${exNullV.getMessage}")
    graft.ops.Reuse.freeAll(spark)
    val gSchema = StructType(Seq(StructField("_id", LongType),
      StructField("_score", LongType), StructField("_toks", LongType)))
    val exNullG = intercept[IllegalArgumentException] {
      Sampling.budgetSelectCardFromCounts(spark.createDataFrame(
        java.util.Arrays.asList(
          org.apache.spark.sql.Row(1L, 10L, 5L),
          org.apache.spark.sql.Row(2L, 9L, null)), gSchema), 16L)
    }
    assert(exNullG.getMessage.contains("null _score or _toks"),
      s"global null-value guard drifted: ${exNullG.getMessage}")
    val exNullVer = intercept[IllegalArgumentException] {
      Sampling.budgetSelectCardFromVersioned(spark.createDataFrame(
        java.util.Arrays.asList(
          org.apache.spark.sql.Row(1L, 10L, 5L),
          org.apache.spark.sql.Row(2L, null, 4L)), gSchema)
        .withColumn("_ver", lit(0L)), 16L)
    }
    assert(exNullVer.getMessage.contains("null _score or _toks"),
      s"versioned null-value guard drifted: ${exNullVer.getMessage}")
    graft.ops.Reuse.freeAll(spark)
  }

  test("two-level serve (r17): duplicate ids rejected CAP-" +
      "INDEPENDENTLY, FromCounts == the direct operator, versioned " +
      "keep-latest two-level fold, caps-admit-nothing via the " +
      "stored fold") {
    import spark.implicits._
    import graft.ops.Sampling
    def words(n: Int) = Seq.fill(n)("w").mkString(" ")
    val docs = Seq(
      (1L, words(5), 90L, "a"), (2L, words(5), 90L, "a"),
      (3L, words(4), 80L, "a"), (4L, words(4), 80L, "a"),
      (5L, words(4), 80L, "a"), (6L, words(10), 70L, "a"),
      (7L, words(3), 50L, "b"), (8L, words(2), 40L, "b"),
      (9L, words(20), 10L, "c"))
      .toDF("doc_id", "text", "q", "lang")
    // a duplicate id whose SECOND copy is capped out: the r16
    // survivor-scoped guard passed at tight caps and threw at loose
    // ones (cap-DEPENDENT contract — r16 verdict item 2); the guard
    // now rides the full-relation totals aggregate and raises
    // identically at ANY cap setting
    val dup = docs.unionByName(Seq((1L, words(2), 5L, "c"))
      .toDF("doc_id", "text", "q", "lang"))
    Seq(4L, 1000L).foreach { cap =>
      val ex = intercept[IllegalArgumentException] {
        Sampling.twoLevelBudgetCard(dup, "lang", col("q"), cap, 20L)
      }
      assert(ex.getMessage.contains("GLOBALLY unique"),
        s"cap=$cap: duplicate-id guard drifted: ${ex.getMessage}")
      graft.ops.Reuse.freeAll(spark)
    }
    // the stored-fold serve path == the direct operator over the
    // SAME stratified partials that serve the ext173 cards — one
    // sink, every card, two-level included (r16 verdict item 4)
    val parts = Sampling.budgetSelectStratumPartials(
      docs, col("lang"), col("q"))
    Seq(20L, 12L).foreach { g =>
      val stored = Sampling.twoLevelBudgetCardFromCounts(parts, 16L, g)
      val direct = Sampling.twoLevelBudgetCard(docs, "lang", col("q"),
        16L, g)
      assert(stored.except(direct).isEmpty &&
        direct.except(stored).isEmpty,
        s"global=$g: stored-fold two-level card != direct " +
          s"(${stored.collect().toSeq} vs ${direct.collect().toSeq})")
      graft.ops.Reuse.freeAll(spark)
    }
    // versioned keep-latest under the two-level cut: doc 9 re-crawled
    // from stratum c into b — the fold == the direct operator over
    // newest-crawl docs
    val versioned = parts.withColumn("_ver", lit(0L)).unionByName(
      Seq(("b", 9L, 45L, 2L)).toDF("_s", "_id", "_score", "_toks")
        .withColumn("_ver", lit(1L)))
    val servedV = Sampling.twoLevelBudgetCardFromVersioned(
      versioned, 16L, 12L)
    val newest = docs.filter(col("doc_id") =!= 9L).unionByName(
      Seq((9L, words(2), 45L, "b")).toDF("doc_id", "text", "q", "lang"))
    val batchV = Sampling.twoLevelBudgetCard(newest, "lang", col("q"),
      16L, 12L)
    assert(servedV.except(batchV).isEmpty &&
      batchV.except(servedV).isEmpty,
      s"versioned two-level fold != batch over newest crawls " +
        s"(${servedV.collect().toSeq} vs ${batchV.collect().toSeq})")
    graft.ops.Reuse.freeAll(spark)
    // caps-admit-nothing through the STORED fold keeps the direct
    // path's shape: one row, null threshold/boundary, cap telemetry
    val noneRows = Sampling.twoLevelBudgetCardFromCounts(parts, 1L, 20L)
      .collect()
    assert(noneRows.length == 1 && noneRows.head.isNullAt(0) &&
      noneRows.head.getLong(6) == 9L && noneRows.head.getLong(7) == 57L,
      s"stored-fold nothing-survives card drifted: ${noneRows.toSeq}")
    graft.ops.Reuse.freeAll(spark)
  }

  test("stratified fill curves: every (stratum, budget) row == the " +
      "single-stratum single-budget card (hand + real corpus), the " +
      "shared-budget rung == the ext173 cards, FromCounts == direct, " +
      "contracts (ext176)") {
    import spark.implicits._
    import graft.ops.Sampling
    def words(n: Int) = Seq.fill(n)("w").mkString(" ")
    val docs = Seq(
      (1L, words(5), 90L, "a"), (2L, words(5), 90L, "a"),
      (3L, words(4), 80L, "a"), (4L, words(4), 80L, "a"),
      (5L, words(4), 80L, "a"), (6L, words(10), 70L, "a"),
      (7L, words(3), 50L, "b"), (8L, words(2), 40L, "b"),
      (9L, words(20), 10L, "c"))
      .toDF("doc_id", "text", "q", "lang")
    val rungs = Seq(3L, 16L, 100L)
    val curve = Sampling.budgetFillCurveByStratum(docs, "lang",
        col("q"), rungs)
      .as[(String, Long, Long, Long, Long, Long, Long, Long, Long)]
      .collect().toSeq
    // 3 strata × 3 budgets, ordered (stratum, budget)
    assert(curve.map(r => (r._1, r._2)) ==
      (for (s <- Seq("a", "b", "c"); b <- rungs) yield (s, b)),
      s"curve rows not (stratum, budget)-ordered: ${curve.map(r => (r._1, r._2))}")
    graft.ops.Reuse.freeAll(spark)
    // the strong law: every row == budgetSelectCard on that stratum
    // alone at that budget (covers tight/partial/whole-fit per
    // stratum)
    curve.foreach { r =>
      val solo = Sampling.budgetSelectCard(
          docs.filter(col("lang") === r._1), col("q"), r._2)
        .as[(Long, Long, Long, Long, Long, Long, Long, Long)]
        .collect().head
      graft.ops.Reuse.freeAll(spark)
      assert((r._3, r._4, r._5, r._6, r._7, r._8, r._2, r._9) == solo,
        s"curve row (${r._1}, ${r._2}) != single card: $r vs $solo")
    }
    // the stored-fold serve == direct over the same partials (the
    // one-sink-every-card claim extends to the curves)
    val parts = Sampling.budgetSelectStratumPartials(
      docs, col("lang"), col("q"))
    val stored = Sampling.budgetFillCurveByStratumFromCounts(
      parts, "lang", rungs)
    val direct = Sampling.budgetFillCurveByStratum(docs, "lang",
      col("q"), rungs)
    assert(stored.except(direct).isEmpty &&
      direct.except(stored).isEmpty,
      s"stored-fold curve != direct (${stored.collect().toSeq} vs " +
        s"${direct.collect().toSeq})")
    graft.ops.Reuse.freeAll(spark)
    // contracts: distinct budgets, empty corpus => empty frame
    intercept[IllegalArgumentException] {
      Sampling.budgetFillCurveByStratum(docs, "lang", col("q"),
        Seq(16L, 16L))
    }
    assert(Sampling.budgetFillCurveByStratum(docs.filter(lit(false)),
      "lang", col("q"), Seq(16L)).count() == 0L)
    graft.ops.Reuse.freeAll(spark)
    // real corpus: the shared-budget rung must equal ext173's cards
    // exactly (cross-operator consistency), and fill mass is monotone
    // in budget within every stratum
    val real = graft.ingest.Tables.documents(spark, sf("sf0.001"))
    def scored(d: org.apache.spark.sql.DataFrame) =
      graft.ops.TextOps.quality(d).withColumn("score_ppm", expr(
        "least(n_words * 10000, 1000000) DIV 2" +
          " + (n_stop * 1000000 DIV n_words) DIV 2"))
    val rc = Sampling.budgetFillCurveByStratum(scored(real), "lang",
        col("score_ppm"), Seq(800L, 3000L, 99999L))
      .as[(String, Long, Long, Long, Long, Long, Long, Long, Long)]
      .collect().toSeq
    graft.ops.Reuse.freeAll(spark)
    rc.groupBy(_._1).foreach { case (s, rows) =>
      val byB = rows.sortBy(_._2)
      assert(byB.map(_._6) == byB.map(_._6).sorted,
        s"tokens_selected not monotone in budget for $s: $byB")
      assert(byB.last._6 == byB.last._8,
        s"oversized rung did not admit all of $s: ${byB.last}")
    }
    val rungAligned = rc.filter(_._2 == 3000L)
      .map(r => (r._1, r._3, r._4, r._5, r._6, r._7, r._8, r._2, r._9))
    val cards = Sampling.budgetSelectCardsByStratum(scored(real),
        "lang", col("score_ppm"), 3000L)
      .as[(String, Long, Long, Long, Long, Long, Long, Long, Long)]
      .collect().toSeq
    graft.ops.Reuse.freeAll(spark)
    assert(rungAligned.sortBy(_._1) == cards.sortBy(_._1),
      s"3000-token curve rung != ext173 cards: $rungAligned vs $cards")
  }

  test("two-level cap sweep: every cap rung == the two-level card at " +
      "that cap (hand + real corpus, incl. the empty-survivor rung), " +
      "FromCounts == direct, contracts (ext177)") {
    import graft.ops.Sampling
    import spark.implicits._
    def words(n: Int) = Seq.fill(n)("w").mkString(" ")
    val docs = Seq(
      (1L, words(5), 90L, "a"), (2L, words(5), 90L, "a"),
      (3L, words(4), 80L, "a"), (4L, words(4), 80L, "a"),
      (5L, words(4), 80L, "a"), (6L, words(10), 70L, "a"),
      (7L, words(3), 50L, "b"), (8L, words(2), 40L, "b"),
      (9L, words(20), 10L, "c"))
      .toDF("doc_id", "text", "q", "lang")
    // a sweep row is the ext175 card with cap_tokens LEADING — align
    // by reordering the card's columns
    def cardAsSweep(r: org.apache.spark.sql.Row): Seq[Any] =
      Seq(r.get(8), r.get(0), r.get(1), r.get(2), r.get(3), r.get(4),
        r.get(5), r.get(6), r.get(7), r.get(9), r.get(10))
    def sweepRow(r: org.apache.spark.sql.Row): Seq[Any] =
      (0 until 11).map(r.get)
    // caps spanning nothing-survives (1), partial (16), everything-
    // survives (100) against a global budget that still cuts
    val caps = Seq(1L, 16L, 100L)
    val sweep = Sampling.twoLevelCapSweep(docs, "lang", col("q"),
      caps, 12L).collect().toSeq.map(sweepRow)
    graft.ops.Reuse.freeAll(spark)
    val solo = caps.sorted.map { c =>
      val r = Sampling.twoLevelBudgetCard(docs, "lang", col("q"),
        c, 12L).collect().head
      graft.ops.Reuse.freeAll(spark)
      cardAsSweep(r)
    }
    assert(sweep == solo,
      s"sweep rungs != per-cap two-level cards: $sweep vs $solo")
    // the stored-fold serve == direct (one sink, every card)
    val parts = Sampling.budgetSelectStratumPartials(
      docs, col("lang"), col("q"))
    val stored = Sampling.twoLevelCapSweepFromCounts(parts, caps, 12L)
      .collect().toSeq.map(sweepRow)
    graft.ops.Reuse.freeAll(spark)
    assert(stored == sweep,
      s"stored-fold sweep != direct: $stored vs $sweep")
    // contracts: distinct caps, positive budget, empty corpus
    intercept[IllegalArgumentException] {
      Sampling.twoLevelCapSweep(docs, "lang", col("q"),
        Seq(16L, 16L), 12L)
    }
    intercept[IllegalArgumentException] {
      Sampling.twoLevelCapSweep(docs, "lang", col("q"), Seq(16L), 0L)
    }
    assert(Sampling.twoLevelCapSweep(docs.filter(lit(false)), "lang",
      col("q"), Seq(16L), 12L).count() == 0L)
    // duplicate ids raise cap-independently (the ext175 contract
    // shared through the same totals-aggregate guard)
    val exDup = intercept[IllegalArgumentException] {
      Sampling.twoLevelCapSweep(
        docs.unionByName(Seq((1L, words(2), 5L, "c"))
          .toDF("doc_id", "text", "q", "lang")),
        "lang", col("q"), Seq(4L, 1000L), 12L)
    }
    assert(exDup.getMessage.contains("GLOBALLY unique"))
    graft.ops.Reuse.freeAll(spark)
    // real corpus: every rung == the two-level card at that cap
    val real = graft.ingest.Tables.documents(spark, sf("sf0.001"))
    def scored(d: org.apache.spark.sql.DataFrame) =
      graft.ops.TextOps.quality(d).withColumn("score_ppm", expr(
        "least(n_words * 10000, 1000000) DIV 2" +
          " + (n_stop * 1000000 DIV n_words) DIV 2"))
    val realCaps = Seq(800L, 1500L, 20000L)
    val realSweep = Sampling.twoLevelCapSweep(scored(real), "lang",
      col("score_ppm"), realCaps, 4000L).collect().toSeq.map(sweepRow)
    graft.ops.Reuse.freeAll(spark)
    val realSolo = realCaps.sorted.map { c =>
      val r = Sampling.twoLevelBudgetCard(scored(real), "lang",
        col("score_ppm"), c, 4000L).collect().head
      graft.ops.Reuse.freeAll(spark)
      cardAsSweep(r)
    }
    assert(realSweep == realSolo,
      s"real-corpus sweep != per-cap cards: $realSweep vs $realSolo")
    // the sweep is non-trivial: survivor mass strictly grows with the
    // cap and at least one rung's global cut rejects survivors
    val survs = realSweep.map(_(6).asInstanceOf[Long])
    assert(survs == survs.sorted && survs.distinct.size > 1,
      s"survivor masses not increasing across caps: $survs")
    assert(realSweep.exists(r => r(4).asInstanceOf[Long] <
      r(6).asInstanceOf[Long]),
      s"no rung shows the global budget cutting survivors: $realSweep")
  }

  // Null handling here exercises corpusDiff's DOCUMENTED audit
  // contract (see the operator's scaladoc): null text folds to
  // 0 tokens / null md5 (two null sides compare unchanged via <=>),
  // and a null stratum is a reportable bucket — BY DESIGN the
  // opposite of the budget-cut family, which refuses null text
  // (a cut must not select what it cannot weigh) and null strata
  // (their probe JOIN would silently drop the key).
  test("corpus diff: hand-computed add/remove/change/move/unchanged " +
      "classes with side-attributed token masses, null texts fold to " +
      "unchanged, duplicate ids rejected (ext178)") {
    import spark.implicits._
    import graft.ops.Sampling
    val oldSnap = Seq(
      (1L, "a b", "en"),          // unchanged
      (2L, "c d e", "en"),        // changed (text differs in new)
      (3L, "f", "en"),            // moved en -> de (same text)
      (4L, "g h", "de"),          // removed
      (6L, null.asInstanceOf[String], "en")) // null text both sides
      .toDF("doc_id", "text", "lang")
    val newSnap = Seq(
      (1L, "a b", "en"),
      (2L, "c d e x", "en"),
      (3L, "f", "de"),
      (5L, "i j k", "de"),        // added
      (6L, null.asInstanceOf[String], "en"))
      .toDF("doc_id", "text", "lang")
    val got = Sampling.corpusDiff(oldSnap, newSnap, "lang")
      .orderBy("lang")
      .as[(String, Long, Long, Long, Long, Long, Long, Long, Long,
        Long)].collect().toSeq
    // en: changed=doc2, moved_out=doc3, unchanged=doc1+doc6(null==null,
    // 0 tokens); tokens_new = 2+4+0, tokens_old = 2+3+1+0.
    // de: added=doc5, removed=doc4, moved_in=doc3;
    // tokens_new = 1+3, tokens_old = 2 — the moved doc's token LEFT
    // en's ledger and ARRIVED in de's (side attribution, no
    // misattribution)
    assert(got == Seq(
      ("de", 1L, 1L, 0L, 1L, 0L, 0L, 4L, 2L, 2L),
      ("en", 0L, 0L, 1L, 0L, 1L, 2L, 6L, 6L, 0L)),
      s"hand-computed diff card drifted: $got")
    graft.ops.Reuse.freeAll(spark)
    // duplicate ids within one snapshot would fan the id join and
    // double-count silently — rejected loudly, side named
    val exDup = intercept[IllegalArgumentException] {
      Sampling.corpusDiff(oldSnap,
        newSnap.unionByName(Seq((5L, "again", "de"))
          .toDF("doc_id", "text", "lang")), "lang")
    }
    assert(exDup.getMessage.contains("duplicate ids") &&
      exDup.getMessage.contains("new"),
      s"duplicate-id diagnosis drifted: ${exDup.getMessage}")
    graft.ops.Reuse.freeAll(spark)
    // identical snapshots: everything unchanged, zero deltas
    val same = Sampling.corpusDiff(newSnap, newSnap, "lang")
      .orderBy("lang")
      .as[(String, Long, Long, Long, Long, Long, Long, Long, Long,
        Long)].collect().toSeq
    assert(same.forall(r => r._2 == 0 && r._3 == 0 && r._4 == 0 &&
      r._5 == 0 && r._6 == 0 && r._10 == 0) &&
      same.map(_._7).sum == 5,
      s"self-diff not all-unchanged: $same")
    graft.ops.Reuse.freeAll(spark)
    // a null STRATUM is a reportable audit bucket (documented
    // contract): a doc moving null -> "en" counts moved_out of the
    // null-keyed row and moved_in to en's
    val oldNull = Seq((10L, "p q", null.asInstanceOf[String]))
      .toDF("doc_id", "text", "lang")
    val newNull = Seq((10L, "p q", "en"))
      .toDF("doc_id", "text", "lang")
    val nullDiff = Sampling.corpusDiff(oldNull, newNull, "lang")
      .collect().map(r => Option(r.getString(0)) ->
        (r.getLong(4), r.getLong(5), r.getLong(7), r.getLong(8)))
      .toMap
    assert(nullDiff == Map(
      Some("en") -> ((1L, 0L, 2L, 0L)),
      None -> ((0L, 1L, 0L, 2L))),
      s"null-stratum bucket drifted: $nullDiff")
    graft.ops.Reuse.freeAll(spark)
  }

  test("versioned planning serves (r18): fill-curve and cap-sweep " +
      "keep-latest folds == batch over newest crawls; versioned " +
      "corpus diff == direct diff on materialized snapshots, " +
      "backward diff is the exact transpose") {
    import spark.implicits._
    import graft.ops.Sampling
    def words(n: Int) = Seq.fill(n)("w").mkString(" ")
    val docs = Seq(
      (1L, words(5), 90L, "a"), (2L, words(5), 90L, "a"),
      (3L, words(4), 80L, "a"), (7L, words(3), 50L, "b"),
      (8L, words(2), 40L, "b"))
      .toDF("doc_id", "text", "q", "lang")
    val parts = Sampling.budgetSelectStratumPartials(
      docs, col("lang"), col("q"))
    // v1 re-crawls doc 3 from stratum a INTO stratum b — the exact
    // reclassification whose refusal on the unversioned planning
    // serves used to point at a FromVersioned path that did not
    // exist for these two callers (r17 verdict item 1)
    val versioned = parts.withColumn("_ver", lit(0L)).unionByName(
      Seq(("b", 3L, 45L, 6L)).toDF("_s", "_id", "_score", "_toks")
        .withColumn("_ver", lit(1L)))
    val exCurve = intercept[IllegalArgumentException] {
      Sampling.budgetFillCurveByStratumFromCounts(
        versioned.drop("_ver"), "lang", Seq(8L, 16L))
    }
    assert(exCurve.getMessage.contains("more than one stratum") &&
      exCurve.getMessage.contains("budgetFillCurveByStratumFromCounts"),
      s"curve refusal drifted: ${exCurve.getMessage}")
    val newest = docs.filter(col("doc_id") =!= 3L).unionByName(
      Seq((3L, words(6), 45L, "b")).toDF("doc_id", "text", "q", "lang"))
    val curveV = Sampling.budgetFillCurveByStratumFromVersioned(
      versioned, "lang", Seq(8L, 16L))
    val curveB = Sampling.budgetFillCurveByStratum(newest, "lang",
      col("q"), Seq(8L, 16L))
    assert(curveB.count() == 4)
    assert(curveV.except(curveB).isEmpty &&
      curveB.except(curveV).isEmpty,
      s"versioned fill curves != batch over newest crawls " +
        s"(${curveV.collect().toSeq} vs ${curveB.collect().toSeq})")
    graft.ops.Reuse.freeAll(spark)
    // non-vacuous: the reclassification moved curve mass
    val curve0 = Sampling.budgetFillCurveByStratum(docs, "lang",
      col("q"), Seq(8L, 16L))
    assert(Sampling.budgetFillCurveByStratumFromVersioned(versioned,
      "lang", Seq(8L, 16L)).except(curve0).count() > 0,
      "re-ingest under a new stratum did not change any curve row")
    graft.ops.Reuse.freeAll(spark)
    val sweepV = Sampling.twoLevelCapSweepFromVersioned(
      versioned, Seq(8L, 12L), 20L)
    val sweepB = Sampling.twoLevelCapSweep(newest, "lang", col("q"),
      Seq(8L, 12L), 20L)
    assert(sweepB.count() == 2)
    assert(sweepV.except(sweepB).isEmpty &&
      sweepB.except(sweepV).isEmpty,
      s"versioned cap sweep != batch over newest crawls " +
        s"(${sweepV.collect().toSeq} vs ${sweepB.collect().toSeq})")
    graft.ops.Reuse.freeAll(spark)
    // versioned corpus diff: v1 also changes doc 2 in place and adds
    // doc 9, so the forward diff exercises added / changed / moved /
    // unchanged; an append-only version log cannot REMOVE a doc, so
    // `removed` is exercised through the BACKWARD diff (rollback
    // audit), which must be the exact transpose
    val versioned2 = versioned.unionByName(
      Seq(("a", 2L, 91L, 5L), ("a", 9L, 70L, 7L))
        .toDF("_s", "_id", "_score", "_toks")
        .withColumn("_ver", lit(1L)))
    val fwd = Sampling.corpusDiffFromVersioned(versioned2, 0L, 1L,
      "lang").orderBy("lang")
      .as[(String, Long, Long, Long, Long, Long, Long, Long, Long,
        Long)].collect().toSeq
    assert(fwd == Seq(
      ("a", 1L, 0L, 1L, 0L, 1L, 1L, 17L, 14L, 3L),
      ("b", 0L, 0L, 0L, 1L, 0L, 2L, 11L, 5L, 6L)),
      s"forward versioned diff drifted: $fwd")
    graft.ops.Reuse.freeAll(spark)
    // == the direct operator over MATERIALIZED snapshots whose text
    // encodes the same (score, toks) content fingerprint
    def mat(rows: Seq[(String, Long, Long, Long)]) =
      rows.map { case (s, id, sc, tk) =>
        (id, s"s$sc " + words(tk.toInt - 1), s) }
        .toDF("doc_id", "text", "lang")
    val snapA = mat(Seq(("a", 1L, 90L, 5L), ("a", 2L, 90L, 5L),
      ("a", 3L, 80L, 4L), ("b", 7L, 50L, 3L), ("b", 8L, 40L, 2L)))
    val snapB = mat(Seq(("a", 1L, 90L, 5L), ("a", 2L, 91L, 5L),
      ("b", 3L, 45L, 6L), ("b", 7L, 50L, 3L), ("b", 8L, 40L, 2L),
      ("a", 9L, 70L, 7L)))
    val direct = Sampling.corpusDiff(snapA, snapB, "lang")
      .orderBy("lang")
      .as[(String, Long, Long, Long, Long, Long, Long, Long, Long,
        Long)].collect().toSeq
    assert(direct == fwd,
      s"versioned diff != direct diff on materialized snapshots: " +
        s"$direct vs $fwd")
    graft.ops.Reuse.freeAll(spark)
    val bwd = Sampling.corpusDiffFromVersioned(versioned2, 1L, 0L,
      "lang").orderBy("lang")
      .as[(String, Long, Long, Long, Long, Long, Long, Long, Long,
        Long)].collect().toSeq
    val transposed = fwd.map(r => (r._1, r._3, r._2, r._4, r._6, r._5,
      r._7, r._9, r._8, -r._10))
    assert(bwd == transposed && bwd.exists(_._3 > 0),
      s"backward versioned diff is not the transpose: $bwd vs " +
        s"$transposed")
    graft.ops.Reuse.freeAll(spark)
  }

  test("signal correlations: exact ±1 on constructed columns, 0 under " +
      "the zero-variance guard (ext115)") {
    import spark.implicits._
    // x=(1,2,3), y=2x → +1 exactly (all moments integer, sqrt(144)=12);
    // z=-x+10 → −1 exactly; c constant → guard fires.
    val df = Seq((1L, 2L, 9L, 5L), (2L, 4L, 8L, 5L), (3L, 6L, 7L, 5L))
      .toDF("x", "y", "z", "c")
    val got = graft.ops.Reporting.signalCorrelations(df, Seq(
      "x" -> col("x"), "y" -> col("y"), "z" -> col("z"), "c" -> col("c")))
      .as[(String, String, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._4).toMap
    assert(got(("x", "y")) == 1000000L)
    assert(got(("x", "z")) == -1000000L)
    assert(got(("y", "z")) == -1000000L)
    assert(got(("x", "c")) == 0L && got(("y", "c")) == 0L &&
      got(("z", "c")) == 0L)
  }

  test("signal correlations survive ppm-scale moments past int64: " +
      "5000 rows of ~1e6 values (n·q ≈ 2.5e19) compute exactly — the " +
      "sf0.1 ANSI-overflow regression (ext115)") {
    import spark.implicits._
    // q = Σv² ≈ 5000·1e12 = 5e15; the finish's n·q ≈ 2.5e19 left int64
    // and ANSI aborted the bench at sf0.1 while the sf0.01 gate stayed
    // green. decimal(38,0) moments + finish must give the exact ±1e6.
    val df = spark.range(5000).select(
      (col("id") + 1000000L).as("v"),
      (lit(3000000L) - col("id")).as("w"))
    val got = graft.ops.Reporting.signalCorrelations(df, Seq(
      "v" -> col("v"), "w" -> col("w")))
      .as[(String, String, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._4).toMap
    assert(got(("v", "w")) == -1000000L,
      s"perfectly anti-correlated ppm signals drifted: $got")
  }

  test("signal correlations guards: '__' in a signal name is rejected; " +
      "empty input yields all C(k,2) pair rows at n=0 (r8 ADVICE)") {
    import spark.implicits._
    val df = Seq((1L, 2L), (2L, 4L)).toDF("x", "y")
    intercept[IllegalArgumentException] {
      graft.ops.Reporting.signalMoments(df, Seq(
        "a__b" -> col("x"), "y" -> col("y")))
    }
    // leading/trailing single '_' is equally ambiguous once adjacent
    // to the separator: 'a_' + 'b' encodes as x_a___b which re-parses
    // as ('a', '_b') (r9 ADVICE)
    intercept[IllegalArgumentException] {
      graft.ops.Reporting.signalMoments(df, Seq(
        "a_" -> col("x"), "b" -> col("y")))
    }
    intercept[IllegalArgumentException] {
      graft.ops.Reporting.signalMoments(df, Seq(
        "a" -> col("x"), "_b" -> col("y")))
    }
    // empty stream: the pair list is schema-derived, so the fold still
    // emits every pair — n = 0, corr 0 via the zero-variance guard
    val moments = graft.ops.Reporting.signalMoments(df, Seq(
      "x" -> col("x"), "y" -> col("y")))
    val empty = graft.ops.Reporting.correlationsFromMoments(
      moments.limit(0))
      .as[(String, String, Long, Long)].collect().toSeq
    assert(empty == Seq(("x", "y", 0L, 0L)))
  }

  test("sampling: cap audit card prices exactly what stratifiedTopK " +
      "would keep (ext103)") {
    import spark.implicits._
    // stratum a: 5 docs of 10 tokens; stratum b: 2 docs of 7 tokens
    val mk = (id: Long, st: String, n: Int) =>
      (id, st, (1 to n).map(i => s"t$i").mkString(" "))
    val df = (Seq.tabulate(5)(i => mk(i.toLong, "a", 10)) ++
      Seq(mk(100L, "b", 7), mk(101L, "b", 7))).toDF("doc_id", "st", "text")
    val toks = size(split(col("text"), " ")).cast("long")
    val got = Sampling.capAudit(df, Seq("st"), col("doc_id"), toks, 3)
      .orderBy("st")
      .as[(String, Long, Long, Long, Long, Long, Long)].collect().toSeq
    // a: keeps 3 of 5 (30 of 50 tokens → 400000 ppm dropped);
    // b: under cap, nothing dropped.
    assert(got == Seq(
      ("a", 5L, 50L, 3L, 30L, 2L, 400000L),
      ("b", 2L, 14L, 2L, 14L, 0L, 0L)))
    // the kept token mass is EXACTLY the stratifiedTopK selection's
    val sel = Sampling.stratifiedTopK(df.withColumn("_t", toks),
        Seq("st"), col("doc_id"), 3)
      .groupBy("st").agg(sum("_t")).as[(String, Long)].collect().toMap
    assert(got.map(r => r._1 -> r._5).toMap == sel)
    // cap < 1 would silently drop every stratum from the card — the
    // inner join's precondition is enforced instead (r8 ADVICE)
    intercept[IllegalArgumentException] {
      Sampling.capAudit(df, Seq("st"), col("doc_id"), toks, 0)
    }
  }

  test("anneal ledger: one counts pass plans both phases; the sqrt " +
      "temperature upweights the small stratum in the anneal; epoch " +
      "pressure surfaces (ext121)") {
    import spark.implicits._
    // a: 100 docs x 2 tokens; b: 1 doc x 5 tokens
    val df = ((1 to 100).map(i => (i.toLong, "a", "t1 t2")) :+
      (999L, "b", "x1 x2 x3 x4 x5")).toDF("doc_id", "source", "text")
    val got = Sampling.annealLedger(df, 10000L, annealPpm = 200000L)
      .as[(String, String, Long, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._5, r._6, r._7))).toMap
    // bulk (8000 tokens, alpha=1): shares 100/101 and 1/101
    assert(got(("bulk", "a")) == ((990099L, 7920L, 39600000L)))
    assert(got(("bulk", "b")) == ((9900L, 79L, 15800000L)))
    // anneal (2000 tokens, alpha=0.5): q = 1e7 vs 1e6 -> 10:1 not
    // 100:1 — the small stratum's share rises ~9x vs bulk
    assert(got(("anneal", "a")) == ((909090L, 1818L, 9090000L)))
    assert(got(("anneal", "b")) == ((90909L, 181L, 36200000L)))
    // phase budgets are respected (floor rounding never overshoots)
    assert(got(("bulk", "a"))._2 + got(("bulk", "b"))._2 <= 8000L)
    assert(got(("anneal", "a"))._2 + got(("anneal", "b"))._2 <= 2000L)
    // degenerate knobs: annealPpm 0 -> the anneal phase plans nothing
    val none = Sampling.annealLedger(df, 10000L, annealPpm = 0L)
      .filter(col("phase") === "anneal")
      .agg(sum("planned_tokens")).as[Long].head()
    assert(none == 0L)
    intercept[IllegalArgumentException] {
      Sampling.annealLedger(df, 10000L, annealPpm = 2000000L)
    }
    graft.ops.Reuse.freeAll(spark)
  }

  test("sampling: bernoulli near-nominal rate, monotone in the rate") {
    import spark.implicits._
    val ids = spark.range(0, 3000).toDF("id")
    val s100 = Sampling.bernoulli(ids, col("id"), 100)
      .as[Long].collect().toSet
    val s300 = Sampling.bernoulli(ids, col("id"), 300)
      .as[Long].collect().toSet
    assert(math.abs(s100.size / 3000.0 - 0.10) < 0.03)
    assert(s100.subsetOf(s300)) // raising the rate only adds rows
  }

  test("mixing: sqrt-temperature weights exact on known counts (ext44)") {
    import spark.implicits._
    // 400 a-docs, 100 b-docs: q_a = floor(1e6*20) = 20e6, q_b = 10e6,
    // total 30e6 -> weight_a = 666666, weight_b = 333333.
    val df = (0 until 400).map(i => (i.toLong, "a")) ++
      (0 until 100).map(i => (1000L + i, "b"))
    val got = Sampling.mixtureWeights(df.toDF("doc_id", "src"), Seq("src"))
      .orderBy("src").as[(String, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      ("a", 400L, 20000000L, 666666L), ("b", 100L, 10000000L, 333333L)))
  }

  test("mixing: temperature resample favors the small stratum (ext45)") {
    import spark.implicits._
    val df = ((0 until 400).map(i => (i.toLong, "a")) ++
      (0 until 100).map(i => (1000L + i, "b"))).toDF("doc_id", "src")
    val kept = Sampling.temperatureResample(df, col("doc_id"), 250L,
      Seq("src"))
    val bySrc = kept.groupBy("src").count()
      .as[(String, Long)].collect().toMap
    // rates: a = 250*666666/400 div = 416666 (~42%), b = 250*333333/100
    // = 833332 (~83%) — the small stratum keeps a ~2x higher fraction,
    // and the hash draw lands near the expected sizes.
    assert(math.abs(bySrc("a") - 400 * 0.4166) < 40,
      s"a kept ${bySrc("a")}")
    assert(math.abs(bySrc("b") - 100 * 0.8333) < 20,
      s"b kept ${bySrc("b")}")
    // Deterministic under repartitioning.
    val again = Sampling.temperatureResample(df.repartition(7),
      col("doc_id"), 250L, Seq("src"))
    assert(kept.select("doc_id").except(again.select("doc_id")).isEmpty &&
      again.select("doc_id").except(kept.select("doc_id")).isEmpty)
  }

  test("mixing: token ledger plans within budget, epochs flag repeats, " +
      "weights match mixtureWeights (ext62)") {
    import spark.implicits._
    // 400 4-token a-docs (1600 tokens), 100 2-token b-docs (200 tokens);
    // weights as in the ext44 test: a=666666, b=333333.
    val df = ((0 until 400).map(i => (i.toLong, "a", "w x y z")) ++
      (0 until 100).map(i => (1000L + i, "b", "w x")))
      .toDF("doc_id", "src", "text")
    val got = Sampling.tokenLedger(df, 10000L, Seq("src"))
      .orderBy("src")
      .select("src", "n_docs", "n_tokens", "weight_q", "planned_tokens",
        "epochs_q")
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    // planned: a = 10000*666666 div 1e6 = 6666, b = 3333.
    // epochs: a = 6666e6 div 1600 = 4166250 (~4.2 epochs),
    //         b = 3333e6 div 200 = 16665000 (~16.7 epochs).
    assert(got == Seq(
      ("a", 400L, 1600L, 666666L, 6666L, 4166250L),
      ("b", 100L, 200L, 333333L, 3333L, 16665000L)))
    // plan never exceeds the budget; weights sum to <= 1e6 (floor loss)
    assert(got.map(_._5).sum <= 10000L)
    assert(got.map(_._4).sum <= 1000000L)
  }

  test("shard manifest: same draw as shardAssign, counts cover the " +
      "corpus, checksum order/partitioning-independent (ext63)") {
    import spark.implicits._
    val df = (0 until 200)
      .map(i => (i.toLong, s"doc body $i")).toDF("doc_id", "text")
    val manifest = Splits.shardManifest(df, col("doc_id"), 8)
      .as[(Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(manifest.map(_._2).sum == 200L)
    // every doc's manifest shard == its shardAssign shard
    val byAssign = Splits.shardAssign(df, col("doc_id"), 8)
      .groupBy("shard").count().as[(Long, Long)].collect().toMap
    assert(manifest.map(m => m._1 -> m._2).toMap == byAssign)
    // the checksum is a commutative sum: any partitioning, same manifest
    val again = Splits.shardManifest(df.repartition(7).orderBy(rand()),
        col("doc_id"), 8)
      .as[(Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(again == manifest)
    // a content change flips exactly its shard's checksum
    val tweaked = Splits.shardManifest(
        df.withColumn("text", when(col("doc_id") === 0, lit("CHANGED"))
          .otherwise(col("text"))), col("doc_id"), 8)
      .as[(Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(tweaked.count(t => !manifest.contains(t)) == 1)
  }

  test("quantile curation keeps each language's upper half (ext67)") {
    import spark.implicits._
    val d = graft.ingest.Tables.documents(spark, sf("sf0.001"))
    val kept = SparkEntry.queries("ext67_quantile_filter")(
        spark, sf("sf0.001"))
      .groupBy("lang").count().as[(String, Long)].collect().toMap
    val all = d.groupBy("lang").count().as[(String, Long)].collect().toMap
    assert(kept.keySet == all.keySet)
    all.foreach { case (lang, n) =>
      val k = kept(lang)
      // >= ceil(n/2) by the inclusive median cut; < n unless degenerate
      assert(k >= (n + 1) / 2 && k <= n,
        s"$lang kept $k of $n — not an upper-half cut")
    }
    graft.ops.Reuse.freeAll(spark)
  }

  test("data card fields match independent computations (ext66)") {
    import spark.implicits._
    val d = graft.ingest.Tables.documents(spark, sf("sf0.001"))
    val card = SparkEntry.queries("ext66_data_card")(spark, sf("sf0.001"))
      .as[(Long, Long, Long, Long, Long, Long)].collect().head
    val (nd, nt, nl, ns, topShare, dupMass) = card
    assert(nd == d.count())
    assert(nt == d.select(size(split(col("text"), " ")).cast("long"))
      .as[Long].collect().sum)
    assert(nl == d.select("lang").distinct().count())
    assert(ns == d.select("source").distinct().count())
    val maxSrc = d.groupBy("source").count()
      .agg(max("count")).as[Long].head()
    assert(topShare == maxSrc * 1000000L / nd)
    // redundancy term agrees with the ext64 report (same artifact)
    val stats = SparkEntry.queries("ext64_dup_stats")(spark, sf("sf0.001"))
      .as[(Long, Long, Long, Long)].collect().head
    assert(dupMass == stats._4)
    graft.ops.Reuse.freeAll(spark)
  }

  test("dup stats report consistent with the cluster listing (ext64)") {
    import spark.implicits._
    val clusters = SparkEntry.queries("ext27_dedup_clusters")(
        spark, sf("sf0.001"))
      .as[(Long, Long)].collect().toSeq
    val row = SparkEntry.queries("ext64_dup_stats")(spark, sf("sf0.001"))
      .as[(Long, Long, Long, Long)].collect().head
    val (nc, nd, mx, mass) = row
    assert(nc == clusters.map(_._2).distinct.size)
    assert(nd == clusters.size)
    assert(mx == clusters.groupBy(_._2).values.map(_.size).max)
    // removing all-but-one per family == (docs in families - families)
    val total = graft.ingest.Tables.documents(spark, sf("sf0.001")).count()
    assert(mass == (nd - nc) * 1000000L / total)
    graft.ops.Reuse.freeAll(spark)
  }

  test("composition drift: own-side shares, absolute delta, empty-side " +
      "guard (ext82)") {
    import spark.implicits._
    val a = Seq("x", "x", "x", "y").toDF("lang")
    val b = Seq("x", "y", "y", "y", "y", "y").toDF("lang")
    val got = graft.ops.Reporting.compositionDrift(a, b)
      .orderBy("lang")
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      ("x", 3L, 1L, 750000L, 166666L, 583334L),
      ("y", 1L, 5L, 250000L, 833333L, 583333L)))
    graft.ops.Reuse.freeAll(spark)
    // an empty side zeroes its shares instead of dividing by zero
    val empty = Seq.empty[String].toDF("lang")
    val oneSided = graft.ops.Reporting.compositionDrift(a, empty)
      .orderBy("lang")
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    assert(oneSided == Seq(("x", 3L, 0L, 750000L, 0L, 750000L),
      ("y", 1L, 0L, 250000L, 0L, 250000L)))
    graft.ops.Reuse.freeAll(spark)
    // the single-scan By form == the two-frame form on a tagged table
    val merged = a.withColumn("side", lit(0L))
      .union(b.withColumn("side", lit(1L)))
    val byForm = graft.ops.Reporting.compositionDriftBy(merged,
      col("side") === 0L).orderBy("lang")
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    assert(byForm == got)
    graft.ops.Reuse.freeAll(spark)
  }

  test("psi drift: buckets, smoothed shares, octave and contributions " +
      "hand-checked; total row sums; contributions never negative " +
      "(ext150)") {
    import spark.implicits._
    // A (even ids): values 1, 1 -> bucket 0; 8 -> bucket 3.
    // B (odd ids):  value 1 -> bucket 0; 100 -> bucket 6.
    // ta=3 tb=2 |bins|=3. Hand-run (Laplace ppm, truncating ratios):
    //  b0: p=500000 q=400000 ratio 1250000 -> oct 1  -> 100000
    //  b3: p=333333 q=200000 ratio 1666665 -> oct 1  -> 133333
    //  b6: p=166666 q=400000 ratio  416665 -> oct -1 -> 233334
    //  total 466667.
    val df = Seq((0L, 1L), (2L, 1L), (4L, 8L), (1L, 1L), (3L, 100L))
      .toDF("doc_id", "v")
    val got = graft.ops.Reporting.psiDrift(df,
        col("doc_id") % 2 === 0, col("v"))
      .as[(Long, Long, Long, Long, Long, Long, Long)]
      .collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (-1L, 3L, 2L, 1000000L, 1000000L, 0L, 466667L),
      (0L, 2L, 1L, 500000L, 400000L, 1L, 100000L),
      (3L, 1L, 0L, 333333L, 200000L, 1L, 133333L),
      (6L, 0L, 1L, 166666L, 400000L, -1L, 233334L)),
      s"hand-check drifted: $got")
    graft.ops.Reuse.freeAll(spark)
    // sign-alignment law on the real corpus: every contribution >= 0,
    // total equals the per-bin sum
    val real = graft.ingest.Tables.documents(spark, sf("sf0.001"))
    val card = graft.ops.Reporting.psiDrift(real,
        col("doc_id") % 2 === 0, col("n_chars"))
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().toSeq
    val (tot, bins) = card.partition(_._1 == -1L)
    assert(bins.forall(_._7 >= 0L), s"negative contribution: $bins")
    assert(tot.head._7 == bins.map(_._7).sum)
    graft.ops.Reuse.freeAll(spark)
  }

  test("selection quantiles: k-th order statistic hand-checked incl. " +
      "ties and singleton strata; == sort-based replay on the real " +
      "corpus (ext151)") {
    import spark.implicits._
    import graft.ops.Sketches
    // lang a: sorted [1,3,3,5,9] — k50 = ceil(5*50/100) = 3 -> 3 (a
    // TIE value), k90 = ceil(4.5) = 5 -> 9. lang b: singleton -> 7,7.
    val df = Seq(("a", 5L), ("a", 1L), ("a", 3L), ("a", 3L), ("a", 9L),
      ("b", 7L)).toDF("lang", "v")
    val got = Sketches.selectionQuantiles(df, Seq("lang"), col("v"))
      .as[(String, Long, Long)].collect().toSeq.sorted
    assert(got == Seq(("a", 50L, 3L), ("a", 90L, 9L),
      ("b", 50L, 7L), ("b", 90L, 7L)), s"hand-check drifted: $got")
    // the value-count rank form (the streaming twin's serve side) must
    // reproduce the bisection exactly, ties and singletons included
    val viaCounts = Sketches.selectionQuantilesFromCounts(
        Sketches.selectionValueCounts(df, Seq("lang"), col("v")),
        Seq("lang"))
      .as[(String, Long, Long)].collect().toSeq.sorted
    assert(viaCounts == got, s"count-rank form drifted: $viaCounts")
    // a double value is refused typed on BOTH twin sides (r16
    // cast('long') seam sweep) — flooring would silently report the
    // quantile of a different distribution
    Seq(
      () => Sketches.selectionQuantiles(
        df.withColumn("vd", col("v") / lit(2.0)), Seq("lang"),
        col("vd")),
      () => Sketches.selectionValueCounts(
        df.withColumn("vd", col("v") / lit(2.0)), Seq("lang"),
        col("vd"))
    ).foreach { f =>
      val ex = intercept[IllegalArgumentException](f())
      assert(ex.getMessage.contains("integral"),
        s"double-value rejection message drifted: ${ex.getMessage}")
    }
    graft.ops.Reuse.freeAll(spark)
    // the zero-shuffle search must agree with a driver sort replay of
    // the same k = ceil(q*n/100) definition on every real stratum
    val real = graft.ingest.Tables.documents(spark, sf("sf0.001"))
    val sel = Sketches.selectionQuantiles(real, Seq("lang"),
        col("n_chars"))
      .as[(String, Long, Long)].collect().toSet
    val byLang = real.select($"lang", $"n_chars".cast("long"))
      .as[(String, Long)].collect().groupBy(_._1)
    val replay = byLang.flatMap { case (l, rows) =>
      val sorted = rows.map(_._2).sorted
      Seq(50L, 90L).map(q =>
        (l, q, sorted(((q * sorted.length + 99) / 100 - 1).toInt)))
    }.toSet
    assert(sel == replay, s"selection != sort replay")
    graft.ops.Reuse.freeAll(spark)
  }

  test("dedup token savings: consistent with the cluster listing and " +
      "the ext47 keeper draw (ext85)") {
    import spark.implicits._
    val dir = sf("sf0.001")
    val (nf, dr, tr, ct, ppm) =
      SparkEntry.queries("ext85_dedup_token_savings")(spark, dir)
        .as[(Long, Long, Long, Long, Long)].collect().head
    val clusters = SparkEntry.queries("ext27_dedup_clusters")(spark, dir)
      .as[(Long, Long)].collect().toSeq // (doc_id, cluster_id)
    val keepers = SparkEntry.queries("ext47_quality_keeper")(spark, dir)
      .select("cluster_id", "keeper_id")
      .as[(Long, Long)].collect().toMap
    val toks = graft.ingest.Tables.documents(spark, dir)
      .select($"doc_id",
        size(split($"text", " ")).cast("long").as("n"))
      .as[(Long, Long)].collect().toMap
    assert(nf == clusters.map(_._2).distinct.size)
    assert(dr == clusters.size - nf)
    val expectedTr = clusters.groupBy(_._2).map { case (cid, g) =>
      g.map(m => toks(m._1)).sum - toks(keepers(cid))
    }.sum
    assert(tr == expectedTr)
    assert(ct == toks.values.sum && ppm == tr * 1000000L / ct)
    graft.ops.Reuse.freeAll(spark)
  }

  test("normalizeEventTs: NTZ wall time reads as UTC instant under any " +
      "session timezone") {
    // An NTZ wall time of 2024-01-01 12:00:00 that is *actually UTC* must
    // come out as epoch 1704110400s whether the session runs in UTC or
    // US Pacific. A bare NTZ→TIMESTAMP cast (or to_utc_timestamp, whose
    // implicit input cast goes through the session zone first) would read
    // it as 2024-01-01 12:00 PST = epoch 1704139200 — 8h off.
    val utcEpochUs = 1704110400000000L
    def run(): Long = {
      val ntz = spark.sql(
        "SELECT TIMESTAMP_NTZ '2024-01-01 12:00:00' AS ts, 1 AS v")
      assert(ntz.schema("ts").dataType ==
        org.apache.spark.sql.types.TimestampNTZType)
      graft.ingest.Tables.normalizeEventTs(ntz)
        .select(expr("unix_micros(ts)")).as[Long](
          org.apache.spark.sql.Encoders.scalaLong).head()
    }
    assert(run() == utcEpochUs) // UTC session (TestBase default)
    val tzKey = "spark.sql.session.timeZone"
    val saved = spark.conf.get(tzKey)
    try {
      spark.conf.set(tzKey, "America/Los_Angeles")
      assert(run() == utcEpochUs) // non-UTC session: must not shift
    } finally spark.conf.set(tzKey, saved)
  }
}
