package graft

import org.apache.spark.sql.functions._

import graft.ops.{Dedup, TextOps}

/** Unit coverage for the corpus-statistics operators (ext71–ext75):
  * Gopher rule flags, vocabulary growth, Zipf head coverage, label
  * conflicts over the cluster map, and per-language token fertility. */
class CorpusStatsSpec extends TestBase {

  test("gopher rules: each flag binds at its own bound, keep is the " +
      "conjunction (ext71)") {
    import spark.implicits._
    // 40 toks, mwl_q 3500, 20 stopword hits -> all three rules pass
    val longOk = ("the word and text " * 10).trim
    val tooShort = "the and of"                          // 3 toks < 30
    val longWords = Array.fill(35)("extraordinarily").mkString(" ")
    val noStops = Array.fill(35)("zz").mkString(" ")     // mwl ok, no stops
    val docs = Seq((1L, longOk), (2L, tooShort), (3L, longWords),
      (4L, noStops)).toDF("doc_id", "text")
    val got = TextOps.gopherRules(docs)
      .select("doc_id", "r_len", "r_mwl", "r_stop", "keep")
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(got(1L) == ((1L, 1L, 1L, 1L)))
    assert(got(2L)._1 == 0L && got(2L)._4 == 0L)         // fails length only
    // "extraordinarily" = 15 chars -> mwl_q 15000 > 10000
    assert(got(3L) == ((1L, 0L, 0L, 0L)))
    assert(got(4L) == ((1L, 0L, 0L, 0L)))                // mwl 2000 < 3000
    // every keep is exactly the product of its flags
    TextOps.gopherRules(docs)
      .select($"keep" === $"r_len" * $"r_mwl" * $"r_stop")
      .as[Boolean].collect().foreach(assert(_))
  }

  test("vocab growth: monotone in pct, pct=100 equals the corpus " +
      "totals (ext72)") {
    import spark.implicits._
    val d = graft.ingest.Tables.documents(spark, sf("sf0.001"))
    val rows = TextOps.vocabGrowth(d)
      .orderBy("pct").as[(Long, Long, Long)].collect()
    assert(rows.map(_._1).toSeq == Seq(10L, 50L, 100L))
    assert(rows.map(_._2).toSeq == rows.map(_._2).sorted.toSeq) // tokens up
    assert(rows.map(_._3).toSeq == rows.map(_._3).sorted.toSeq) // vocab up
    val full = rows.last
    val nTok = d.select(size(TextOps.tokens(col("text"))).cast("long"))
      .as[Long].collect().sum
    val nVocab = d.select(explode(TextOps.tokens(col("text"))))
      .distinct().count()
    assert(full._2 == nTok && full._3 == nVocab)
  }

  test("zipf head: coverage monotone in k, head bounded by vocab, " +
      "mass never exceeds total (ext73)") {
    import spark.implicits._
    val d = graft.ingest.Tables.documents(spark, sf("sf0.001"))
    val rows = TextOps.zipfHeadCoverage(d)
      .orderBy("k").as[(Long, Long, Long, Long)].collect()
    assert(rows.map(_._1).toSeq == Seq(10L, 100L, 1000L))
    rows.foreach { case (k, nHead, _, covQ) =>
      assert(nHead <= k && covQ <= 1000000L)
    }
    assert(rows.map(_._3).toSeq == rows.map(_._3).sorted.toSeq)
    val vocab = d.select(explode(TextOps.tokens(col("text"))))
      .distinct().count()
    // if the whole vocab fits under k, the head covers ALL mass
    rows.filter(_._1 >= vocab).foreach { case (_, nHead, _, covQ) =>
      assert(nHead == vocab && covQ >= 999999L)
    }
  }

  test("label conflicts: only mixed-label clusters surface, keeper is " +
      "min id (ext74)") {
    import spark.implicits._
    val cm = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L))
      .toDF("doc_id", "cluster_id")
    val docs = Seq((1L, "en"), (2L, "de"), (3L, "en"),
      (10L, "fr"), (11L, "fr"), (99L, "xx")).toDF("doc_id", "lang")
    val got = Dedup.labelConflicts(cm, docs)
      .as[(Long, Long, Long, Long)].collect()
    assert(got.toSeq == Seq((1L, 3L, 2L, 1L))) // cluster 10 is uniform
  }

  test("label propagation: majority adoption, (n DESC, label ASC) tie, " +
      "singleton passthrough with the -1 sentinel (ext163)") {
    import spark.implicits._
    val cm = Seq((1L, 100L), (2L, 100L), (3L, 100L),
      (5L, 200L), (6L, 200L)).toDF("doc_id", "cluster_id")
    val docs = Seq((1L, "en"), (2L, "en"), (3L, "zh"),
      (4L, "de"), (5L, "es"), (6L, "fr")).toDF("doc_id", "lang")
    val got = Dedup.labelPropagation(cm, docs).orderBy("doc_id")
      .as[(Long, String, Long, String, Long)].collect().toSeq
    assert(got == Seq(
      (1L, "en", 100L, "en", 0L),
      (2L, "en", 100L, "en", 0L),
      (3L, "zh", 100L, "en", 1L),   // majority 2-vs-1 relabels
      (4L, "de", -1L, "de", 0L),    // singleton passthrough
      (5L, "es", 200L, "es", 0L),   // 1-1 tie -> label ASC = es
      (6L, "fr", 200L, "es", 1L)), s"got $got")
    graft.ops.Reuse.freeAll(spark)
  }

  test("token fertility: exact quantized ratio per language (ext75)") {
    import spark.implicits._
    // en: 4 ws tokens, bpe = ceil(3/4)+ceil(11/4)+ceil(2/4)+ceil(8/4) = 1+3+1+2
    val docs = Seq(
      (1L, "en", "the unexpected of operated"),
      (2L, "zz", "aaaaaaaa bbbbbbbb"))                   // 2 ws, bpe 2+2
      .toDF("doc_id", "lang", "text")
    val got = TextOps.tokenFertility(docs)
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._3, r._4, r._5))).toMap
    assert(got("en") == ((4L, 7L, 7L * 1000000L / 4L)))
    assert(got("zz") == ((2L, 4L, 2000000L)))
  }

  test("gopher repetition card: exact top-n and dup-n coverage on " +
      "constructed docs (ext106)") {
    import spark.implicits._
    val docs = Seq(
      (1L, "x y x y x y z"),           // overlapping-repeat doc, 7 toks
      (2L, "a b c a b c a b c a"),     // 3-periodic doc, 10 toks
      (3L, "p q r s t"))               // repetition-free, 5 toks
      .toDF("doc_id", "text")
    val got = TextOps.gopherRepetitionCard(docs).orderBy("doc_id")
      .collect().map(r => r.getLong(0) ->
        (0 until r.length).map(r.getLong).toVector).toMap
    // doc 1: top2 "x y"×3 → 6/7; top3 ×2 → 6/7; top4 ×2 → 8/7 (> 1e6,
    // unclamped like the paper's measure); no duplicate 5..10-grams.
    assert(got(1L) == Vector(1L, 7L, 857142L, 857142L, 1142857L,
      0L, 0L, 0L, 0L, 0L, 0L))
    // doc 2: top2 ×3 → 6/10; top3 "a b c"×3 → 9/10; top4 ×3 → 12/10;
    // dup5/6/7 cover ALL 10 positions; 8..10-grams are all unique.
    assert(got(2L) == Vector(2L, 10L, 600000L, 900000L, 1200000L,
      1000000L, 1000000L, 1000000L, 0L, 0L, 0L))
    // doc 3: nothing repeats at any n.
    assert(got(3L) == Vector(3L, 5L, 400000L, 600000L, 800000L,
      0L, 0L, 0L, 0L, 0L, 0L))
  }

  test("bpe merges: hand-computed merge table; overlap counting and " +
      "run-parity greedy merge (ext111)") {
    import spark.implicits._
    // words: abc ×2, abd ×1 → merges (a,b,3), (ab,c,2), (ab,d,1)
    val docs = Seq((1L, "abc abc abd")).toDF("doc_id", "text")
    val got = TextOps.bpeMerges(docs, 3)
      .as[(Long, String, String, Long)].collect().toSeq
    assert(got == Seq((1L, "a", "b", 3L), (2L, "ab", "c", 2L),
      (3L, "ab", "d", 1L)))
    // overlapping adjacencies count (aaaa → (a,a) × 3) and the
    // run-parity merge produces [aa, aa], whose pair then merges
    val runs = TextOps.bpeMerges(Seq((1L, "aaaa")).toDF("doc_id", "text"),
      2).as[(Long, String, String, Long)].collect().toSeq
    assert(runs == Seq((1L, "a", "a", 3L), (2L, "aa", "aa", 1L)))
    // real corpus: three rounds land, argmax counts non-increasing
    // (a new pair's occurrences are bounded by the merges that
    // created its right/left symbol)
    val real = TextOps.bpeMerges(
      graft.ingest.Tables.documents(spark, sf("sf0.001")), 3)
      .as[(Long, String, String, Long)].collect().toSeq
    assert(real.size == 3 && real.map(_._1) == Seq(1L, 2L, 3L))
    assert(real.map(_._4) == real.map(_._4).sorted.reverse)
    graft.ops.Reuse.freeAll(spark)
  }

  test("bpe encode + estimator audit: exact segment counts under the " +
      "learned merges (ext112)") {
    import spark.implicits._
    // abc ×2, abd ×1; after merges (a,b), (ab,c), (ab,d):
    // abc → [abc] (1 sym), abd → [abd] (1 sym)
    val docs = Seq((1L, "en", "abc abc abd")).toDF("doc_id", "lang", "text")
    val segs = TextOps.bpeSegmentCounts(docs, 3)
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(segs == Map("abc" -> ((2L, 1L)), "abd" -> ((1L, 1L))))
    val card = TextOps.bpeEstimateAudit(docs, 3)
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    // 3 ws tokens; true bpe = 3 (one sym each); est = (3+3) div 4 = 1
    // per word → 3; err 0
    assert(card == Seq(("en", 3L, 3L, 3L, 0L)))
    // with 0 merges the true count is the character count
    val raw = TextOps.bpeSegmentCounts(docs, 0)
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> r._3).toMap
    assert(raw == Map("abc" -> 3L, "abd" -> 3L))
    graft.ops.Reuse.freeAll(spark)
  }

  test("bpe apply: stored table replays to the learn-time state; new " +
      "words segment under the learned merges") {
    import spark.implicits._
    val docs = Seq((1L, "en", "abc abc abd")).toDF("doc_id", "lang", "text")
    val merges = TextOps.bpeMerges(docs, 3).localCheckpoint(true)
    // applying the learned table to its own corpus == the learn state
    val applied = TextOps.bpeApplyCounts(docs, merges, 3)
      .as[(String, Long, Long)].collect().toSet
    val learned = TextOps.bpeSegmentCounts(docs, 3)
      .as[(String, Long, Long)].collect().toSet
    assert(applied == learned)
    // a NEW corpus under the same merges (a,b), (ab,c), (ab,d):
    // abcd → [ab,c,d] → [abc,d] (rank-3 (ab,d) no longer matches);
    // ab → [ab]
    val fresh = Seq((9L, "xx", "abcd ab")).toDF("doc_id", "lang", "text")
    val out = TextOps.bpeApplyCounts(fresh, merges, 3)
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> r._3).toMap
    assert(out == Map("abcd" -> 2L, "ab" -> 1L))
    // ranks past the table's end apply nothing
    val deep = TextOps.bpeApplyCounts(fresh, merges, 5)
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> r._3).toMap
    assert(deep == out)
    graft.ops.Reuse.freeAll(spark)
  }

  test("bpe learn guards: exhausted corpus stops the table short with " +
      "the symbol state intact; zero merges returns the typed empty " +
      "table (r8 ADVICE)") {
    import spark.implicits._
    // "ab" exhausts after ONE merge: round 2 finds no adjacent pair and
    // must stop — not annihilate the state via an empty-pair apply.
    val docs = Seq((1L, "en", "ab ab")).toDF("doc_id", "lang", "text")
    val table = TextOps.bpeMerges(docs, 5)
      .as[(Long, String, String, Long)].collect().toSeq
    assert(table == Seq((1L, "a", "b", 2L)))
    // the encode side still sees every word (previously: empty frame)
    val segs = TextOps.bpeSegmentCounts(docs, 5)
      .as[(String, Long, Long)].collect().toSeq
    assert(segs == Seq(("ab", 2L, 1L)))
    // single-character vocabulary: zero achievable merges, empty table
    val chars = Seq((1L, "en", "a b a")).toDF("doc_id", "lang", "text")
    assert(TextOps.bpeMerges(chars, 3).count() == 0L)
    // nMerges == 0: typed empty frame, not null (NPE at caller before)
    val zero = TextOps.bpeMerges(docs, 0)
    assert(zero.count() == 0L &&
      zero.columns.toSeq == Seq("merge_rank", "left_sym", "right_sym",
        "pair_count"))
    graft.ops.Reuse.freeAll(spark)
  }

  test("bpe apply one-pass kernel == relational replay: adversarial " +
      "overlap runs, multibyte, over-cap words, rank re-creation " +
      "(r13 verdict: job-per-merge apply)") {
    import spark.implicits._
    // Learn a deep table on a corpus engineered so later merges can
    // re-create earlier ranks' pairs (rank order must NOT revisit),
    // overlap runs exercise run-parity == leftmost-greedy, a 40-char
    // word exercises the BpeMaxWordLen cap, and é/😀 exercise
    // code-point (not UTF-16 unit) segmentation on both sides.
    val learn = Seq(
      (1L, "aaaaaaa aaaa abab ababab"),
      (2L, "ééé é😀é 😀😀😀😀"),
      (3L, ("xy" * 20) + " xyxy")) // 40 code points > cap 32
      .toDF("doc_id", "text")
    val merges = TextOps.bpeMerges(learn, 8).localCheckpoint(true)
    assert(merges.count() >= 4L, "fixture must learn a deep table")
    // Apply to a DIFFERENT corpus (the stored-table seam) + the learn
    // corpus itself; fast and relational must agree row-for-row.
    val fresh = Seq(
      (9L, "aaaab abba baaa é😀 " + ("a" * 40)),
      (10L, "xyxyxy ab ba 😀é😀é"))
      .toDF("doc_id", "text")
    for (corpus <- Seq(learn, fresh); depth <- Seq(0, 3, 8)) {
      val fast = TextOps.bpeApplyCounts(corpus, merges, depth)
        .as[(String, Long, Long)].collect().toSet
      val rel = TextOps.bpeApplyCountsRelational(corpus, merges, depth)
        .as[(String, Long, Long)].collect().toSet
      assert(fast == rel,
        s"fast != relational at depth $depth: ${fast.diff(rel)} / " +
          s"${rel.diff(fast)}")
    }
    // A stored table that REPEATS a pair: (a,bc) at rank 1 is a no-op
    // until rank 2's (b,c) builds "bc" — the rank-3 duplicate then
    // fires and word "abc" collapses to ONE symbol. Exact rank-order
    // replay must apply it (a single-rank-per-pair map would drop the
    // duplicate and leave [a, bc]).
    val dupTable = Seq((1L, "a", "bc", 0L), (2L, "b", "c", 0L),
      (3L, "a", "bc", 0L))
      .toDF("merge_rank", "left_sym", "right_sym", "pair_count")
      .localCheckpoint(true)
    val abc = Seq((1L, "abc bc abcbc")).toDF("doc_id", "text")
    val fastD = TextOps.bpeApplyCounts(abc, dupTable, 3)
      .as[(String, Long, Long)].collect().toSet
    val relD = TextOps.bpeApplyCountsRelational(abc, dupTable, 3)
      .as[(String, Long, Long)].collect().toSet
    assert(fastD == relD, s"duplicate-rank table diverged: $fastD vs $relD")
    assert(fastD.contains(("abc", 1L, 1L)),
      s"rank-3 duplicate pair must fire after rank 2 builds 'bc': $fastD")
    // real corpus, learned depth 3 (the ext111 artifact shape)
    val docs = graft.ingest.Tables.documents(spark, sf("sf0.001"))
    val real = TextOps.bpeMerges(docs, 3).localCheckpoint(true)
    val fastR = TextOps.bpeApplyCounts(docs, real, 3)
      .as[(String, Long, Long)].collect().toSet
    val relR = TextOps.bpeApplyCountsRelational(docs, real, 3)
      .as[(String, Long, Long)].collect().toSet
    assert(fastR == relR && fastR.nonEmpty)
    graft.ops.Reuse.freeAll(spark)
  }

  test("normalization dup card: case/punct/space variants collapse, " +
      "clean corpus reads zero gain (ext104)") {
    import spark.implicits._
    val docs = Seq(
      (1L, "s1", "Hello, World!"),
      (2L, "s1", "hello world"),
      (3L, "s1", "hello  world"),   // double space collapses
      (4L, "s1", "goodbye world"),
      (5L, "s2", "plain text"))
      .toDF("doc_id", "source", "text")
    val got = TextOps.normalizationDupCard(docs).orderBy("source")
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    // s1: 4 raw identities, 2 normalized → gain 2 (500000 ppm)
    assert(got == Seq(
      ("s1", 4L, 4L, 2L, 2L, 500000L),
      ("s2", 1L, 1L, 1L, 0L, 0L)))
    // normalizeText itself: the three variants share one normal form
    val norms = docs.filter(col("doc_id") <= 3)
      .select(TextOps.normalizeText(col("text"))).as[String]
      .collect().toSet
    assert(norms == Set("hello world"))
  }

  test("vocab overlap: exact TV overlap on known distributions, " +
      "self-similar pair near 1e6 (ext105)") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a", "x x y z"),   // p: x .5, y .25, z .25
      (2L, "b", "x y y w"))   // p: x .25, y .5, w .25
      .toDF("doc_id", "lang", "text")
    val got = TextOps.vocabOverlap(docs)
      .as[(String, String, Long, Long, Long)].collect().toSeq
    // shared {x, y}: min(.5,.25) + min(.25,.5) = .5
    assert(got == Seq(("a", "b", 2L, 500000L, 500000L)))
    // a stratum against a copy of itself: overlap within |vocab| ppm
    // of exact 1e6 (per-type flooring bias only)
    val twin = Seq((1L, "a", "x x y z"), (2L, "b", "x x y z"))
      .toDF("doc_id", "lang", "text")
    val self = TextOps.vocabOverlap(twin)
      .as[(String, String, Long, Long, Long)].head()
    assert(self._4 >= 1000000L - 3L && self._4 <= 1000000L)
  }

  test("textrank == driver power-iteration replay; hub outranks leaf " +
      "(ext145)") {
    import spark.implicits._
    val texts = Seq("a b a c", "b a b d", "c a")
    val got = graft.ops.TextOps.textRank(
        texts.toDF("text"), iters = 3, minWout = 1, topK = 10)
      .as[(String, Long)].collect().toSeq

    // driver replay with the exact same truncation points
    val adj = texts.map(_.split(" ").toSeq)
      .flatMap(t => t.zip(t.tail)).filter(p => p._1 != p._2)
    val und = adj ++ adj.map(_.swap)
    val w = und.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val wout = w.toSeq.groupBy(_._1._1)
      .map { case (s, es) => s -> es.map(_._2).sum }
    var r: Map[String, Long] = wout.keys.map(_ -> 1000000L).toMap
    for (_ <- 1 to 3) {
      val cs = w.toSeq
        .map { case ((s, d), wt) => d -> (r(s) * wt) / wout(s) }
        .groupBy(_._1).map { case (d, vs) => d -> vs.map(_._2).sum }
      r = r.keys.map(v =>
        v -> ((15L * 1000000L + 85L * cs.getOrElse(v, 0L)) / 100L)).toMap
    }
    val expected = r.toSeq.sortBy { case (v, s) => (-s, v) }.take(10)
    assert(got == expected)
    // structure is non-degenerate: the hub token ranks first and the
    // one-neighbor leaf is strictly below it
    assert(got.head._1 == "a")
    assert(got.find(_._1 == "d").get._2 < got.head._2)
    graft.ops.Reuse.freeAll(spark)
  }

  test("textrank broadcast guard (r19): the non-broadcast fallback " +
      "path is bit-identical to the broadcast path") {
    import spark.implicits._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
    import org.apache.spark.sql.execution.SparkPlanInfo
    import org.apache.spark.sql.execution.ui.{
      SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
    val texts = Seq("a b a c", "b a b d", "c a", "d c a b e", "e a b")
    def run() = graft.ops.TextOps.textRank(
        texts.toDF("text"), iters = 3, minWout = 1, topK = 10)
      .as[(String, Long)].collect().toSeq
    val viaBroadcast = run()
    graft.ops.Reuse.freeAll(spark)
    // force the guard below any real vertex count: every iteration
    // join must take the hash-partitioned edge-table path. Auto-
    // broadcast goes off too, or the planner would broadcast the tiny
    // rank side and the edge table's join shape would never show.
    val key = "graft.textrank.bcastMaxVerts"
    val bcastConf = "spark.sql.autoBroadcastJoinThreshold"
    val prev = sys.props.get(key)
    val prevBcast = spark.conf.getOption(bcastConf)
    sys.props(key) = "0"
    spark.conf.set(bcastConf, "-1")
    // every physical plan Spark records for the run's SQL executions,
    // the initial one and each adaptive re-plan
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlanInfo]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => plans.add(s.sparkPlanInfo)
        case u: SparkListenerSQLAdaptiveExecutionUpdate =>
          plans.add(u.sparkPlanInfo)
        case _ => ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val viaShuffle = run()
      assert(viaShuffle == viaBroadcast)
      org.apache.spark.graftbridge.ListenerDrain(spark.sparkContext)
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      prev match {
        case Some(v) => sys.props(key) = v
        case None => sys.props.remove(key)
      }
      prevBcast match {
        case Some(v) => spark.conf.set(bcastConf, v)
        case None => spark.conf.unset(bcastConf)
      }
    }
    // the edge checkpoint is the only scan carrying `wout`; codegen
    // wrappers do not count as operators between it and an exchange
    def isEdgeScan(p: SparkPlanInfo) =
      p.nodeName == "Scan ExistingRDD" && p.simpleString.contains("wout#")
    def unwrap(p: SparkPlanInfo): SparkPlanInfo =
      if ((p.nodeName.startsWith("WholeStageCodegen") ||
          p.nodeName == "InputAdapter") && p.children.size == 1)
        unwrap(p.children.head)
      else p
    def nodes(p: SparkPlanInfo): Seq[SparkPlanInfo] =
      p +: p.children.flatMap(nodes)
    import scala.jdk.CollectionConverters._
    val all = plans.asScala.toSeq.flatMap(nodes)
    assert(all.count(isEdgeScan) >= 3,
      "the fallback's iteration joins never read the edge checkpoint")
    val reshuffled = all.filter(p => p.nodeName == "Exchange" &&
      p.children.map(unwrap).exists(isEdgeScan)).map(_.simpleString)
    assert(reshuffled.isEmpty,
      "an iteration plan re-shuffles the edge checkpoint")
    graft.ops.Reuse.freeAll(spark)
  }
}
