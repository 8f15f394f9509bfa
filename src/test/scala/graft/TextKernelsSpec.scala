package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.functions.{BpeEstimate, CountInSet}
import graft.ops.TextOps

/** The native text-scan kernels (set-membership count, BPE estimate)
  * must agree with their composed HOF specifications on every input —
  * including multibyte tokens (both sides count CHARS, not bytes) and
  * empty arrays — and the operators built on them must be unchanged. */
class TextKernelsSpec extends TestBase {

  private val words = TextOps.Stopwords

  test("count_in_set: native == composed HOF on arbitrary token arrays") {
    import spark.implicits._
    val tok = Gen.oneOf(Gen.oneOf(words), Gen.alphaNumStr.map(_.take(6)),
      Gen.const("日本語テキスト"), Gen.const(""))
    val arrGen = Gen.chooseNum(0, 12).flatMap(n => Gen.listOfN(n, tok))
    val prop = Prop.forAll(Gen.listOfN(25, arrGen)) { xs =>
      val df = xs.toDF("toks")
      df.select(
          TextOps.countInSet(col("toks"), words).as("x"),
          TextOps.countInSetComposed(col("toks"), words).as("y"))
        .filter(col("x") =!= col("y")).count() == 0
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }

  test("bpe_estimate: native == composed HOF incl. multibyte tokens") {
    import spark.implicits._
    val tok = Gen.oneOf(Gen.alphaNumStr.map(_.take(9)),
      Gen.const("ÀéîøüÑ"), Gen.const("日本語のテスト文字列"), Gen.const(""))
    val arrGen = Gen.chooseNum(0, 10).flatMap(n => Gen.listOfN(n, tok))
    val prop = Prop.forAll(Gen.listOfN(25, arrGen)) { xs =>
      val df = xs.toDF("toks")
      df.select(BpeEstimate(col("toks")).as("x"),
          TextOps.bpeEstimateComposed(col("toks")).as("y"))
        .filter(col("x") =!= col("y")).count() == 0
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }

  test("operators are value-identical under native vs composed kernels " +
      "over the real corpus") {
    val d = graft.ingest.Tables.documents(spark, sf("sf0.001"))
    // every kernel-fed column the operators output, beside its composed
    // specification over the same tokens and the operator's word list
    val toks = TextOps.tokens(col("text"))
    val langs = TextOps.LangMarkers.toSeq.sortBy(_._1)
    val spec = d.select((col("doc_id") +:
      TextOps.countInSetComposed(toks, TextOps.Stopwords).as("n_stop") +:
      langs.map { case (lang, ms) =>
        TextOps.countInSetComposed(toks, ms).as(s"score_$lang") } :+
      TextOps.bpeEstimateComposed(toks).as("n_bpe_est")): _*)
    val cols = spec.columns.toSeq.tail
    val ops = TextOps.quality(d).select("doc_id", "n_stop")
      .join(TextOps.langScores(d)
        .select("doc_id", langs.map(l => s"score_${l._1}"): _*), "doc_id")
      .join(TextOps.tokenCounts(d).select("doc_id", "n_bpe_est"), "doc_id")
    val joined = ops.as("o").join(spec.as("s"), "doc_id")
    assert(joined.count() == d.count() && d.count() > 0)
    val diverged = joined.filter(cols.map(c =>
      !(col(s"o.$c") <=> col(s"s.$c"))).reduce(_ || _))
    assert(diverged.isEmpty,
      "a native kernel diverged from its composed specification: " +
        diverged.limit(5).collect().mkString("; "))
    // non-vacuous: the corpus exercises every word list and the estimate
    val sums = spec.agg(sum(cols.head), cols.tail.map(c => sum(c)): _*)
      .collect().head
    assert(cols.indices.forall(i => sums.getLong(i) > 0L),
      s"a kernel-fed column is all zero on the corpus: $sums")
  }

  test("nulls propagate; the kernel runs inside whole-stage codegen") {
    import spark.implicits._
    val df = Seq(Some(Seq("the", "x")), None).toDF("toks")
    val got = df.select(CountInSet(col("toks"), words).as("c"))
      .collect().map(r => if (r.isNullAt(0)) -1L else r.getLong(0))
    assert(got.toSeq == Seq(1L, -1L))
    // over a file-backed scan (a LocalTableScan pre-evaluates locally)
    // the kernel projection stays inside a WholeStageCodegen span
    val scan = graft.ingest.Tables.documents(spark, sf("sf0.001"))
      .select(CountInSet(split(col("text"), " "), words).as("c"))
    scan.collect() // finalize AQE so codegen spans are visible
    val plan = scan.queryExecution.executedPlan.toString
    // AQE's final-plan rendering marks codegen stages with a "*(n)"
    // prefix; the kernel's Project must sit inside one (the kernel's
    // advantage over the HOF form — no per-row lambda dispatch or
    // intermediate array — additionally requires it not to break the
    // surrounding stage, which this guards)
    assert("""\*\(\d+\) Project \[count_in_set""".r
      .findFirstIn(plan).isDefined, plan)
  }

  test("lang segments: window labels, island merge and switch count " +
      "hand-checked (ext144)") {
    import spark.implicits._
    import graft.ops.TextOps
    // 16-token windows. Windows 0–1 are English-marked ('the'),
    // window 2 Spanish-marked ('data'), window 3 English again —
    // 3 segments: en[0,2) es[2,1) en[3,1); 2 code switches. A second
    // doc with no markers anywhere ties every window to 'en'
    // (the fixed tie-break) → ONE segment, zero switches.
    def win(marker: String) =
      (marker +: Seq.fill(15)("x")).mkString(" ")
    val doc1 = Seq(win("the"), win("the"), win("data"), win("the"))
      .mkString(" ")
    val doc2 = Seq(win("zz"), win("zz")).mkString(" ")
    val got = TextOps.langSegments(
        Seq((1L, doc1), (2L, doc2)).toDF("doc_id", "text"))
      .orderBy("doc_id", "seg_idx")
      .as[(Long, Long, String, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1L, 1L, "en", 0L, 2L),
      (1L, 2L, "es", 2L, 1L),
      (1L, 3L, "en", 3L, 1L),
      (2L, 1L, "en", 0L, 2L)))
  }

  test("stupid-backoff LM: kept vs pruned transitions hand-checked, " +
      "octave algebra exact, layout-stable, backoff non-vacuous on " +
      "real corpus (ext148)") {
    import spark.implicits._
    // Corpus: "a b" occurs 3x (kept at minCount 2); "b a" and "b c"
    // once each (pruned -> backoff). Unigrams a=3 b=3 c=1 z=1, N=8.
    //  d1 "a b a b": (a,b) ppm=1e6*3//3=1000000 -> oct bitlen-21 = -1;
    //                (b,a) backoff 400000*3//8=150000 -> bitlen 18 -> -3;
    //                (a,b) -> -1.  n=3, backoff=1, score=-5.
    //  d2 "a b c":   (a,b) -> -1; (b,c) backoff 400000*1//8=50000 ->
    //                bitlen 16 -> -5.  n=2, backoff=1, score=-6.
    //  d3 "z": no bigrams -> zeros.
    val docs = Seq((1L, "a b a b"), (2L, "a b c"), (3L, "z"))
      .toDF("doc_id", "text")
    val got = TextOps.stupidBackoffScores(docs)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, 3L, 1L, -5L), (2L, 2L, 1L, -6L),
      (3L, 0L, 0L, 0L)), s"hand-check drifted: $got")
    // pure function of the corpus — stable under layout
    val got7 = TextOps.stupidBackoffScores(docs.repartition(7))
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got7 == got)
    graft.ops.Reuse.freeAll(spark)
    // real corpus: the pruned LM must actually exercise BOTH branches
    // (all-kept would mean the minCount floor is dead code; all-backoff
    // would mean the LM kept nothing)
    val real = graft.ingest.Tables.documents(spark, sf("sf0.001"))
    val rs = TextOps.stupidBackoffScores(real)
      .agg(sum("n_backoff").cast("long"),
        (sum("n_bigrams") - sum("n_backoff")).cast("long"))
      .as[(Long, Long)].collect().head
    assert(rs._1 > 0L, "backoff branch never fired on the real corpus")
    assert(rs._2 > 0L, "no bigram survived pruning on the real corpus")
    graft.ops.Reuse.freeAll(spark)
  }

  test("pmi collocations: hand-computed decimal ratio and octave; " +
      "minCount floors hapax pairs (ext160)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // "x y" x5 in one doc: Nu=10, Nb=9, (x,y) c=5 (the only pair >= 5;
    // (y,x) c=4 floored). ratio = 5*100*1e6 // (9*25) = 2222222;
    // bitlen 22 -> oct 2.
    val docs = Seq((1L, "x y x y x y x y x y")).toDF("doc_id", "text")
    val got = TextOps.pmiCollocations(docs)
      .as[(String, String, Long, Long, Long, Long, Long)]
      .collect().toSeq
    assert(got == Seq(("x", "y", 5L, 5L, 5L, 2222222L, 2L)), s"got $got")
    graft.ops.Reuse.freeAll(spark)
  }

  test("freq spectrum: count classes, folded tail and Good-Turing " +
      "adjusted ppm hand-checked (ext162)") {
    import spark.implicits._
    // counts: a:1 b:2 c:2 d:11 e:12 -> r=1 (1 type, GT uses N_2=2),
    // r=2 (2 types, N_3 absent), tail r=-1 (2 types, mass 23)
    val docs = Seq(
      (1L, "a b c d e " + ("d " * 10).trim),
      (2L, "b c " + ("e " * 11).trim)).toDF("doc_id", "text")
    val got = TextOps.freqSpectrum(docs).orderBy("r")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (-1L, 2L, 23L, 0L),
      (1L, 1L, 1L, 4000000L),
      (2L, 2L, 4L, 0L)), s"got $got")
    graft.ops.Reuse.freeAll(spark)
  }

  test("ccnet buckets: hand-computed penalties, tercile cut and the " +
      "unscored bucket (ext156)") {
    import spark.implicits._
    // en LM (minCount 2) keeps (p,q):5, (q,p):3; uni p/q 6, r 3, s 1,
    // N 16. Penalties x1000/position:
    //  d2 "p q"          -> -1            -> 1000   head (rk1)
    //  d1 "p q p q p q"  -> 3(-1)+2(-2)   -> 1400   head (rk2)
    //  d3 "q p"          -> -2            -> 2000   middle
    //  d5 "p q r"        -> -1 + backoff(-4) -> 2500 middle
    //  d4 "r r"          -> backoff -4    -> 4000   tail
    //  d6 "s"            -> 0 bigrams     -> unscored
    val docs = Seq(
      (1L, "en", "p q p q p q"), (2L, "en", "p q"), (3L, "en", "q p"),
      (4L, "en", "r r"), (5L, "en", "p q r"), (6L, "en", "s"))
      .toDF("doc_id", "lang", "text")
    val got = TextOps.ccnetBuckets(docs).orderBy("doc_id")
      .as[(Long, String, Long, Long, String)].collect().toSeq
    assert(got == Seq(
      (1L, "en", 5L, 1400L, "head"),
      (2L, "en", 1L, 1000L, "head"),
      (3L, "en", 1L, 2000L, "middle"),
      (4L, "en", 1L, 4000L, "tail"),
      (5L, "en", 2L, 2500L, "middle"),
      (6L, "en", 0L, 0L, "unscored")), s"got $got")
    graft.ops.Reuse.freeAll(spark)
  }

  test("langid margin: best/runner-up arithmetic, tie reads margin 0, " +
      "ppm threshold flags (ext157)") {
    import spark.implicits._
    // markers: en {the,a,value,row}, es {data,part,batch},
    //          zh {window,merge,join}
    val docs = Seq(
      (1L, "the a value row"),            // en 4/0/0: margin 4, 1e6 ppm
      (2L, "data the"),                   // 1/1/0 tie: margin 0
      (3L, "window data the batch merge"),// 1/2/2: es by tie-break, m 0
      (4L, "zzz"))                        // all 0
      .toDF("doc_id", "text")
    val got = TextOps.langidMargin(docs).orderBy("doc_id")
      .as[(Long, String, Long, Long, Long, Long, Long, Long)]
      .collect().toSeq
    assert(got == Seq(
      (1L, "en", 4L, 4L, 0L, 4L, 1000000L, 1L),
      (2L, "en", 2L, 1L, 1L, 0L, 0L, 0L),
      (3L, "es", 5L, 2L, 2L, 0L, 0L, 0L),
      (4L, "en", 1L, 0L, 0L, 0L, 0L, 0L)), s"got $got")
    graft.ops.Reuse.freeAll(spark)
  }

  test("moore-lewis contrastive selection: hand-computed octave gains, " +
      "whole-corpus in-domain degenerates to zero gain (ext154)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // en: d1 "x y x y", d2 "x y"; zz: d3 "w v w v w v". minCount 2.
    // Gen LM keeps (x,y):3, (w,v):3, (v,w):2; uni all 3, N=12.
    // In  LM keeps (x,y):3;                   uni x/y 3, N=6.
    // d1: gen -1,-4,-1 = -6 (1 backoff); in -1,-3,-1 = -5 → gain +1.
    // d2: -1 both → gain 0, selected.
    // d3: gen all kept = -5; in = 5 OOV-floor positions = -100 → -95.
    val docs = Seq((1L, "en", "x y x y"), (2L, "en", "x y"),
      (3L, "zz", "w v w v w v")).toDF("doc_id", "lang", "text")
    val got = TextOps.mooreLewisScores(docs, col("lang") === "en")
      .orderBy("doc_id")
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)]
      .collect().toSeq
    assert(got == Seq(
      (1L, 3L, 1L, -5L, 1L, -6L, 1L, 1L),
      (2L, 1L, 0L, -1L, 0L, -1L, 0L, 1L),
      (3L, 5L, 5L, -100L, 0L, -5L, -95L, 0L)), s"got $got")
    // in-domain == everything → the two LMs coincide, every gain is 0
    val degen = TextOps.mooreLewisScores(docs, lit(true))
      .agg(sum(abs(col("gain_oct"))), sum("selected"))
      .as[(Long, Long)].collect().head
    assert(degen == ((0L, 3L)))
    graft.ops.Reuse.freeAll(spark)
  }

  test("char entropy: hand-computed octave cards; empty docs read " +
      "zero; spam floor vs mixed text orders correctly (ext155)") {
    import spark.implicits._
    // d1 aaaa: share 1e6 → surprise 1, ent 4, mean 1000
    // d2 ab:   shares 500000 → surprise 2 each, ent 4, mean 2000
    // d3 "":   zero row
    // d4 "a b": three chars at 333333 → surprise 2, ent 6, mean 2000
    // d5 éé:   multibyte single char, ent 2, mean 1000
    val docs = Seq((1L, "aaaa"), (2L, "ab"), (3L, ""), (4L, "a b"),
      (5L, "éé")).toDF("doc_id", "text")
    val got = TextOps.charEntropy(docs).orderBy("doc_id")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1L, 4L, 1L, 4L, 1000L),
      (2L, 2L, 2L, 4L, 2000L),
      (3L, 0L, 0L, 0L, 0L),
      (4L, 3L, 3L, 6L, 2000L),
      (5L, 2L, 1L, 2L, 1000L)), s"got $got")
    // ordering law on the real corpus: a single-char flood scores below
    // every real document's mean surprise
    val real = graft.ingest.Tables.documents(spark, sf("sf0.001"))
      .select(col("doc_id"), col("text"))
      .union(Seq((-1L, "z" * 500)).toDF("doc_id", "text"))
    val card = TextOps.charEntropy(real)
    val flood = card.filter(col("doc_id") === -1L)
      .select("mean_millioct").as[Long].collect().head
    val minReal = card.filter(col("doc_id") >= 0L && col("n_chars_used")
      > 0L).agg(min("mean_millioct")).as[Long].collect().head
    assert(flood == 1000L && minReal > flood)
    graft.ops.Reuse.freeAll(spark)
  }

  test("stupid-backoff stored-LM seam: OOV tokens score the floor " +
      "penalty instead of silently dropping positions") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // Stored LM counted from "a b a b": bi {(a,b)->2, (b,a)->1},
    // uni {a->2, b->2}, N=4; minCount 2 keeps only (a,b).
    val bi = Seq(("a", "b", 2L), ("b", "a", 1L)).toDF("t1", "t2", "cb")
    val uni = Seq(("a", 2L), ("b", 2L)).toDF("t", "cu")
    // Snapshot NEWER than the counted corpus:
    //  d1 "q r": (q,r) fully OOV -> ppm floor 1 -> oct -20 (max penalty)
    //  d2 "q a": (q,a) backoff on cu(a)=2 -> 400000*2//4=200000 ->
    //            bitlen 18 -> oct -3
    //  d3 "a q": (a,q) t2 OOV -> floor -> oct -20
    //  d4 "a b": kept -> 1e6*2//2=1000000 -> oct -1
    val snap = Seq((1L, "q r"), (2L, "q a"), (3L, "a q"), (4L, "a b"))
      .toDF("doc_id", "text")
    val got = TextOps.stupidBackoffScoresFrom(snap, bi, uni)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, 1L, 1L, -20L), (2L, 1L, 1L, -3L),
      (3L, 1L, 1L, -20L), (4L, 1L, 0L, -1L)),
      s"OOV positions must count AND pay the floor penalty: $got")
    graft.ops.Reuse.freeAll(spark)
  }

  test("bm25: hand-computed integer pipeline (idf ppm, milli length " +
      "norm, decimal product sum), deterministic ranking, k cut " +
      "(ext165)") {
    import spark.implicits._
    // N=3, mass=9 -> avgdl_milli=3000; df(a)=df(b)=2 ->
    // idf_ppm = 8e6 DIV 5 = 1_600_000 for both terms.
    // d1 "a b a": rel=1000, norm=1000; a: den=3200, tfpart=1375;
    //             b: den=2200, tfpart=1000 -> score 3800
    // d2 "a c c c": rel=1333, norm=1249; a: den=2498, tfpart=880
    //             -> score 1408
    // d3 "b b":   rel=666, norm=749; b: den=2898, tfpart=1518
    //             -> score 2428
    val docs = Seq((1L, "a b a"), (2L, "a c c c"), (3L, "b b"))
      .toDF("doc_id", "text")
    val got = graft.ops.TextOps.bm25TopK(docs, Seq("a", "b"))
      .as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 3800L), (3L, 2428L), (2L, 1408L)),
      s"hand-computed bm25 drifted: $got")
    val top2 = graft.ops.TextOps.bm25TopK(docs, Seq("a", "b"), k = 2)
      .as[(Long, Long)].collect().toSeq
    assert(top2 == Seq((1L, 3800L), (3L, 2428L)))
    intercept[IllegalArgumentException] {
      graft.ops.TextOps.bm25TopK(docs, Seq.empty) }
    // the stored-index serve path reproduces the text-scan ranking
    // exactly (df/N/avgdl derived FROM the posting relation)
    val viaIndex = graft.ops.TextOps.bm25FromIndex(
        graft.ops.TextOps.bm25IndexPartials(docs), Seq("a", "b"))
      .as[(Long, Long)].collect().toSeq
    assert(viaIndex == got, s"index serve path drifted: $viaIndex")
    graft.ops.Reuse.freeAll(spark)
  }

  test("bm25 per query: hand-computed more-like-this rankings — union " +
      "query vocab drives df, self excluded, no-hit queries emit " +
      "nothing (ext169)") {
    import spark.implicits._
    val docs = Seq((1L, "a b a"), (2L, "a c c c"), (3L, "b b"))
      .toDF("doc_id", "text")
    // union query vocab {a,b,c}; df: a=2, b=2, c=1; idf a,b=1_600_000,
    // c=2_666_666; tfparts as the ext165 fixture (d1: a 1375, b 1000;
    // d2: a 880, c 1467; d3: b 1518).
    // q1{a,b}: d3 b -> 2428 (r1), d2 a -> 1408 (r2)
    // q2{a,c}: d1 a -> 2200 (r1) — c hits only q2 itself
    // q3{b}:   d1 b -> 1600 (r1) — d2 never matches b
    val got = graft.ops.TextOps.bm25PerQuery(docs, docs)
      .orderBy("q_id", "rank")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 3L, 1L, 2428L), (1L, 2L, 2L, 1408L),
      (2L, 1L, 1L, 2200L), (3L, 1L, 1L, 1600L)),
      s"hand-computed per-query bm25 drifted: $got")
    graft.ops.Reuse.freeAll(spark)
  }

  test("label association: presence (not tf) PMI hand-computed, doc-" +
      "count marginals, tie order, minCount floor (ext167)") {
    import spark.implicits._
    val docs = Seq(
      (1L, "cat dog", "en"), (2L, "cat cat fish", "en"),
      (3L, "chat dog", "fr"), (4L, "chat chat", "fr"))
      .toDF("doc_id", "text", "lang")
    // N=4, n_lab(en)=n_lab(fr)=2; presence cells: cat/en a=2 (the
    // doubled "cat cat" counts ONCE), fish/en 1, dog split 1+1,
    // chat/fr 2. ratios: exclusive tokens 2e6 (oct 1), dog 1e6 (oct 0).
    val got = graft.ops.TextOps.labelAssociation(docs, col("lang"),
        minCount = 1L)
      .as[(String, String, Long, Long, Long, Long, Long)]
      .collect().toSeq
    assert(got == Seq(
      ("cat", "en", 2L, 2L, 2L, 2000000L, 1L),
      ("chat", "fr", 2L, 2L, 2L, 2000000L, 1L),
      ("fish", "en", 1L, 1L, 2L, 2000000L, 1L),
      ("dog", "en", 1L, 2L, 2L, 1000000L, 0L),
      ("dog", "fr", 1L, 2L, 2L, 1000000L, 0L)),
      s"hand-computed association drifted: $got")
    // the minCount floor kills every cell on this fixture
    assert(graft.ops.TextOps.labelAssociation(docs, col("lang"),
      minCount = 5L).count() == 0L)
    // the tagged-partials fold reproduces the direct card exactly —
    // including marginals derived FROM the fold (n_tok = row sum,
    // N = doc-row sum), and duplicate partials re-sum
    val parts = graft.ops.TextOps.labelAssocPartials(docs, col("lang"))
    val viaCounts = graft.ops.TextOps.labelAssociationFromCounts(
        parts.unionByName(parts.limit(0)), minCount = 1L)
      .as[(String, String, Long, Long, Long, Long, Long)]
      .collect().toSeq
    assert(viaCounts == got, s"partials fold drifted: $viaCounts")
    val halves = graft.ops.TextOps.labelAssocPartials(
        docs.filter($"doc_id" <= 2), col("lang"))
      .unionByName(graft.ops.TextOps.labelAssocPartials(
        docs.filter($"doc_id" > 2), col("lang")))
    val viaBatches = graft.ops.TextOps.labelAssociationFromCounts(
        halves, minCount = 1L)
      .as[(String, String, Long, Long, Long, Long, Long)]
      .collect().toSeq
    assert(viaBatches == got, s"two-batch fold drifted: $viaBatches")
    graft.ops.Reuse.freeAll(spark)
  }

  test("label association rejects multi-label docs loudly: the n_tok " +
      "marginal assumes one label per doc, so dirty data must fail " +
      "typed, not silently deflate every ratio (r14 ADVICE)") {
    import spark.implicits._
    // doc 1 appears under BOTH labels — the exact failure mode the
    // marginal comment warns about
    val dirty = Seq(
      (1L, "cat dog", "en"), (1L, "cat dog", "fr"),
      (2L, "cat fish", "en"))
      .toDF("doc_id", "text", "lang")
    val ex = intercept[Exception] {
      graft.ops.TextOps.labelAssociation(dirty, col("lang"),
        minCount = 1L).collect()
    }
    assert(ex.getMessage.contains("one label per doc"),
      s"wrong failure: ${ex.getMessage}")
    // null labels keep their long-standing tolerated behavior — the
    // guard watches MULTI-label docs, not missing labels (a null-
    // label row must not trip it with a negative pair count)
    val withNull = Seq(
      (1L, "cat dog", "en"), (2L, "cat fish", null.asInstanceOf[String]),
      (3L, "cat dog", "en"))
      .toDF("doc_id", "text", "lang")
    val ok = graft.ops.TextOps.labelAssociation(withNull, col("lang"),
      minCount = 1L).collect()
    assert(ok.nonEmpty, "null-label corpus produced no card")
    graft.ops.Reuse.freeAll(spark)
  }
}
