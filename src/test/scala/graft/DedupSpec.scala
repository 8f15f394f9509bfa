package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.ops.{Dedup, Hashing, TextOps}

/**
 * Property checks for the round-4 shingle restructure: the bounded
 * grouped pipeline (TopKIds-collected per-shingle doc lists + in-list
 * pair combinations) must be extensionally equal to the classic
 * specification it replaced (distinct pairs → df-count stop filter →
 * self-join on the shingle hash).
 */
class DedupSpec extends TestBase {

  /** Random docs over a tiny vocabulary so shingles collide across docs. */
  private val docsGen: Gen[List[(Long, String)]] = {
    val word = Gen.oneOf("a", "b", "c", "d", "e", "f")
    val text = Gen.choose(0, 12).flatMap(n =>
      Gen.listOfN(n, word).map(_.mkString(" ")))
    Gen.choose(2, 8).flatMap(k =>
      Gen.listOfN(k, text).map(_.zipWithIndex.map {
        case (t, i) => (i.toLong, t)
      }))
  }

  /** The classic capped-shingle relation, written the pre-round-4 way. */
  private def specShingles(docs: DataFrame, maxDocFreq: Long): DataFrame = {
    val sh = docs
      .select(col("doc_id"),
        explode(TextOps.shingles(TextOps.tokens(col("text")), 3)).as("sh"))
      .select(col("doc_id"), Hashing.portableHash32(col("sh")).as("h"))
      .distinct()
    val hot = sh.groupBy("h").agg(count("*").as("df"))
      .filter(col("df") > maxDocFreq).select("h")
    sh.join(hot, Seq("h"), "left_anti")
  }

  test("shingleGroups (bounded TopKIds collector) == distinct/df-cap/" +
      "anti-join spec, including when the cap binds") {
    import spark.implicits._
    val p = Prop.forAll(docsGen) { rows =>
      val docs = rows.toDF("doc_id", "text")
      // maxDocFreq = 2 so the bound actually bites on shared shingles
      val got = Dedup.shingleHashes(docs, "doc_id", "text",
          maxDocFreq = 2, materialize = false)
        .as[(Long, Long)].collect().toSet
      val want = specShingles(docs, 2L)
        .select(col("doc_id"), col("h"))
        .as[(Long, Long)].collect().toSet
      got == want
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(8), p)
    assert(res.passed, res.status.toString)
  }

  test("dedupeIncrement drops corpus matches and lower-id increment " +
      "dups, keeps novel docs") {
    import spark.implicits._
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val other = (1 to 40).map(i => s"x$i").mkString(" ")
    val corpus = Seq((1L, base)).toDF("doc_id", "text")
    val inc = Seq(
      (10L, base),                                // dup of corpus -> drop
      (11L, other),                               // novel, first -> keep
      (12L, other),                               // dup of 11 -> drop
      (13L, (1 to 40).map(i => s"y$i").mkString(" "))) // novel -> keep
      .toDF("doc_id", "text")
    val corpusBands =
      Dedup.bandedSignatures(Dedup.minhashSignatures(corpus))
    val kept = Dedup.dedupeIncrement(corpusBands, inc)
      .select("doc_id").as[Long].collect().sorted.toSeq
    graft.ops.Reuse.freeAll(spark)
    assert(kept == Seq(11L, 13L))
  }

  test("ngramJaccard (in-list pair combos) == self-join specification") {
    import spark.implicits._
    val p = Prop.forAll(docsGen) { rows =>
      val docs = rows.toDF("doc_id", "text")
      val got = Dedup.ngramJaccard(docs, threshold = 0.0)
        .select("id_a", "id_b", "n_inter")
        .as[(Long, Long, Long)].collect().toSet
      val sh = specShingles(docs, 50L)
      val want = sh.select(col("doc_id").as("id_a"), col("h"))
        .join(sh.select(col("doc_id").as("id_b"), col("h")), "h")
        .filter(col("id_a") < col("id_b"))
        .groupBy("id_a", "id_b").agg(count("*").as("n_inter"))
        .as[(Long, Long, Long)].collect().toSet
      graft.ops.Reuse.freeAll(spark)
      got == want
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(8), p)
    assert(res.passed, res.status.toString)
  }

  test("dupSpans: maximal intervals merge adjacent shared n-grams, " +
      "split on gaps, skip unshared docs; histogram folds the " +
      "listing (ext125/ext127)") {
    import spark.implicits._
    // doc 1 shares "a b c d e" with doc 2 AND "a b c"/"f g h" with
    // doc 4 — its covered sets 1-5 and 6-8 TOUCH, so maximality must
    // merge them into one (1,8) span; doc 4's two shared regions are
    // separated by the qqqq gap → two spans; doc 3 shares nothing.
    val docs = Seq(
      (1L, "a b c d e f g h"),
      (2L, "x x a b c d e y z w"),
      (3L, "p q r"),
      (4L, "a b c q q q q f g h"))
      .toDF("doc_id", "text")
    val spans = Dedup.dupSpans(docs)
      .as[(Long, Long, Long)].collect().sorted.toSeq
    assert(spans == Seq((1L, 1L, 8L), (2L, 3L, 5L),
      (4L, 1L, 3L), (4L, 8L, 3L)))
    val hist = Dedup.dupSpanHistogram(docs)
      .as[(Long, Long, Long, Long)].collect().sorted.toSeq
    assert(hist == Seq((3L, 2L, 1L, 6L), (5L, 1L, 1L, 5L),
      (8L, 1L, 1L, 8L)))
    // stream-static: scoring a subset against the stored shared-hash
    // artifact reproduces the batch rows for that subset
    val shared = Dedup.dupSharedHashes(docs)
    val sub = Dedup.dupSpansAgainst(docs.filter(col("doc_id") === 4L),
      shared).as[(Long, Long, Long)].collect().sorted.toSeq
    assert(sub == Seq((4L, 1L, 3L), (4L, 8L, 3L)))
  }

  test("pairRecall: exact quantized fraction; misses counted; empty " +
      "truth and zero-hit edges are 0, not null (ext54)") {
    import spark.implicits._
    val truth = Seq((1L, 2L), (3L, 4L), (5L, 6L), (7L, 8L))
      .toDF("id_a", "id_b")
    val cand = Seq((1L, 2L), (3L, 4L), (5L, 6L), (9L, 10L))
      .toDF("id_a", "id_b")
    val got = Dedup.pairRecall(truth, cand)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((4L, 3L, 750000L))) // 3/4 found; extra cand ignored
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Dedup.pairRecall(empty, cand)
      .as[(Long, Long, Long)].collect().toSeq == Seq((0L, 0L, 0L)))
    assert(Dedup.pairRecall(truth, empty)
      .as[(Long, Long, Long)].collect().toSeq == Seq((4L, 0L, 0L)))
    // Duplicate candidate rows must not fan out truth rows (r5 ADVICE:
    // the join dedups its candidate side — recall_q can never top 1e6).
    assert(Dedup.pairRecall(truth, cand.union(cand))
      .as[(Long, Long, Long)].collect().toSeq == Seq((4L, 3L, 750000L)))
  }

  test("noveltyScores: exact copies score 0, unique docs 1e6, partial " +
      "in between, short docs keep a zero row (ext69)") {
    import spark.implicits._
    def words(seed: Int, n: Int) =
      (0 until n).map(i => s"w${seed}_$i").mkString(" ")
    val shared = words(1, 10)
    val docs = Seq(
      (1L, shared),                       // exact copy of doc 2
      (2L, shared),                       // exact copy of doc 1
      (3L, words(2, 12)),                 // fully unique
      (4L, shared + " " + words(3, 10)),  // half shared, half unique
      (5L, "one two")                     // below shingle width
    ).toDF("doc_id", "text")
    val byId = Dedup.noveltyScores(docs)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(byId(1L)._3 == 0L && byId(2L)._3 == 0L)
    assert(byId(3L) == ((10L, 10L, 1000000L)))
    // doc 4: 8 shared shingles (within `shared`) + the rest unique
    assert(byId(4L)._3 > 0L && byId(4L)._3 < 1000000L)
    assert(byId(5L) == ((0L, 0L, 0L)))
    graft.ops.Reuse.freeAll(spark)
  }

  test("ext70 radius curve: 3 rows, recall/candidates/detections " +
      "monotone in the radius, radius 3 == ext65's single point") {
    import spark.implicits._
    val dir = sf("sf0.001")
    val curve = SparkEntry.queries("ext70_simhash_radius_curve")(spark, dir)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(curve.map(_._1) == Seq(1L, 2L, 3L))
    // Widening the hamming radius can only ADD candidates: every column
    // of the curve is non-decreasing, and truth size is radius-free.
    assert(curve.map(_._2).distinct.size == 1, "n_true varies with radius")
    Seq[((Long, Long, Long, Long, Long)) => Long](_._3, _._4, _._5)
      .foreach { f =>
        val xs = curve.map(f)
        assert(xs == xs.sorted, s"curve not monotone: $xs")
      }
    val point = SparkEntry.queries("ext65_simhash_recall")(spark, dir)
      .as[(Long, Long, Long)].collect().head
    assert((curve.last._2, curve.last._3, curve.last._4) == point,
      "radius-3 curve row diverges from the ext65 audit")
    graft.ops.Reuse.freeAll(spark)
  }

  test("keyOverlap: containment detects the mirrored source, skips the " +
      "disjoint one; boilerplate shingles above the key-df cap drop " +
      "(ext68)") {
    import spark.implicits._
    def words(seed: Int, n: Int) =
      (0 until n).map(i => s"w${seed}_$i").mkString(" ")
    val mirrored = words(1, 20)
    val docs = Seq(
      (1L, "siteA", mirrored + " " + words(2, 10)), // superset of siteB
      (2L, "siteB", mirrored),                      // fully contained in A
      (3L, "siteC", words(3, 15))                   // disjoint
    ).toDF("doc_id", "source", "text")
    val got = Dedup.keyOverlap(docs, "source")
      .as[(String, String, Long, Long)].collect().toSeq.sortBy(r => (r._1, r._2))
    // B's 18 shingles all appear in A -> containment(B -> A) = 1e6
    val bToA = got.find(r => r._1 == "siteB" && r._2 == "siteA").get
    assert(bToA._4 == 1000000L, s"expected full containment, got $bToA")
    // A -> B is partial (A has extra shingles)
    val aToB = got.find(r => r._1 == "siteA" && r._2 == "siteB").get
    assert(aToB._4 > 0 && aToB._4 < 1000000L)
    // the disjoint source shares nothing -> absent from the matrix
    assert(!got.exists(r => r._1 == "siteC" || r._2 == "siteC"))
    // a shingle present in MORE keys than the cap is dropped entirely
    val many = (0 until 4).map(i => (10L + i, s"s$i", "x y z " + words(9, 3)))
      .toDF("doc_id", "source", "text")
    assert(Dedup.keyOverlap(many, "source", maxKeyFreq = 3).count() == 0)
    graft.ops.Reuse.freeAll(spark)
  }

  test("pairPrecision: candidate-side fraction, roles swapped from " +
      "recall; duplicate candidates counted once (ext61)") {
    import spark.implicits._
    val truth = Seq((1L, 2L), (3L, 4L), (5L, 6L), (7L, 8L))
      .toDF("id_a", "id_b")
    val cand = Seq((1L, 2L), (3L, 4L), (5L, 6L), (9L, 10L))
      .toDF("id_a", "id_b")
    // 3 of 4 candidates verify -> precision 750000
    assert(Dedup.pairPrecision(truth, cand)
      .as[(Long, Long, Long)].collect().toSeq == Seq((4L, 3L, 750000L)))
    // same pair sets => precision hits == recall hits (set intersection)
    assert(Dedup.pairPrecision(truth, cand.union(cand))
      .as[(Long, Long, Long)].collect().toSeq == Seq((4L, 3L, 750000L)))
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Dedup.pairPrecision(truth, empty)
      .as[(Long, Long, Long)].collect().toSeq == Seq((0L, 0L, 0L)))
  }

  test("dedupWeights: 1e6/|family| for members, 1e6 for singletons; " +
      "family mass ~ one doc (ext79)") {
    import spark.implicits._
    val docs = (1L to 6L).toDF("doc_id")
    val clusters = Seq((1L, 10L), (2L, 10L), (3L, 20L), (4L, 20L),
      (5L, 20L)).toDF("doc_id", "cluster_id")
    val got = Dedup.dedupWeights(docs, clusters)
      .orderBy("doc_id").as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L, 500000L), (2L, 2L, 500000L),
      (3L, 3L, 333333L), (4L, 3L, 333333L), (5L, 3L, 333333L),
      (6L, 1L, 1000000L)))
    // every family's total draw mass is within |family| ppm-floors of 1e6
    val mass = Dedup.dedupWeights(docs, clusters)
      .groupBy("n_members").agg(sum($"weight_ppm").as("m"))
      .as[(Long, Long)].collect().toMap
    assert(mass.forall { case (n, m) => m > 1000000L - n && m <= 1000000L })
  }

  test("snapshotDiff: md5 identity over distinct texts; within-side " +
      "dups collapse (ext81)") {
    import spark.implicits._
    val a = Seq("x", "y", "y").toDF("text")
    val b = Seq("y", "z", "z", "w").toDF("text")
    val got = Dedup.snapshotDiff(a, b).orderBy("status")
      .as[(String, Long)].collect().toSeq
    assert(got == Seq(("both", 1L), ("only_a", 1L), ("only_b", 2L)))
    // identical snapshots: everything lands in `both`
    val same = Dedup.snapshotDiff(a, a).as[(String, Long)].collect().toSeq
    assert(same == Seq(("both", 2L)))
  }

  test("dupSpanMass: cross-doc spans counted position-weighted; " +
      "intra-doc-only repeats and short docs score zero (ext91)") {
    import spark.implicits._
    def words(seed: Int, n: Int) =
      (0 until n).map(i => s"w${seed}_$i").mkString(" ")
    val shared = words(1, 10) // 10 tokens -> 8 shingle positions
    val docs = Seq(
      (1L, shared),                          // fully duplicated vs doc 2
      (2L, shared + " " + words(2, 10)),     // first half shared
      (3L, words(3, 12)),                    // unique
      (4L, words(4, 6) + " " + words(4, 6)), // intra-doc repeat ONLY
      (5L, "a b")                            // below shingle width
    ).toDF("doc_id", "text")
    val got = Dedup.dupSpanMass(docs).as[(Long, Long, Long, Long, Long)]
      .collect().map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    // doc 1: all 8 spans shared with doc 2, all 10 tokens covered
    assert(got(1L) == ((8L, 8L, 10L, 1000000L)))
    // doc 2: 20 toks -> 18 spans; the 8 inside `shared` are dup (the
    // boundary-straddling shingles are unique), covering tokens 1..10
    assert(got(2L) == ((18L, 8L, 10L, 500000L)))
    assert(got(3L) == ((10L, 0L, 0L, 0L)))
    // doc 4's repeated 3-grams live in one doc only: min==max, not dup
    assert(got(4L)._2 == 0L && got(4L)._4 == 0L)
    assert(got(5L) == ((0L, 0L, 0L, 0L)))
    graft.ops.Reuse.freeAll(spark)
  }

  test("topSharedNgrams: exact df over distinct docs, text surfaces, " +
      "df>=2 filter, (df DESC, ngram ASC) total order (ext94)") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d"),  // "a b c", "b c d"
      (2L, "a b c x"),  // "a b c", "b c x"
      (3L, "a b c d"),  // repeats doc 1
      (4L, "z z z z z") // intra-doc repeats only: df stays 1
    ).toDF("doc_id", "text")
    val got = Dedup.topSharedNgrams(docs, 10)
      .as[(String, Long)].collect().toSeq
    assert(got == Seq(("a b c", 3L), ("b c d", 2L)))
    // head bound: k = 1 keeps only the top row
    assert(Dedup.topSharedNgrams(docs, 1)
      .as[(String, Long)].collect().toSeq == Seq(("a b c", 3L)))
  }

  test("dupSpanSurgery: shared spans cut everywhere except the min-id " +
      "keeper; full duplicate empties; keeper and short docs untouched " +
      "(ext96)") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e"),     // keeper of everything it shares
      (2L, "x y a b c z"),   // shares "a b c" -> cuts tokens 3..5
      (3L, "a b c d e"),     // exact copy of doc 1 -> empties
      (4L, "p q")            // below shingle width -> untouched
    ).toDF("doc_id", "text")
    val got = Dedup.dupSpanSurgery(docs)
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) == ((5L, 0L, "a b c d e")))
    assert(got(2L) == ((6L, 3L, "x y z")))
    assert(got(3L) == ((5L, 5L, "")))
    assert(got(4L) == ((2L, 0L, "p q")))
    // exactly one copy of the shared n-gram survives corpus-wide
    val survivors = got.values.count(_._3.contains("a b c"))
    assert(survivors == 1)
    graft.ops.Reuse.freeAll(spark)
  }

  test("repetitionSurgery: repeated phrases collapse to their first " +
      "occurrence; repetition-free docs byte-identical (ext123)") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c a b c a b c a"),  // 3x phrase + tail
      (2L, "x y x y x y z"),        // overlapping repeats
      (3L, "p q r s t"),            // repetition-free
      (4L, "hi"))                   // shorter than a trigram
      .toDF("doc_id", "text")
    val got = Dedup.repetitionSurgery(docs)
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // trigram firsts abc@1 bca@2 cab@3; repeats at 4..8 cover 4..10
    assert(got(1L) == ((10L, 7L, "a b c")))
    // firsts xyx@1 yxy@2 xyz@5; repeats at 3,4 cover 3..6
    assert(got(2L) == ((7L, 4L, "x y z")))
    assert(got(3L) == ((5L, 0L, "p q r s t")))
    assert(got(4L) == ((1L, 0L, "hi")))
    graft.ops.Reuse.freeAll(spark)
  }

  test("lexicalAgreementAudit: exact copies confirm at cosine 1.0; " +
      "no-pair corpus yields a guarded zero row (ext100)") {
    import spark.implicits._
    def words(seed: Int, n: Int) =
      (0 until n).map(i => s"w${seed}_$i").mkString(" ")
    val dup = words(1, 12)
    val docs = Seq(
      (1L, dup), (2L, dup),      // the LSH pair; identical BoW -> cos 1
      (3L, words(9, 15))         // unrelated
    ).toDF("doc_id", "text")
    val got = Dedup.lexicalAgreementAudit(docs)
      .as[(Long, Long, Long, Long)].head()
    assert(got == ((1L, 1L, 1000000L, 1000000L)), s"got $got")
    // pairless corpus: one well-defined zero row, no NULL/NaN
    val alone = Seq((1L, words(1, 12)), (2L, words(2, 12)))
      .toDF("doc_id", "text")
    val zero = Dedup.lexicalAgreementAudit(alone)
      .as[(Long, Long, Long, Long)].head()
    assert(zero == ((0L, 0L, 0L, 0L)))
    graft.ops.Reuse.freeAll(spark)
  }

  test("decontaminationSurgery: benchmark spans cut from every corpus " +
      "doc (no keeper among training docs), clean docs untouched " +
      "(ext97)") {
    import spark.implicits._
    val bench = Seq((100L, "q1 q2 q3 q4")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "x y q1 q2 q3 z"),        // one benchmark 3-gram inside
      (2L, "clean text only here")
    ).toDF("doc_id", "text")
    val got = Dedup.decontaminationSurgery(corpus, bench)
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) == ((6L, 3L, "x y z")))
    assert(got(2L) == ((4L, 0L, "clean text only here")))
    graft.ops.Reuse.freeAll(spark)
  }

  test("containment pairs: a fully-quoted short doc scores 1e6 where " +
      "jaccard reads 333333 (ext113)") {
    import spark.implicits._
    val short0 = (1 to 12).map(i => s"b$i").mkString(" ")   // 10 shingles
    val long0 = ((1 to 12).map(i => s"b$i") ++
      (1 to 20).map(i => s"c$i")).mkString(" ")             // 30 shingles
    val docs = Seq(
      (1L, short0),                                  // contained in 2
      (2L, long0),
      (3L, (1 to 12).map(i => s"z$i").mkString(" ")) // unrelated
    ).toDF("doc_id", "text")
    val got = Dedup.containmentPairs(docs, threshold = 0.8)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    // |∩| = 10, min side 10 → containment 1e6; jaccard 10/30
    assert(got == Seq((1L, 2L, 10L, 1000000L, 333333L)))
    // the symmetric detector at any usual threshold misses this pair
    val jac = Dedup.ngramJaccard(docs, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    assert(!jac.contains((1L, 2L)))
    graft.ops.Reuse.freeAll(spark)
  }

  test("prefix-filtered jaccard join: COMPLETE vs naive all-pairs at " +
      "tau, boundary pair kept, below-tau dropped (ext135)") {
    import spark.implicits._
    // Boundary engineering on shingle SETS: doc 1 has shingles of
    // "a1..a12" (10 shingles), doc 2 shares 9 of them plus one run of
    // its own → J = 9/(10+11-9) = 0.75 < 0.8 dropped; doc 3 = doc 1
    // verbatim → J = 1 kept. Doc 4 unrelated.
    val docs = Seq(
      (1L, (1 to 12).map(i => s"a$i").mkString(" ")),
      (2L, ((1 to 11).map(i => s"a$i") ++ Seq("q1", "q2")).mkString(" ")),
      (3L, (1 to 12).map(i => s"a$i").mkString(" ")),
      (4L, (1 to 12).map(i => s"z$i").mkString(" "))
    ).toDF("doc_id", "text")
    val got = Dedup.jaccardPrefixJoin(docs)
      .select("id_a", "id_b", "jaccard_ppm")
      .as[(Long, Long, Long)].collect().toSeq.sorted
    assert(got == Seq((1L, 3L, 1000000L)))
    // Completeness law on the real corpus: the prefix join emits
    // EXACTLY the pairs the naive all-pairs exact-Jaccard join finds at
    // tau — nothing lost (the pigeonhole guarantee), nothing extra.
    val real = graft.ingest.Tables.documents(spark, sf("sf0.001"))
    val toks = Dedup.distinctDocShingles(real)
    val sizes = toks.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val naive = toks.as("x").join(toks.as("y"),
        col("x.h") === col("y.h") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
      .agg(count(lit(1)).as("ni"))
      .join(sizes.select(col("doc_id").as("id_a"), col("n").as("na")),
        "id_a")
      .join(sizes.select(col("doc_id").as("id_b"), col("n").as("nb")),
        "id_b")
      .filter(lit(5L) * col("ni") >= lit(4L) * (col("na") + col("nb")
        - col("ni")))
      .select("id_a", "id_b")
    val pref = Dedup.jaccardPrefixJoin(real).select("id_a", "id_b")
    assert(pref.except(naive).isEmpty && naive.except(pref).isEmpty &&
      pref.count() > 0)
    graft.ops.Reuse.freeAll(spark)
  }

  test("lsh band plan: fixed-point S-curve chain hand-checked; card " +
      "shape, bounds, recall monotone in rows-per-band (ext149)") {
    import spark.implicits._
    // fpPowChain at s = 0.5 ppm, r=2, b=8 — every truncation
    // hand-computed: s^2 = 250000; q = 750000; q^2 = 562500,
    // q^3 = 421875, q^4 = 316406, q^5 = 237304, q^6 = 177978,
    // q^7 = 133483, q^8 = 100112; p = 1e6 - q^8 = 899888.
    val p28 = s"(1000000 - ${Dedup.fpPowChain(
      s"(1000000 - ${Dedup.fpPowChain("s", 2)})", 8)})"
    val v = Seq(500000L).toDF("s").select(expr(p28).cast("long"))
      .as[Long].collect().head
    assert(v == 899888L, s"S-curve chain drifted: $v")
    // the card over the real corpus
    val card = Dedup.lshBandPlan(
        graft.ingest.Tables.documents(spark, sf("sf0.001")))
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(card.map(r => (r._1, r._2)) ==
      Seq((1L, 16L), (2L, 8L), (4L, 4L), (8L, 2L), (16L, 1L)))
    assert(card.map(_._3).distinct.size == 1 && card.head._3 > 0,
      "truth-pair count must be plan-independent and non-empty")
    assert(card.forall(r => r._4 >= 0L && r._4 <= 1000000L))
    // more rows per band = a stricter AND = recall can only drop
    assert(card.map(_._4).zip(card.map(_._4).tail)
      .forall { case (a, b) => b <= a },
      s"recall not monotone in rows-per-band: $card")
    assert(card.filter(_._5 == 1L).map(_._1) == Seq(4L),
      "in_use must mark exactly the shipped 4x4 plan")
    graft.ops.Reuse.freeAll(spark)
  }
}
