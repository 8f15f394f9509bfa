package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.agg.{KeyedExample, TopK, TopKIds, TopKItem, TopKTweets}
import graft.ingest.Tables

/** OP-26 laws (SURVEY.md §5d): merge associativity/commutativity, bound,
  * ordering — plus parity with the built-in composite on real data. */
class TopKSpec extends TestBase {

  private def checkProp(p: Prop): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(300), p)
    assert(res.passed, res.status.toString)
  }

  private val itemGen = for {
    w <- Gen.chooseNum(-100.0, 100.0)
    id <- Gen.chooseNum(0L, 50L)
  } yield TopKItem(w, id)
  private val itemsGen = Gen.listOf(itemGen)

  private def ref(k: Int, xs: Seq[TopKItem]): Seq[Long] =
    xs.sortBy(t => (-t.weight, t.id)).take(k).map(_.id)

  test("reduce-only result equals reference sort-take") {
    val agg = new TopKIds(5)
    checkProp(Prop.forAll(itemsGen) { xs =>
      xs.foldLeft(agg.zero)(agg.reduce) ==
        xs.sortBy(t => (-t.weight, t.id)).take(5)
    })
  }

  test("merge of split parts equals whole; associative & commutative") {
    val agg = new TopKIds(4)
    checkProp(Prop.forAll(itemsGen, Gen.chooseNum(0, 100)) { (xs, cut) =>
      val (l, r) = xs.splitAt(cut % (xs.size + 1))
      val whole = xs.foldLeft(agg.zero)(agg.reduce)
      val lb = l.foldLeft(agg.zero)(agg.reduce)
      val rb = r.foldLeft(agg.zero)(agg.reduce)
      agg.merge(lb, rb) == whole && agg.merge(rb, lb) == whole
    })
  }

  test("buffer never exceeds k") {
    val agg = new TopKIds(3)
    checkProp(Prop.forAll(itemsGen) { xs =>
      xs.foldLeft(agg.zero)(agg.reduce).size <= 3
    })
  }

  test("finish preserves weight-desc id-asc order") {
    val agg = new TopKIds(6)
    checkProp(Prop.forAll(itemsGen) { xs =>
      agg.finish(xs.foldLeft(agg.zero)(agg.reduce)) == ref(6, xs)
    })
  }

  test("distinct variant: duplicates collapse, laws hold") {
    val agg = new TopKIds(4, distinct = true)
    // Reference: de-duplicate (weight, id) values first, then sort-take.
    def refD(xs: Seq[TopKItem]): Seq[TopKItem] =
      xs.distinct.sortBy(t => (-t.weight, t.id)).take(4)
    // Duplicate-heavy generator: small value domain forces collisions.
    val dupItems = Gen.listOf(for {
      w <- Gen.chooseNum(0L, 6L); id <- Gen.chooseNum(0L, 6L)
    } yield TopKItem(-w.toDouble, id))
    checkProp(Prop.forAll(dupItems, Gen.chooseNum(0, 100)) { (xs, cut) =>
      val whole = xs.foldLeft(agg.zero)(agg.reduce)
      val (l, r) = xs.splitAt(cut % (xs.size + 1))
      val lb = l.foldLeft(agg.zero)(agg.reduce)
      val rb = r.foldLeft(agg.zero)(agg.reduce)
      whole == refD(xs) &&
        agg.merge(lb, rb) == whole && agg.merge(rb, lb) == whole
    })
  }

  test("distinct variant: full buffer keeps existing item on dup insert") {
    val agg = new TopKIds(2, distinct = true)
    val xs = Seq(TopKItem(3.0, 1L), TopKItem(2.0, 2L), TopKItem(3.0, 1L))
    // Third insert duplicates the best item while the buffer is full —
    // it must be a no-op, not an evict-last-and-reinsert.
    assert(xs.foldLeft(agg.zero)(agg.reduce) ==
      Seq(TopKItem(3.0, 1L), TopKItem(2.0, 2L)))
  }

  // ---- TopKTweets: bounded FULL-payload top-k, distinct per dedupe key --

  /** Unbounded reference: per dedupe key the best row (fc DESC, id ASC —
    * OP-27's max-follower representative), then top-k keys in the same
    * order — exactly batch `Payloads.topEntityPayloads`' dedupe-first
    * semantics. */
  private def refTweets(k: Int, xs: Seq[KeyedExample]): Seq[KeyedExample] =
    xs.groupBy(_.dedupeKey).valuesIterator
      .map(_.minBy(t => (-t.followerCount, t.id))).toVector
      .sortBy(t => (-t.followerCount, t.id)).take(k)

  // Small key/fc domains force the hard paths: same-key replacement,
  // eviction, and post-eviction re-entry of a key. Ids are assigned
  // uniquely (list position) — the real-domain invariant the ordering's
  // totality rests on: a tweet id identifies ONE tweet, so distinct rows
  // never collide on (followerCount, id).
  private val keyedGen = Gen.listOf(for {
    key <- Gen.chooseNum(0L, 8L)
    fc <- Gen.chooseNum(0L, 12L)
  } yield (key, fc)).map(_.zipWithIndex.map { case ((key, fc), i) =>
    KeyedExample(key, fc, i.toLong, s"t$i", s"u$key", key)
  })

  test("TopKTweets: bounded fold is EXACT vs unbounded dedupe-then-topk") {
    val agg = new TopKTweets(3)
    checkProp(Prop.forAll(keyedGen) { xs =>
      agg.finish(xs.foldLeft(agg.zero)(agg.reduce)) ==
        agg.finish(refTweets(3, xs))
    })
  }

  test("TopKTweets: merge of split parts equals whole; commutative; " +
      "buffer bounded and one-per-key") {
    val agg = new TopKTweets(3)
    checkProp(Prop.forAll(keyedGen, Gen.chooseNum(0, 100)) { (xs, cut) =>
      val (l, r) = xs.splitAt(cut % (xs.size + 1))
      val whole = refTweets(3, xs)
      val lb = l.foldLeft(agg.zero)(agg.reduce)
      val rb = r.foldLeft(agg.zero)(agg.reduce)
      lb.size <= 3 && lb.map(_.dedupeKey).distinct.size == lb.size &&
        agg.merge(lb, rb) == whole && agg.merge(rb, lb) == whole
    })
  }

  test("TopKTweets through the udaf/encoder path is partition-count " +
      "independent on events") {
    val ev = Tables.events(spark, sf("sf0.001"))
      .select(col("event_type"), col("user_id"),
        floor(col("value")).cast("long").as("fc"),
        col("event_id"), col("props"))
    def run(parts: Int) = {
      val fn = TopK.topKTweets(5)
      ev.repartition(parts)
        .groupBy("event_type")
        .agg(fn(col("user_id"), col("fc"), col("event_id"), col("props"),
          col("user_id").cast("string"), lit(-1L)).as("ex"))
        .select(col("event_type"),
          transform(col("ex"), e => e.getField("id")).as("ids"))
    }
    val a = run(1).collect().map(r => r.getString(0) -> r.getSeq[Long](1))
      .toMap
    val b = run(13).collect().map(r => r.getString(0) -> r.getSeq[Long](1))
      .toMap
    assert(a.nonEmpty && a == b,
      "TopKTweets result depends on partitioning")
  }

  // ---- TopKEntitiesPayload: second-level rank laws ----

  test("TopKEntitiesPayload: merge of any split equals whole; bounded; " +
      "payload arrays ride untouched") {
    import graft.agg.{TopKEntityPayload, TopKEntitiesPayload, TweetExample}
    val agg = new TopKEntitiesPayload(3)
    def ex(n: Long) = Seq(TweetExample(n, n, s"t$n", s"u$n", -1L))
    val entGen = Gen.listOf(for {
      w <- Gen.chooseNum(0L, 10L)
      e <- Gen.chooseNum(0, 6)
    } yield TopKEntityPayload(w.toDouble, s"e$e", w, ex(w)))
    def ref(xs: Seq[TopKEntityPayload]): Seq[TopKEntityPayload] =
      xs.sortBy(t => (-t.weight, t.entity)).take(3)
    checkProp(Prop.forAll(entGen, Gen.chooseNum(0, 100)) { (xs, cut) =>
      val (l, r) = xs.splitAt(cut % (xs.size + 1))
      val whole = xs.foldLeft(agg.zero)(agg.reduce)
      val lb = l.foldLeft(agg.zero)(agg.reduce)
      val rb = r.foldLeft(agg.zero)(agg.reduce)
      whole.size <= 3 && agg.finish(whole) == ref(xs) &&
        agg.merge(lb, rb) == whole && agg.merge(rb, lb) == whole
    })
  }

  test("udaf parity with built-in sort_array composite on events") {
    val ev = Tables.events(spark, sf("sf0.001"))
    val topk = TopK.topKIds(5)
    val viaAgg = ev.groupBy("event_type")
      .agg(topk(col("value"), col("event_id")).as("ids"))
    val viaBuiltin = ev.groupBy("event_type")
      .agg(slice(sort_array(collect_list(
        struct(col("value"), (-col("event_id")).as("nid"))), asc = false),
        1, 5).as("s"))
      .select(col("event_type"),
        transform(col("s"), x => -x.getField("nid")).as("ids"))
    val diff = viaAgg.join(viaBuiltin, "event_type")
      .filter(viaAgg("ids") =!= viaBuiltin("ids"))
    assert(diff.count() == 0)
  }

  test("one bounded top-k buffer and no twin re-typing a batch kernel: " +
      "def insertSorted once in src/main, the copies deleted") {
    val insertSorted = """\bdef insertSorted\b""".r
    val defs = MainSources.all.map { case (_, src) =>
      insertSorted.findAllIn(src).size }.sum
    assert(defs == 1, s"def insertSorted appears $defs times in src/main")
    val gone = Seq("TopKEntities", "TopKEntity", "topKEntities",
      "topEntitiesStreamChained", "psiPartialsSink",
      "trendSlopePartialsSink", "textrankPartialsSink")
    val found = for {
      (p, src) <- MainSources.all
      name <- gone if ("\\b" + name + "\\b").r.findFirstIn(src).isDefined
    } yield s"$p: $name"
    assert(found.isEmpty, found.mkString("; "))
  }
}
