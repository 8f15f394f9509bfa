package graft.agg

import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.{col, udaf, when}
import org.apache.spark.sql.{Column, Encoder}

/** One candidate row for the TopK aggregate: ranked by weight DESC with id
  * ASC as the total tie-break (determinism rule, SURVEY.md §7.3). */
case class TopKItem(weight: Double, id: Long)

/**
 * OP-26: bounded top-k as a typed `Aggregator` — the Spark analog of
 * Trill's built-in TopK aggregate (used at reference
 * TweetGateCore/Query.cs:65,98,130,156). Subclasses supply the rank
 * order `ord`, optionally a dedupe key, `finish` and the encoders.
 *
 * The buffer never exceeds k elements and is kept sorted, so partial
 * (map-side) aggregation ships at most k rows per group per partition into
 * the shuffle — the property that makes per-group examples affordable at
 * 100 TB. `merge` is a k-bounded sorted merge, associative and commutative
 * (scalacheck-verified in TopKSpec), so the result is independent of
 * partitioning.
 *
 * With a dedupe key the buffer holds at most one row per key, the key's
 * best: a row whose key is present replaces that row only when strictly
 * better under `ord`, so exact re-delivery of a row is a no-op. This
 * stays EXACT, not approximate (TopKSpec law vs the unbounded compute).
 * Invariants: (1) a buffered key's value is its best row among ALL its
 * arrived rows — re-entry after eviction requires beating the buffer
 * min, which only grows and was >= the key's max at eviction, so any
 * re-entering row is the key's new max; (2) an absent key's best is <=
 * the buffer min — it was either never inserted (rejected rows are <=
 * min) or evicted by k strictly-better distinct keys, so it cannot
 * belong to the true top-k. Merge keeps each key's best of both buffers
 * then the top k, exact by the same argument applied per partition.
 */
abstract class BoundedTopK[IN, OUT](k: Int)
    extends Aggregator[IN, Seq[IN], OUT] {
  require(k > 0)

  /** Rank order: the buffer keeps the k least rows under it. */
  protected val ord: Ordering[IN]

  /** The dedupe rule: `Some(same)` makes the buffer distinct over the
    * key `same` compares; `None` keeps every row. */
  protected val sameKey: Option[(IN, IN) => Boolean] = None

  override def zero: Seq[IN] = Vector.empty

  /** The key check must run BEFORE the evict-last path: evicting `last`
    * to re-insert an already-present key would silently drop a row. */
  override def reduce(b: Seq[IN], a: IN): Seq[IN] = {
    val i = sameKey match {
      case Some(same) => b.indexWhere(same(_, a))
      case None       => -1
    }
    if (i >= 0) {
      if (ord.lt(a, b(i))) insertSorted(b.patch(i, Nil, 1), a) else b
    } else if (b.size < k) insertSorted(b, a)
    else if (ord.lt(a, b.last)) insertSorted(b.init, a)
    else b
  }

  private def insertSorted(b: Seq[IN], a: IN): Seq[IN] = {
    val i = b.indexWhere(x => ord.gt(x, a)) match {
      case -1 => b.size
      case n  => n
    }
    (b.take(i) :+ a) ++ b.drop(i)
  }

  /** With a dedupe rule the first row of each key in rank order is the
    * key's best, so it alone is kept. */
  override def merge(b1: Seq[IN], b2: Seq[IN]): Seq[IN] = {
    val s = (b1 ++ b2).sorted(ord)
    sameKey.fold(s)(same => s.foldLeft(Vector.empty[IN]) { (kept, x) =>
      if (kept.exists(same(_, x))) kept else kept :+ x
    }).take(k)
  }
}

/** Top-k ids by weight DESC, id ASC. With `distinct = true` a (weight,
  * id) value already in the buffer is a no-op, so "buffer size" counts
  * DISTINCT inputs — the property the stop-shingle df cap needs when
  * the input stream may repeat a (doc, shingle) pair (`ord` ties ⟺
  * value equality here, since the ordering is the injective map t →
  * (-t.weight, t.id)). */
class TopKIds(k: Int, distinct: Boolean = false)
    extends BoundedTopK[TopKItem, Seq[Long]](k) {
  protected val ord: Ordering[TopKItem] =
    Ordering.by((t: TopKItem) => (-t.weight, t.id))
  override protected val sameKey: Option[(TopKItem, TopKItem) => Boolean] =
    if (distinct) Some(ord.equiv) else None

  override def finish(r: Seq[TopKItem]): Seq[Long] = r.map(_.id)

  override def bufferEncoder: Encoder[Seq[TopKItem]] =
    ExpressionEncoder[Seq[TopKItem]]()
  override def outputEncoder: Encoder[Seq[Long]] =
    ExpressionEncoder[Seq[Long]]()
}

/** The reference's full example payload (`TweetDescription`,
  * TweetGateCore/AggregatePayloads.cs:5-13): one stored example tweet of
  * an entity's per-window top-k. */
case class TweetExample(followerCount: Long, id: Long, text: String,
    screenName: String, originalTweetId: Long)

/** [[TopKTweets]] input: a [[TweetExample]] plus the dedupe key the
  * buffer is distinct over. Mentions/hashtags pass the effective
  * original-tweet id ([[TopK.exampleKey]]: retweets of one tweet
  * collapse to one example); retweets pass the row's own id (the group
  * key IS the original id there — deduping by it would collapse the
  * examples to one, and the reference applies no dedupe on that path,
  * Query.cs:130-137). */
case class KeyedExample(dedupeKey: Long, followerCount: Long, id: Long,
    text: String, screenName: String, originalTweetId: Long)

/**
 * OP-26/27 fused: bounded top-k FULL example payloads, distinct per
 * dedupe key — the stored `TopTweets: TweetDescription[]` of the
 * reference's entity column families (AggregatePayloads.cs:29-42,
 * persisted via RocksDBStore.cs:96-127), as one bounded typed
 * `Aggregator`.
 *
 * Semantics (= batch [[Payloads.topEntityPayloads]]): per dedupe key
 * keep the best row (followerCount DESC, id ASC — the OP-27
 * max-follower representative), then the top-k keys by the same order.
 * The buffer holds at most k rows, one per key, kept sorted, so partial
 * aggregation ships <= k structs per group per partition — the bound
 * that makes full payloads (not just ids) affordable in the shuffle and
 * the state store at 100 TB.
 *
 * Totality caveat: the order is total because a tweet id identifies one
 * tweet — distinct rows never collide on (followerCount, id). Exact
 * re-delivery of the same row (at-least-once sources) is a no-op in
 * `reduce` (key present, not strictly better).
 */
class TopKTweets(k: Int)
    extends BoundedTopK[KeyedExample, Seq[TweetExample]](k) {
  protected val ord: Ordering[KeyedExample] =
    Ordering.by((t: KeyedExample) => (-t.followerCount, t.id))
  override protected val sameKey
      : Option[(KeyedExample, KeyedExample) => Boolean] =
    Some(_.dedupeKey == _.dedupeKey)

  override def finish(r: Seq[KeyedExample]): Seq[TweetExample] =
    r.map(e => TweetExample(e.followerCount, e.id, e.text, e.screenName,
      e.originalTweetId))

  override def bufferEncoder: Encoder[Seq[KeyedExample]] =
    ExpressionEncoder[Seq[KeyedExample]]()
  override def outputEncoder: Encoder[Seq[TweetExample]] =
    ExpressionEncoder[Seq[TweetExample]]()
}

/** A ranked entity WITH its full example payloads, carried through the
  * second-level top-k — the complete per-window record the reference's
  * observables emit (`TopMentions`/`TopHashTags` with
  * `TopTweets: TweetDescription[]`, AggregatePayloads.cs:29-42, produced
  * by `GetTopItems`, Query.cs:152-168). */
case class TopKEntityPayload(weight: Double, entity: String,
    tweetCount: Long, topTweets: Seq[TweetExample])

/**
 * OP-26/28 second level: bounded top-k over entity rows that each hold
 * their (already k-bounded) example structs, ranked by weight DESC with
 * entity ASC tie-break. Being an `Aggregator`, it is legal as the second
 * stateful operator of a chained streaming query (Spark ≥3.4
 * multiple-stateful-operator support), so the complete reference
 * emission (top-10 entities, each with 10 example tweets) runs
 * incrementally end-to-end with state bounded at k entities x k
 * examples per rank window, instead of ranking in foreachBatch.
 */
class TopKEntitiesPayload(k: Int)
    extends BoundedTopK[TopKEntityPayload, Seq[TopKEntityPayload]](k) {
  protected val ord: Ordering[TopKEntityPayload] =
    Ordering.by((t: TopKEntityPayload) => (-t.weight, t.entity))

  override def finish(r: Seq[TopKEntityPayload]): Seq[TopKEntityPayload] = r

  override def bufferEncoder: Encoder[Seq[TopKEntityPayload]] =
    ExpressionEncoder[Seq[TopKEntityPayload]]()
  override def outputEncoder: Encoder[Seq[TopKEntityPayload]] =
    ExpressionEncoder[Seq[TopKEntityPayload]]()
}

object TopK {
  /** Untyped (DataFrame) form: `topKIds(10)(col("value"), col("id"))`. */
  def topKIds(k: Int): (Column, Column) => Column = {
    val fn = udaf(new TopKIds(k), ExpressionEncoder[TopKItem]())
    (weight, id) => fn(weight, id)
  }

  /** Distinct-input form: duplicate (weight, id) pairs collapse, so the
    * buffer bound counts distinct inputs (see [[TopKIds]]). */
  def topKDistinctIds(k: Int): (Column, Column) => Column = {
    val fn = udaf(new TopKIds(k, distinct = true),
      ExpressionEncoder[TopKItem]())
    (weight, id) => fn(weight, id)
  }

  /** Untyped form of [[TopKTweets]]: `topKTweets(10)(dedupeKey, fc, id,
    * text, screenName, originalTweetId)` → `array<struct<followerCount,
    * id, text, screenName, originalTweetId>>`. */
  def topKTweets(k: Int)
      : (Column, Column, Column, Column, Column, Column) => Column = {
    val fn = udaf(new TopKTweets(k), ExpressionEncoder[KeyedExample]())
    (key, fc, id, text, sn, oid) => fn(key, fc, id, text, sn, oid)
  }

  /** OP-27's example dedupe key over a projected tweet row (Query.cs:
    * 82-84): a retweet keys on its original tweet's id, so retweets of
    * one tweet collapse to one example; any other tweet keys on its own
    * id. */
  def exampleKey: Column =
    when(col("originalTweetId") =!= -1L, col("originalTweetId"))
      .otherwise(col("id"))

  /** Untyped form of [[TopKEntitiesPayload]]: the 4th column is the
    * entity's `array<struct>` example payloads. */
  def topKEntitiesPayload(k: Int)
      : (Column, Column, Column, Column) => Column = {
    val fn = udaf(new TopKEntitiesPayload(k),
      ExpressionEncoder[TopKEntityPayload]())
    (weight, entity, cnt, tops) => fn(weight, entity, cnt, tops)
  }
}
