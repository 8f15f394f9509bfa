package graft.agg

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Full reference output payloads (TweetGateCore/AggregatePayloads.cs):
 * per hopping window, the top-N entities with their aggregate stats AND
 * the deduped top example tweets — the exact record shape the reference
 * persists per entity per window (TopMentions/TopHashTags,
 * AggregatePayloads.cs:29-42), assembled batch-side.
 *
 * Semantics trace (reference Query.cs):
 *  - tweet_count / follower_sum aggregate over ALL rows of the group
 *    (Query.cs:63-64 Count/Sum);
 *  - example tweets dedupe FIRST per original-tweet key keeping the
 *    max-follower row (OP-27, Query.cs:82-84), then the top
 *    `examplesPerEntity` by follower count fill `topTweets`
 *    (tie-break id ASC);
 *  - entities rank per window by follower_sum (OP-28, top `topN`).
 */
object Payloads {

  private def entityRows(tweets: DataFrame, entities: Column): DataFrame =
    tweets
      .filter(size(entities) > 0)
      .select(col("ts"), explode(entities).as("entity"), col("id"),
        col("text"), col("screenName"), col("originalTweetId"),
        col("followerCount"))
      .select(col("*"),
        window(col("ts"), Windows.WindowSize, Windows.HopSize).as("w"))
      .select(col("w.end").cast("long").as("window_end"), col("entity"),
        col("id"), col("text"), col("screenName"), col("originalTweetId"),
        col("followerCount"))

  /**
   * The scale path (r12): stats AND the deduped bounded examples in ONE
   * grouped aggregation via [[TopKTweets]] — a single shuffle carrying
   * ≤ `examplesPerEntity` structs per (group × partition), where the
   * composite form pays a second grouped pass, a per-group window sort,
   * and a join. Semantics are identical (PayloadsSpec law: this equals
   * [[topEntityPayloadsComposite]] row-for-row; TopKSpec proves the
   * aggregator exact vs the unbounded compute; op27_topk_payloads
   * proves it cross-engine).
   */
  def topEntityPayloads(
      tweets: DataFrame,
      entities: Column, // array column, e.g. col("hashtags")
      topN: Int = Windows.TopN,
      examplesPerEntity: Int = Windows.ExamplesPerEntity): DataFrame = {
    val topk = TopK.topKTweets(examplesPerEntity)
    val agg = entityRows(tweets, entities)
      .groupBy("window_end", "entity")
      .agg(count("*").as("tweet_count"),
        sum(col("followerCount")).as("follower_sum"),
        topk(TopK.exampleKey, col("followerCount"), col("id"), col("text"),
          col("screenName"), col("originalTweetId")).as("tt"))
    Windows.rankTopEntities(agg, topN)
      .select(col("window_end"), col("entity"),
        col("tweet_count"), col("follower_sum").as("followerCountSum"),
        col("rank").cast("long").as("rank"),
        // keep the documented struct field order (id first)
        transform(col("tt"), t => struct(t.getField("id").as("id"),
          t.getField("followerCount").as("followerCount"),
          t.getField("text").as("text"),
          t.getField("screenName").as("screenName"),
          t.getField("originalTweetId").as("originalTweetId")))
          .as("topTweets"))
  }

  /** The built-in-composite form (window dedupe + sorted collect + join)
    * — kept as the independent semantic witness the parity law checks
    * the aggregator path against. */
  def topEntityPayloadsComposite(
      tweets: DataFrame,
      entities: Column,
      topN: Int = Windows.TopN,
      examplesPerEntity: Int = Windows.ExamplesPerEntity): DataFrame = {
    val rows = entityRows(tweets, entities)

    val stats = rows.groupBy("window_end", "entity")
      .agg(count("*").as("tweet_count"),
        sum(col("followerCount")).as("follower_sum"))

    // OP-27: one example per original tweet (retweets collapse to the
    // max-follower instance) before collecting the top examples. A null
    // original id (a `retweeted_status` without an `id`) is not a
    // retweet, as in `TopK.exampleKey`: the tweet keeps its own example.
    val dedupeKey = when(col("originalTweetId") === -1L ||
        col("originalTweetId").isNull, col("id"))
      .otherwise(col("originalTweetId"))
    val dd = Window.partitionBy(col("window_end"), col("entity"), dedupeKey)
      .orderBy(col("followerCount").desc, col("id").asc)
    val examples = rows
      .withColumn("rn", row_number().over(dd))
      .filter(col("rn") === 1)
      .groupBy("window_end", "entity")
      .agg(slice(sort_array(collect_list(struct(
          col("followerCount").as("sortFc"),
          (-col("id")).as("sortId"),
          struct(col("id"), col("followerCount"), col("text"),
            col("screenName"), col("originalTweetId")).as("t"))),
          asc = false), 1, examplesPerEntity).as("sorted"))
      .select(col("window_end"), col("entity"),
        transform(col("sorted"), x => x.getField("t")).as("topTweets"))

    val ranked = Windows.rankTopEntities(stats, topN)
    ranked.join(examples, Seq("window_end", "entity"))
      .select(col("window_end"), col("entity"),
        col("tweet_count"), col("follower_sum").as("followerCountSum"),
        col("rank").cast("long").as("rank"), col("topTweets"))
  }
}
