package graft.model

import org.apache.spark.sql.types._

/**
 * Data model of the rebuilt engine (SURVEY.md §1).
 *
 * The reference's input record is `RawTweet`
 * (reference: TweetGateCore/Serialization/RawTweet.cs:6-60) — a nested,
 * array-carrying, one-level-recursive JSON record. Spark has no recursive
 * struct types, so `retweeted_status` is unrolled exactly one level: the
 * only fields the reference ever reads from it are `id` and
 * `extended_tweet.full_text` (reference: TweetGateCore/Query.cs:37,171-184).
 */
object TweetSchema {

  /** Wire schema for line-delimited tweet JSON (FIXTURES.md §A). */
  val raw: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("text", StringType),
    StructField("timestamp_ms", StringType), // epoch millis as text
    StructField("lang", StringType),
    StructField("extended_tweet", StructType(Seq(
      StructField("full_text", StringType)))),
    StructField("entities", StructType(Seq(
      StructField("hashtags", ArrayType(StructType(Seq(
        StructField("text", StringType))))),
      StructField("user_mentions", ArrayType(StructType(Seq(
        StructField("screen_name", StringType)))))))),
    StructField("user", StructType(Seq(
      StructField("followers_count", LongType),
      StructField("screen_name", StringType)))),
    // recursion unrolled one level — the only level the reference reads
    StructField("retweeted_status", StructType(Seq(
      StructField("id", LongType),
      StructField("extended_tweet", StructType(Seq(
        StructField("full_text", StringType)))))))
  ))
}

/**
 * Flat working record kept for the whole dataflow — the Spark analog of the
 * anonymous projection in reference TweetGateCore/Query.cs:32-41.
 * `originalTweetId == -1` is the not-a-retweet sentinel (Query.cs:37).
 */
case class TweetEvent(
    id: Long,
    text: String,
    screenName: String,
    hashtags: Seq[String],
    mentions: Seq[String],
    originalTweetId: Long,
    followerCount: Long,
    ts: java.sql.Timestamp)

