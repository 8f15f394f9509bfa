package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.agg.Payloads
import graft.ingest.Tables

/** The full reference payload shape (TopHashTags with deduped TopTweets). */
class PayloadsSpec extends TestBase {

  // three retweets of original 100 (followers 50/500/5) + one plain tweet,
  // all tagged #t in the same window
  private val lines = Seq(
    """{"id":1,"text":"rt a","timestamp_ms":"1704067200000","entities":{"hashtags":[{"text":"t"}],"user_mentions":[]},"user":{"followers_count":50,"screen_name":"a"},"retweeted_status":{"id":100,"extended_tweet":{"full_text":"the original"}}}""",
    """{"id":2,"text":"rt b","timestamp_ms":"1704067201000","entities":{"hashtags":[{"text":"t"}],"user_mentions":[]},"user":{"followers_count":500,"screen_name":"b"},"retweeted_status":{"id":100,"extended_tweet":{"full_text":"the original"}}}""",
    """{"id":3,"text":"rt c","timestamp_ms":"1704067202000","entities":{"hashtags":[{"text":"t"}],"user_mentions":[]},"user":{"followers_count":5,"screen_name":"c"},"retweeted_status":{"id":100,"extended_tweet":{"full_text":"the original"}}}""",
    """{"id":4,"text":"plain","timestamp_ms":"1704067203000","entities":{"hashtags":[{"text":"t"}],"user_mentions":[]},"user":{"followers_count":7,"screen_name":"d"},"retweeted_status":null}""")

  test("payload stats count all rows; examples dedupe per original tweet") {
    import spark.implicits._
    val tweets = Tables.projectTweets(
      Tables.tweetsFromJsonLines(lines.toDF("value")))
    val p = Payloads.topEntityPayloads(tweets, col("hashtags"))
      .filter(col("window_end") === 1704067200L / 60 * 60 + 600)
      .collect()
    assert(p.length == 1)
    val row = p.head
    assert(row.getAs[String]("entity") == "t")
    // stats over ALL four tweets (Query.cs:63-64)
    assert(row.getAs[Long]("tweet_count") == 4)
    assert(row.getAs[Long]("followerCountSum") == 50 + 500 + 5 + 7)
    // examples: the three retweets of 100 collapse to the 500-follower one
    val tops = row.getSeq[Row](row.fieldIndex("topTweets"))
    assert(tops.length == 2)
    assert(tops.head.getAs[Long]("id") == 2 &&
      tops.head.getAs[Long]("followerCount") == 500)
    assert(tops(1).getAs[Long]("id") == 4)
    // text coalesce picked up the retweet's extended full text (OP-05)
    assert(tops.head.getAs[String]("text") == "the original")
  }

  test("aggregator scale path == composite witness on a shared-original " +
      "corpus (one-shuffle topEntityPayloads law, r12)") {
    import spark.implicits._
    // 240 tweets, 8 hashtags, retweets of 4 shared originals, follower
    // ties included — exercises collapse, the k-bound, and tie-breaks
    val lines = (0 until 240).map { i =>
      val rt =
        if (i % 3 == 0)
          s"""{"id":${500 + i % 4},"extended_tweet":{"full_text":"orig ${i % 4}"}}"""
        else "null"
      s"""{"id":${3000 + i},"text":"t $i","timestamp_ms":"${1704067200000L + i * 7000L}","entities":{"hashtags":[{"text":"h${i % 8}"}],"user_mentions":[]},"user":{"followers_count":${(i * 13) % 40},"screen_name":"u${i % 6}"},"retweeted_status":$rt}"""
    }
    // and three tweets whose retweeted_status has no id: not retweets,
    // so three examples, not one, the top followers of one
    // hashtag-window
    val noOriginal = (0 until 3).map { i =>
      s"""{"id":${9000 + i},"text":"n $i","timestamp_ms":"${1704067200000L + i * 1000L}","entities":{"hashtags":[{"text":"hn"}],"user_mentions":[]},"user":{"followers_count":${1000 + i},"screen_name":"n$i"},"retweeted_status":{"extended_tweet":null}}"""
    }
    val tweets = Tables.projectTweets(
      Tables.tweetsFromJsonLines((lines ++ noOriginal).toDF("value")))
    assert(tweets.filter(col("id") >= 9000 &&
      col("originalTweetId") === -1L).count() == 3)
    val viaAgg = Payloads.topEntityPayloads(tweets, col("hashtags"),
      topN = 3, examplesPerEntity = 4)
    val viaComposite = Payloads.topEntityPayloadsComposite(tweets,
      col("hashtags"), topN = 3, examplesPerEntity = 4)
    assert(viaAgg.count() == viaComposite.count() && viaAgg.count() > 0)
    assert(viaAgg.exceptAll(viaComposite).isEmpty &&
      viaComposite.exceptAll(viaAgg).isEmpty,
      "one-shuffle aggregator path differs from the composite witness")
    // the plan claim: the aggregator path has no per-row window sort
    // and no stats-examples join
    val plan = viaAgg.queryExecution.executedPlan.toString
    assert(!plan.contains("RunningWindowFunction") &&
      !plan.contains("SortMergeJoin"),
      s"aggregator path plan regressed:\n${plan.take(800)}")
  }

  test("payload ranks entities per window and caps examples") {
    import spark.implicits._
    val tweets = Tables.projectTweets(Tables.tweetsFromJsonLines(
      (0 until 60).map { i =>
        s"""{"id":${10 + i},"text":"x","timestamp_ms":"${1704067200000L + i}","entities":{"hashtags":[{"text":"tag${i % 12}"}],"user_mentions":[]},"user":{"followers_count":${i + 1},"screen_name":"u"},"retweeted_status":null}"""
      }.toDF("value")))
    val p = Payloads.topEntityPayloads(tweets, col("hashtags"), topN = 10,
      examplesPerEntity = 3)
    val perWindow = p.groupBy("window_end").count()
    import org.apache.spark.sql.functions.{max => fmax}
    // 12 entities exist but only 10 rank per window
    assert(perWindow.agg(fmax("count")).collect()(0).getLong(0) == 10)
    assert(p.filter(size(col("topTweets")) > 3).count() == 0)
  }
}
