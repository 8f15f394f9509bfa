package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.agg.{TopK, Windows}
import graft.ingest.Tables
import graft.serve.Serve
import Artifacts._
import OracleSql._

/** Registry queries over the reference's operators on `events` (OP-04..41
  * in the names): parse and projection, tumbling and hopping windows, per-
  * entity aggregates and top-k payloads, and the store and REPL reads
  * ([[graft.agg]], [[graft.serve.Serve]], [[graft.stream.AggregateStore]]).
  * Each is declared once, its Spark form beside its DuckDB oracle. */
private[graft] object CoreQueries {

  private def userAgg(s: SparkSession, dir: String): DataFrame =
    Windows.entityWindowAgg(events(s, dir), col("user_id"), col("value"))

  private def typeAgg(s: SparkSession, dir: String): DataFrame =
    Windows.entityWindowAgg(events(s, dir), col("event_type"), col("value"))

  /** Fixed [start, end) range for the serving-query examples — inside the
    * events table's 2024-01 span at every scale factor. */
  private val RangeStart = 1704153600L // 2024-01-02 00:00:00 UTC
  private val RangeEnd = 1704412800L   // 2024-01-05 00:00:00 UTC

  val queries: Seq[Query] = Seq(
    // OP-04/09: JSON parse of the props payload + conditional sentinel
    // projection (OP-06's `retweeted_status != null ? id : -1` shape).
    Query("op04_json_parse", (s, dir) =>
      events(s, dir)
        .select(
          col("event_id"),
          from_json(col("props"), StructType(Seq(StructField("k", LongType))))
            .getField("k").as("k"))
        .select(
          col("event_id"), col("k"),
          when(col("k") > 50, col("k")).otherwise(lit(-1L)).as("k_or_sentinel"))
        .orderBy("event_id"),
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
        |       CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) > 50
        |            THEN CAST(json_extract_string(props, '$.k') AS BIGINT)
        |            ELSE -1 END AS k_or_sentinel
        |FROM events ORDER BY event_id""".stripMargin),

    // OP-05: text coalesce (GetText, Query.cs:171-184) — three-way
    // coalesce over nullable alternatives via nullif.
    Query("op05_text_coalesce", (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          coalesce(nullif(col("source"), lit("src0")),
            nullif(col("lang"), lit("en")), lit("fallback")).as("chosen"))
        .orderBy("doc_id"),
      """SELECT doc_id,
        |       coalesce(nullif(source, 'src0'), nullif(lang, 'en'),
        |                'fallback') AS chosen
        |FROM documents ORDER BY doc_id""".stripMargin),

    // OP-09: JSON serialize (sink format) + parse back (REPL read path).
    Query("op09_json_roundtrip", (s, dir) =>
      events(s, dir)
        .select(col("event_id"),
          to_json(struct(col("event_id"), col("event_type"))).as("payload"))
        .withColumn("event_type_rt",
          from_json(col("payload"),
            StructType(Seq(StructField("event_id", LongType),
              StructField("event_type", StringType))))
            .getField("event_type"))
        .orderBy("event_id"),
      """SELECT event_id,
        |  to_json(struct_pack(event_id := event_id,
        |                      event_type := event_type)) AS payload,
        |  event_type AS event_type_rt
        |FROM events ORDER BY event_id""".stripMargin),

    // OP-30: byte-rate monitor analog — 5-min tumbling Sum of a volume
    // column (TwitterStream.cs:50-64 logs KB per 5-min window).
    Query("op30_byte_rate", (s, dir) =>
      events(s, dir)
        .groupBy(window(col("ts"), "5 minutes"))
        .agg(sum(col("value").cast("decimal(18,6)")).cast("double")
          .as("bytes"))
        .select(col("window.end").cast("long").as("window_end"),
          col("bytes"))
        .orderBy("window_end"),
      s"""SELECT (($EsSql) // 300) * 300 + 300 AS window_end,
         |       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS bytes
         |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),

    // OP-07/08: event-time extraction to epoch + D19 key format/parse
    // round-trip (RocksDBStore.cs:207-210 key codec).
    Query("op08_key_codec", (s, dir) =>
      events(s, dir)
        .select(
          col("event_id"),
          format_string("%019d", col("ts").cast("long")).as("window_key"),
          col("event_type"))
        .select(
          col("event_id"),
          concat(col("window_key"), col("event_type")).as("store_key"),
          substring(col("window_key"), 1, 19).cast("long").as("parsed_epoch"))
        .orderBy("event_id"),
      s"""SELECT event_id,
         |       lpad(CAST($EsSql AS VARCHAR), 19, '0') || event_type AS store_key,
         |       CAST(substr(lpad(CAST($EsSql AS VARCHAR), 19, '0'), 1, 19) AS BIGINT)
         |         AS parsed_epoch
         |FROM events ORDER BY event_id""".stripMargin),

    // OP-10..14: validity/emptiness predicate stack before aggregation.
    Query("op10_filters", (s, dir) =>
      events(s, dir)
        .filter(col("ts").isNotNull && col("value") > 0 &&
          col("event_type").isNotNull && length(col("event_type")) > 0)
        .groupBy(col("event_type"))
        .agg(count("*").as("cnt"))
        .orderBy("event_type"),
      """SELECT event_type, count(*) AS cnt FROM events
        |WHERE ts IS NOT NULL AND value > 0 AND event_type IS NOT NULL
        |  AND len(event_type) > 0
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // OP-15/16: explode (SelectMany analog) — token explode over documents.
    Query("op15_explode_tokens", (s, dir) =>
      Tables.documents(s, dir)
        .select(explode(split(col("text"), " ")).as("token"))
        .filter(length(col("token")) > 0)
        .groupBy(col("token"))
        .agg(count("*").as("cnt"))
        .orderBy("token"),
      """SELECT token, count(*) AS cnt
        |FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |WHERE len(token) > 0 GROUP BY 1 ORDER BY 1""".stripMargin),

    // OP-20/29: tumbling 10-min counts.
    Query("op20_tumbling_counts", (s, dir) =>
      Windows.tumblingCounts(events(s, dir)).orderBy("window_end"),
      s"""SELECT $TumblingEndSql AS window_end, count(*) AS cnt
         |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),

    // OP-21/22: hopping 10-min/1-min counts (the persisted `counts` CF).
    Query("op22_hopping_counts", (s, dir) =>
      Windows.hoppingCounts(events(s, dir)).orderBy("window_end"),
      s"""${hoppingSql("event_id")}
         |SELECT window_end, count(*) AS cnt FROM hop
         |GROUP BY 1 ORDER BY 1""".stripMargin),

    // OP-23: per-user (mentions analog) multi-agg per hopping window.
    Query("op23_user_window_agg", (s, dir) =>
      userAgg(s, dir)
        .select("window_end", "entity", "tweet_count", "follower_sum")
        .orderBy("window_end", "entity"),
      s"""$entityAggSql
         |SELECT window_end, entity, tweet_count, follower_sum FROM agg
         |ORDER BY window_end, entity""".stripMargin),

    // OP-24/25: per-event_type (hashtags analog) multi-agg, incl. the
    // retweet aggregate's Max(Text) representative (Query.cs:127).
    Query("op24_type_window_agg", (s, dir) =>
      Windows.entityWindowAgg(events(s, dir), col("event_type"), col("value"),
          extra = Seq(max(col("props")).as("max_props")))
        .select("window_end", "entity", "tweet_count", "follower_sum",
          "max_props")
        .orderBy("window_end", "entity"),
      s"""${hoppingSql("event_type AS entity, value, props")},
         |agg AS (
         |  SELECT window_end, entity, count(*) AS tweet_count,
         |         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS follower_sum,
         |         max(props) AS max_props
         |  FROM hop GROUP BY 1, 2)
         |SELECT window_end, entity, tweet_count, follower_sum, max_props
         |FROM agg ORDER BY window_end, entity""".stripMargin),

    // OP-26/28: second-level top-k — top-10 entities per hopping window by
    // follower_sum (GetTopItems, Query.cs:152-168).
    Query("op28_window_rank", (s, dir) =>
      Windows.rankTopEntities(typeAgg(s, dir))
        .select(col("window_end"), col("entity"), col("tweet_count"),
          col("follower_sum"), col("rank").cast("long").as("rank"))
        .orderBy("window_end", "rank"),
      s"""$typeAggSql,
         |r AS (SELECT *, row_number() OVER (PARTITION BY window_end
         |        ORDER BY follower_sum DESC, entity) AS rank
         |      FROM agg)
         |SELECT window_end, entity, tweet_count, follower_sum,
         |       CAST(rank AS BIGINT) AS rank
         |FROM r WHERE rank <= 10 ORDER BY window_end, rank""".stripMargin),

    // OP-27: example dedupe — keep max-weight row per (window, entity,
    // dedupe key), then top-3 examples per group (Query.cs:82-84).
    Query("op27_example_dedupe", (s, dir) => {
      val base = events(s, dir)
        .withColumn("window_end",
          (floor(col("ts").cast("long") / 60) * 60 + 600).cast("long"))
        .withColumn("entity", col("event_type"))
      val deduped = Windows.dedupeExamples(
        base, col("user_id"), struct(col("value"), -col("event_id")))
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("window_end"), col("entity"))
        .orderBy(col("value").desc, col("event_id").asc)
      deduped.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("window_end"), col("entity"), col("event_id"),
          col("value"), col("rn").cast("long").as("rn"))
        .orderBy("window_end", "entity", "rn")
    },
      s"""WITH base AS (
         |  SELECT *, (($EsSql) // 60) * 60 + 600 AS window_end,
         |         event_type AS entity
         |  FROM events),
         |dd AS (
         |  SELECT *, row_number() OVER (
         |      PARTITION BY window_end, entity, user_id
         |      ORDER BY value DESC, event_id ASC) AS dedupe_rn
         |  FROM base),
         |ranked AS (
         |  SELECT *, row_number() OVER (
         |      PARTITION BY window_end, entity
         |      ORDER BY value DESC, event_id ASC) AS rn
         |  FROM dd WHERE dedupe_rn = 1)
         |SELECT window_end, entity, event_id, value, CAST(rn AS BIGINT) AS rn
         |FROM ranked WHERE rn <= 3
         |ORDER BY window_end, entity, rn""".stripMargin),

    // OP-31: running total over the tumbling count stream.
    Query("op31_running_total", (s, dir) =>
      Windows.runningTotal(Windows.tumblingCounts(events(s, dir)))
        .select(col("window_end"), col("cnt"),
          col("running_total").cast("long").as("running_total"))
        .orderBy("window_end"),
      s"""WITH c AS (
         |  SELECT $TumblingEndSql AS window_end, count(*) AS cnt
         |  FROM events GROUP BY 1)
         |SELECT window_end, cnt,
         |       CAST(SUM(cnt) OVER (ORDER BY window_end
         |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |         AS running_total
         |FROM c ORDER BY window_end""".stripMargin),

    // OP-36: getsummary fold (sums hopping counts, reference quirk kept).
    Query("op36_summary", (s, dir) =>
      Serve.summary(Windows.hoppingCounts(events(s, dir))),
      s"""${hoppingSql("event_id")},
         |c AS (SELECT window_end, count(*) AS cnt FROM hop GROUP BY 1)
         |SELECT min(window_end) AS min_window_end,
         |       max(window_end) AS max_window_end,
         |       max(window_end) - min(window_end) AS duration_seconds,
         |       count(*) AS window_count,
         |       CAST(sum(cnt) AS BIGINT) AS total_tweets
         |FROM c""".stripMargin),

    // OP-37: getcounts start end — [start, end) range scan.
    Query("op37_range_counts", (s, dir) =>
      Serve.rangeScan(
        Windows.hoppingCounts(events(s, dir)), RangeStart, RangeEnd),
      s"""${hoppingSql("event_id")},
         |c AS (SELECT window_end, count(*) AS cnt FROM hop GROUP BY 1)
         |SELECT window_end, cnt FROM c
         |WHERE window_end >= $RangeStart AND window_end < $RangeEnd
         |ORDER BY window_end""".stripMargin),

    // OP-37 over the REAL stored layout (r9): the same [start, end)
    // range served from the partitioned aggregate store —
    // AggregateStore.readRange derives window_date bounds so the scan
    // reads only the covered date partitions (pruned-vs-full measured
    // in EXPLAINS). The layout is invisible in results (the ext114
    // discipline): the oracle recomputes the range from raw events.
    Query("op37_store_range", (s, dir) => {
      val path = ensureCountsStore(s, dir)
      graft.stream.AggregateStore.readRange(s, path, RangeStart, RangeEnd)
        .select("window_end", "cnt")
        .orderBy("window_end")
    },
      // Same result relation as op37 — the store layout must be invisible
      // in results, so the oracle recomputes the range from raw events.
      s"""${hoppingSql("event_id")},
         |c AS (SELECT window_end, count(*) AS cnt FROM hop GROUP BY 1)
         |SELECT window_end, cnt FROM c
         |WHERE window_end >= $RangeStart AND window_end < $RangeEnd
         |ORDER BY window_end""".stripMargin),

    // OP-38/39: entity-restricted range scan (documented-intent semantics —
    // the reference's seek-only restriction is a bug we fix; SURVEY §2.8).
    Query("op38_range_entity", (s, dir) =>
      Serve.rangeScanEntity(
        typeAgg(s, dir), RangeStart, RangeEnd, Some("purchase"))
        .select("window_end", "entity", "tweet_count", "follower_sum"),
      s"""$typeAggSql
         |SELECT window_end, entity, tweet_count, follower_sum FROM agg
         |WHERE window_end >= $RangeStart AND window_end < $RangeEnd
         |  AND entity = 'purchase'
         |ORDER BY window_end, entity""".stripMargin),

    // OP-40/41: recent-N reverse scan (SeekToLast+Prev analog).
    Query("op41_recent", (s, dir) =>
      Serve.recent(Windows.hoppingCounts(events(s, dir)), 20),
      s"""${hoppingSql("event_id")},
         |c AS (SELECT window_end, count(*) AS cnt FROM hop GROUP BY 1)
         |SELECT * FROM
         |  (SELECT window_end, cnt FROM c ORDER BY window_end DESC LIMIT 20)
         |ORDER BY window_end DESC""".stripMargin),

    // OP-36 over the stored layout: getsummary folding the persisted
    // counts CF instead of re-aggregating the raw events — the store
    // read is bounded by |windows| rows, the recompute by |events|.
    // Oracle recomputes from raw events (layout invisible in results).
    Query("op36_store_summary", (s, dir) => {
      val path = ensureCountsStore(s, dir)
      Serve.summary(
        graft.stream.AggregateStore.read(s, path).select("window_end", "cnt"))
    },
      // Same result relation as op36 — the store layout must be
      // invisible in results, so the oracle recomputes from raw events.
      s"""${hoppingSql("event_id")},
         |c AS (SELECT window_end, count(*) AS cnt FROM hop GROUP BY 1)
         |SELECT min(window_end) AS min_window_end,
         |       max(window_end) AS max_window_end,
         |       max(window_end) - min(window_end) AS duration_seconds,
         |       count(*) AS window_count,
         |       CAST(sum(cnt) AS BIGINT) AS total_tweets
         |FROM c""".stripMargin),

    // OP-38/39 over the REAL stored entity layout (r10 verdict item 1):
    // the [start, end) + entity scan served from the entity-payload
    // store — window_date partitions prune the range, the
    // entity-sorted row groups prune the entity equality via parquet
    // min/max stats (the reference's ticks+entity key seek,
    // RocksDBStore.cs:241-245). Oracle recomputes from raw events.
    Query("op38_store_entity", (s, dir) => {
      val path = ensureEntityStore(s, dir)
      Serve.entityFilter(graft.stream.AggregateStore.readRange(
          s, path, RangeStart, RangeEnd), Some("purchase"))
        .select("window_end", "entity", "tweet_count", "follower_sum",
          "rank", "max_props", "top_ids")
        .orderBy("window_end")
    },
      // Store layout invisible in results: recompute the ranked
      // entity-payload relation from raw events, then the same range +
      // entity restriction the store read serves (top-N rank filter is
      // inherent to the store — the reference persists only the ranked
      // payloads).
      s"""$entityStoreSql
         |SELECT r.window_end, r.entity, r.tweet_count, r.follower_sum,
         |       r.rank, r.max_props, ex.top_ids
         |FROM ranked r JOIN ex USING (window_end, entity)
         |WHERE r.rank <= ${Windows.TopN}
         |  AND r.window_end >= $RangeStart AND r.window_end < $RangeEnd
         |  AND r.entity = 'purchase'
         |ORDER BY r.window_end""".stripMargin),

    // OP-40/41 over the stored entity layout: recent-N via newest-first
    // date-partition widening (AggregateStore.readRecent) — the
    // SeekToLast+Prev analog reads only the trailing partitions, not
    // the store.
    Query("op41_store_recent", (s, dir) => {
      val path = ensureEntityStore(s, dir)
      graft.stream.AggregateStore.readRecent(s, path, 20)
        .select("window_end", "entity", "tweet_count", "follower_sum")
        .orderBy(col("window_end").desc, col("entity").desc)
    },
      s"""$entityStoreSql
         |SELECT * FROM (
         |  SELECT window_end, entity, tweet_count, follower_sum FROM ranked
         |  WHERE rank <= ${Windows.TopN}
         |  ORDER BY window_end DESC, entity DESC LIMIT 20)
         |ORDER BY window_end DESC, entity DESC""".stripMargin),

    // The FULL example payloads served from the stored entity layout
    // (r11 verdict item 1): each ranked entity row carries its
    // top-`Windows.ExamplesPerEntity` TweetDescription structs
    // (AggregatePayloads.cs:5-13 via the events-domain field mapping) —
    // serialized to one deterministic string per row so the DuckDB twin
    // can build the identical value. Oracle recomputes from raw events
    // (the op37_store discipline: layout invisible in results).
    Query("op38_store_payload", (s, dir) => {
      val path = ensureEntityStore(s, dir)
      Serve.entityFilter(graft.stream.AggregateStore.readRange(
          s, path, RangeStart, RangeEnd), Some("purchase"))
        .select(col("window_end"), col("entity"), col("rank"),
          array_join(transform(col("examples"), e =>
            concat_ws("|", e.getField("id").cast("string"),
              e.getField("screenName"),
              e.getField("followerCount").cast("decimal(18,6)")
                .cast("string"),
              e.getField("text"))), ";").as("examples_str"))
        .orderBy("window_end")
    },
      s"""$entityStoreSql
         |SELECT r.window_end, r.entity, r.rank, ex.examples_str
         |FROM ranked r JOIN ex USING (window_end, entity)
         |WHERE r.rank <= ${Windows.TopN}
         |  AND r.window_end >= $RangeStart AND r.window_end < $RangeEnd
         |  AND r.entity = 'purchase'
         |ORDER BY r.window_end""".stripMargin),

    // OP-26/27 fused as the bounded FULL-payload aggregator (TopKTweets
    // — the one the streaming entity stores run): top-5 example payloads
    // per entity per tumbling window, DISTINCT per dedupe key (user_id —
    // the "retweets of one original collapse to one example" analog in
    // the events domain: one user's events collapse to their best).
    // Weight goes through floor() to BIGINT so both engines order by the
    // identical integer. The oracle replays dedupe-first-then-topk in
    // SQL; the aggregator's exactness-under-bound is the claim under
    // test (TopKSpec proves it property-wise, this row cross-engine).
    Query("op27_topk_payloads", (s, dir) => {
      val topk = TopK.topKTweets(5)
      events(s, dir)
        .select(window(col("ts"), Windows.WindowSize).as("w"),
          col("event_type").as("entity"), col("user_id"),
          floor(col("value")).cast("long").as("fc"),
          col("event_id"), col("props"))
        .groupBy(col("w.end").cast("long").as("window_end"), col("entity"))
        .agg(topk(col("user_id"), col("fc"), col("event_id"), col("props"),
          col("user_id").cast("string"), lit(-1L)).as("ex"))
        .select(col("window_end"), col("entity"),
          array_join(transform(col("ex"), e => concat_ws("|",
            e.getField("id").cast("string"), e.getField("screenName"),
            e.getField("followerCount").cast("string"),
            e.getField("text"))), ";").as("examples_str"))
        .orderBy("window_end", "entity")
    },
      s"""WITH base AS (
         |  SELECT $TumblingEndSql AS window_end, event_type AS entity,
         |         user_id, CAST(floor(value) AS BIGINT) AS fc,
         |         event_id, props
         |  FROM events),
         |dd AS (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY window_end, entity, user_id
         |    ORDER BY fc DESC, event_id ASC) AS rnk
         |  FROM base),
         |top AS (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY window_end, entity
         |    ORDER BY fc DESC, event_id ASC) AS rn
         |  FROM dd WHERE rnk = 1)
         |SELECT window_end, entity,
         |       string_agg(CAST(event_id AS VARCHAR) || '|' ||
         |                  CAST(user_id AS VARCHAR) || '|' ||
         |                  CAST(fc AS VARCHAR) || '|' || props, ';'
         |                  ORDER BY fc DESC, event_id ASC)
         |         AS examples_str
         |FROM top WHERE rn <= 5
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // OP-26 as a custom bounded-heap Aggregator: top-5 event ids per
    // entity per tumbling window, weight DESC / id ASC.
    Query("op26_topk_aggregator", (s, dir) => {
      val topk = TopK.topKIds(5)
      events(s, dir)
        .groupBy(window(col("ts"), Windows.WindowSize), col("event_type"))
        .agg(topk(col("value"), col("event_id")).as("top_ids"))
        .select(col("window.end").cast("long").as("window_end"),
          col("event_type").as("entity"),
          concat_ws(",", transform(col("top_ids"), _.cast("string")))
            .as("top_ids"))
        .orderBy("window_end", "entity")
    },
      s"""WITH base AS (
         |  SELECT $TumblingEndSql AS window_end, event_type AS entity,
         |         value, event_id
         |  FROM events),
         |r AS (SELECT *, row_number() OVER (
         |        PARTITION BY window_end, entity
         |        ORDER BY value DESC, event_id ASC) AS rn
         |      FROM base)
         |SELECT window_end, entity,
         |       string_agg(CAST(event_id AS VARCHAR), ','
         |                  ORDER BY value DESC, event_id ASC) AS top_ids
         |FROM r WHERE rn <= 5
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  )
  )
}
