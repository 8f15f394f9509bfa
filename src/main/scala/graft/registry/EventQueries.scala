package graft.registry

import org.apache.spark.sql.functions._

import graft.agg.Windows
import graft.ingest.Tables
import graft.ops.{AsOf, Decay, IntervalJoin, Skew}
import Artifacts._

/** Registry queries over the event-table operators: sessions, cohorts,
  * funnels and trends ([[graft.agg.Windows]], [[graft.ops.Decay]]), and the
  * joins ([[graft.ops.AsOf]], [[graft.ops.IntervalJoin]],
  * [[graft.ops.Skew]], [[graft.ops.Layout]], the bucketed layout). Each is
  * declared once, its Spark form beside its DuckDB oracle. */
private[graft] object EventQueries {

  val queries: Seq[Query] = Seq(
    // Skew-resilient two-phase salted aggregation — result identical to a
    // plain GROUP BY (the oracle IS the plain GROUP BY), but the hot key
    // spreads over 16 reducers in phase 1.
    Query("ext17_skew_salted", (s, dir) =>
      Skew.saltedCountSum(Tables.events(s, dir), col("event_type"),
          col("value"), col("event_id"))
        .select(col("key").as("entity"), col("cnt"), col("weight_sum"))
        .orderBy("entity"),
      """SELECT event_type AS entity, count(*) AS cnt,
        |       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS weight_sum
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),

    // As-of join: each purchase picks up the user's most recent click at
    // or before the purchase time (point-in-time feature lookup).
    Query("ext18_asof_join", (s, dir) => {
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("value"))
      AsOf.joinAsOf(purchases, clicks, "user_id", "ts",
          Seq("value"), prefix = "click_")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"), col("value"),
          // no-prior-click rows keep the reference's -1 sentinel idiom
          // (null-free output also keeps the row-sorting comparator happy)
          coalesce(unix_micros(col("click_ts")), lit(-1L))
            .as("click_ts_us"),
          coalesce(col("click_value"), lit(-1.0d)).as("click_value"))
        .orderBy("event_id")
    },
      // DuckDB has a native ASOF JOIN; `>=` matches the rebuild's
      // equal-timestamp-visible semantics.
      """WITH p AS (SELECT user_id, ts, event_id, value FROM events
        |           WHERE event_type = 'purchase'),
        |     c AS (SELECT user_id, ts, value FROM events
        |           WHERE event_type = 'click')
        |SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts_us, p.value,
        |       coalesce(epoch_us(c.ts), -1) AS click_ts_us,
        |       coalesce(c.value, -1.0) AS click_value
        |FROM p ASOF LEFT JOIN c
        |  ON p.user_id = c.user_id AND p.ts >= c.ts
        |ORDER BY p.event_id""".stripMargin),

    // Session windows per user (6h inactivity gap) — the data-driven
    // window kind; same operator streams via session_window + watermark.
    Query("ext19_session_agg", (s, dir) =>
      Windows.sessionAgg(Tables.events(s, dir), col("user_id"), col("value"))
        .orderBy("entity", "session_start_us"),
      // Gaps-and-islands twin of session_window: a 6h-or-more silence
      // starts a new session; session end = last event + gap.
      """WITH d AS (
        |  SELECT user_id, ts, value,
        |         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER
        |                (PARTITION BY user_id ORDER BY ts) < 21600000000
        |              THEN 0 ELSE 1 END AS new_s
        |  FROM events),
        |s AS (
        |  SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |    ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM d)
        |SELECT user_id AS entity,
        |       min(epoch_us(ts)) AS session_start_us,
        |       max(epoch_us(ts)) + 21600000000 AS session_end_us,
        |       count(*) AS n_events,
        |       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS weight_sum
        |FROM s GROUP BY user_id, sid
        |ORDER BY entity, session_start_us""".stripMargin),

    // Binned interval join: clicks in the hour before each purchase,
    // per user — bounded-fan-out range join (hash join on (key, bin) +
    // residual range filter), never a per-key cross product.
    Query("ext22_interval_join", (s, dir) => {
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val clicks = ev.filter(col("event_type") === "click")
        .select("user_id", "ts")
      IntervalJoin.countRecent(purchases, clicks, "user_id", "ts",
          3600000000L, "n_clicks_1h")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"), col("n_clicks_1h"))
        .orderBy("event_id")
    },
      // The oracle uses the naive unbinned range join — the binning is an
      // execution strategy, not a semantic; results must be identical.
      """WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS us
        |           FROM events WHERE event_type = 'purchase'),
        |     c AS (SELECT user_id, epoch_us(ts) AS us
        |           FROM events WHERE event_type = 'click')
        |SELECT p.event_id, p.user_id, p.us AS ts_us,
        |       count(c.us) AS n_clicks_1h
        |FROM p LEFT JOIN c ON c.user_id = p.user_id
        |  AND c.us >= p.us - 3600000000 AND c.us < p.us
        |GROUP BY 1, 2, 3
        |ORDER BY p.event_id""".stripMargin),

    // Bucketed-layout join: both sides written bucketBy(orderkey) ONCE
    // (ensureBucketed seeds the layout idempotently — pay-once, like any
    // real bucketed warehouse table), then joined + aggregated with ZERO
    // exchanges (BucketedJoinSpec asserts the plan) — the data-layout
    // answer to a join that would otherwise shuffle 100 TB per run. The
    // query itself measures the join, not the layout write.
    Query("ext26_bucketed_join", (s, dir) => {
      val (liTable, ordTable) = ensureBucketed(s, dir)
      graft.sources.BucketedTables
        .bucketedJoin(s, ordTable, liTable, "o_orderkey", "l_orderkey")
        .groupBy("o_orderkey")
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_extendedprice").cast("decimal(18,6)"))
            .cast("double").as("sum_price"))
        .orderBy("o_orderkey")
    },
      // Bucketing is a layout strategy, not a semantic: the oracle is the
      // plain join over the original parquet.
      """SELECT o_orderkey, count(*) AS n_items,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
        |         AS sum_price
        |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // Exponentially-decayed trending: per event type, the 10 users with
    // the highest decayed activity count (half-life 1 day, reference
    // clock = corpus max ts). Decay quantized to whole half-life
    // buckets so every weight is a power of two and the scaled score an
    // EXACT int64 (order-independent, mergeable, oracle-recomputable) —
    // the state behind it is a ≤30-counter histogram per entity that a
    // serving store ages in place per half-life (Decay.shift).
    Query("ext133_decayed_trend", (s, dir) =>
      Decay.trendingTopK(Tables.events(s, dir), col("event_type"),
          col("user_id"), col("ts"), 86400000000L, 10)
        .orderBy("part", "rank"),
      // Same integer arithmetic: bucket = whole half-lives of age, weight
      // = 1 << (29 - bucket), score = exact int64 sum — the oracle replays
      // the decayed ranking bit-for-bit.
      """WITH tref AS (SELECT max(epoch_us(ts)) AS tref_us FROM events),
        |h AS (SELECT event_type AS part, user_id AS entity,
        |        greatest(tref_us - epoch_us(ts), 0) // 86400000000
        |          AS age_bucket
        |      FROM events, tref),
        |s AS (SELECT part, entity,
        |        CAST(sum(CAST(1 AS BIGINT) << CAST(29 - age_bucket AS INT))
        |             AS BIGINT) AS decayed_scaled,
        |        CAST(count(*) AS BIGINT) AS n_events
        |      FROM h WHERE age_bucket < 30 GROUP BY 1, 2),
        |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY part
        |          ORDER BY decayed_scaled DESC, entity) AS BIGINT) AS rank
        |      FROM s)
        |SELECT part, entity, decayed_scaled, n_events, rank
        |FROM r WHERE rank <= 10 ORDER BY part, rank""".stripMargin),

    // Cohort retention: users grouped by first-seen week, per-week
    // comeback counts as ppm of cohort size — the longitudinal
    // analytics companion of the session/window family, integer-exact
    // end to end (epoch-µs DIV week, counts, ppm DIV).
    Query("ext136_cohort_retention", (s, dir) =>
      Windows.cohortRetention(Tables.events(s, dir), col("user_id"))
        .orderBy("cohort_p", "p_offset"),
      // Same integer period arithmetic: week = epoch_us // 7 days, cohort
      // = min week per user over the distinct (user, week) matrix.
      """WITH pr AS (SELECT DISTINCT user_id AS uid,
        |              epoch_us(ts) // 604800000000 AS p
        |            FROM events),
        |f AS (SELECT uid, min(p) AS cohort_p FROM pr GROUP BY 1),
        |cs AS (SELECT cohort_p, CAST(count(*) AS BIGINT) AS cohort_users
        |       FROM f GROUP BY 1),
        |m AS (SELECT f.cohort_p, pr.p - f.cohort_p AS p_offset,
        |        CAST(count(*) AS BIGINT) AS active_users
        |      FROM pr JOIN f USING (uid) GROUP BY 1, 2)
        |SELECT m.cohort_p, m.p_offset, m.active_users, cs.cohort_users,
        |       (1000000 * m.active_users) // cs.cohort_users
        |         AS retention_ppm
        |FROM m JOIN cs USING (cohort_p)
        |ORDER BY cohort_p, p_offset""".stripMargin),

    // Ordered-step conversion funnel over the event stream: users
    // progressing signup -> view -> click -> purchase, each step
    // strictly after the previous and within 7 days of step 1;
    // per-step conversion as exact ppm of the previous step and of
    // the cohort entry. The sequential companion of ext136's
    // longitudinal retention.
    Query("ext139_funnel", (s, dir) =>
      Windows.funnel(Tables.events(s, dir), col("user_id"),
        Seq("signup", "view", "click", "purchase")).orderBy("step"),
      // The same min-ts step chain: each step joins the shrinking
      // survivor relation, strictly-after + 7-day-horizon predicates on
      // epoch-µs ints, ppm DIVs off a lag/first window over the 4-row
      // summary.
      {
        val steps = Seq("signup", "view", "click", "purchase")
        val h = 7L * 86400000000L
        val ctes = new StringBuilder
        ctes ++=
          s"""u1 AS (SELECT user_id AS uid, min(epoch_us(ts)) AS t1,
             |         min(epoch_us(ts)) AS tp
             |       FROM events WHERE event_type = '${steps.head}'
             |       GROUP BY 1),
             |""".stripMargin
        for (i <- 2 to steps.size) {
          ctes ++=
            s"""u$i AS (SELECT e.user_id AS uid, u${i - 1}.t1,
               |         min(epoch_us(e.ts)) AS tp
               |       FROM events e JOIN u${i - 1} ON u${i - 1}.uid = e.user_id
               |       WHERE e.event_type = '${steps(i - 1)}'
               |         AND epoch_us(e.ts) > u${i - 1}.tp
               |         AND epoch_us(e.ts) <= u${i - 1}.t1 + $h
               |       GROUP BY 1, 2),
               |""".stripMargin
        }
        val counts = steps.zipWithIndex.map { case (name, i) =>
          s"""SELECT CAST(${i + 1} AS BIGINT) AS step, '$name' AS step_name,
             |             CAST(count(*) AS BIGINT) AS users FROM u${i + 1}"""
            .stripMargin
        }.mkString("\n      UNION ALL ")
        s"""WITH ${ctes.toString.stripSuffix(",\n")},
           |c AS ($counts),
           |w AS (SELECT *, lag(users) OVER (ORDER BY step) AS prev,
           |        first_value(users) OVER (ORDER BY step
           |          ROWS BETWEEN UNBOUNDED PRECEDING
           |          AND UNBOUNDED FOLLOWING) AS frst
           |      FROM c)
           |SELECT step, step_name, users,
           |       CASE WHEN prev IS NULL THEN 1000000
           |            WHEN prev = 0 THEN 0
           |            ELSE (1000000 * users) // prev END AS conv_prev_ppm,
           |       CASE WHEN frst = 0 THEN 0
           |            ELSE (1000000 * users) // frst END AS conv_first_ppm
           |FROM w ORDER BY step""".stripMargin
      }),

    // Per-event-type OLS trend slope over daily counts — DIRECTION
    // where ext133/141 rank recency-weighted MASS: five int64
    // sufficient statistics over the (entity, day, count) matrix,
    // global-min-shifted x, one IEEE division floor-ppm'd; zero-
    // variance entities report 0, not 0/0.
    Query("ext152_trend_slope", (s, dir) =>
      Windows.trendSlopes(Tables.events(s, dir), col("event_type"))
        .orderBy("entity"),
      // Trend-slope replay: the same five sums over the day-count
      // matrix, min-shifted x, single double division.
      """WITH c AS (
        |  SELECT event_type AS entity,
        |         epoch_us(ts) // 86400000000 AS x,
        |         CAST(count(*) AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2),
        |m AS (SELECT CAST(MIN(x) AS BIGINT) AS x0 FROM c),
        |s AS (
        |  SELECT entity, CAST(count(*) AS BIGINT) AS n_periods,
        |         CAST(SUM(x - x0) AS BIGINT) AS sx,
        |         CAST(SUM(y) AS BIGINT) AS sy,
        |         SUM(CAST(x - x0 AS HUGEINT) * y) AS sxy,
        |         CAST(SUM((x - x0) * (x - x0)) AS BIGINT) AS sxx
        |  FROM c, m GROUP BY 1)
        |SELECT entity, n_periods, sy AS n_events,
        |       CASE WHEN CAST(n_periods AS HUGEINT) * sxx
        |                 - CAST(sx AS HUGEINT) * sx = 0 THEN 0
        |            ELSE CAST(floor(1000000.0 *
        |                 (CAST(CAST(n_periods AS HUGEINT) * sxy
        |                       - CAST(sx AS HUGEINT) * sy AS DOUBLE) /
        |                  CAST(CAST(n_periods AS HUGEINT) * sxx
        |                       - CAST(sx AS HUGEINT) * sx AS DOUBLE)))
        |                 AS BIGINT)
        |       END AS slope_ppm
        |FROM s ORDER BY entity""".stripMargin),

    // Median/MAD anomaly days per event type: pointwise outliers where
    // ext152 reads direction and ext150 distribution drift — modified
    // z-score flag (dev > 7 x MAD, MAD floored at 1), both medians
    // lower-order statistics over the daily count matrix; all int64,
    // zero divisions.
    Query("ext158_anomaly_days", (s, dir) =>
      Windows.anomalyDays(Tables.events(s, dir), col("event_type"))
        .orderBy("entity", "x"),
      // Anomaly days: lower-median + lower-MAD per entity over the daily
      // count matrix, flag = dev > 7 x greatest(mad, 1) — all int64 rank
      // statistics, zero divisions.
      """WITH c AS (
        |  SELECT event_type AS entity,
        |         epoch_us(ts) // 86400000000 AS x,
        |         CAST(count(*) AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT *,
        |        row_number() OVER (PARTITION BY entity ORDER BY y)
        |          AS rn,
        |        count(*) OVER (PARTITION BY entity) AS n FROM c),
        |m AS (SELECT entity, y AS med FROM r WHERE rn = (n + 1) // 2),
        |d AS (SELECT c.entity, x, y, med, abs(y - med) AS dev
        |      FROM c JOIN m USING (entity)),
        |r2 AS (SELECT *,
        |         row_number() OVER (PARTITION BY entity ORDER BY dev)
        |           AS rn2,
        |         count(*) OVER (PARTITION BY entity) AS n2 FROM d),
        |m2 AS (SELECT entity, dev AS mad FROM r2
        |       WHERE rn2 = (n2 + 1) // 2)
        |SELECT d.entity, x, y, med, mad, dev,
        |       CAST(CASE WHEN dev > 7 * greatest(mad, 1) THEN 1 ELSE 0
        |            END AS BIGINT) AS flag
        |FROM d JOIN m2 USING (entity)
        |ORDER BY entity, x""".stripMargin),

    // Burstiness (Fano factor) per entity over the daily count matrix:
    // dispersion texture next to ext152's direction and ext158's
    // outliers — exact decimal integer, span-normalized (silent days
    // are zeros), same single corpus shuffle.
    Query("ext166_burstiness", (s, dir) =>
      graft.agg.Windows.burstiness(Tables.events(s, dir),
        col("event_type")).orderBy("entity"),
      // Burstiness: span-normalized Fano factor in ppm, HUGEINT cross
      // terms, bursty flag at the Poisson baseline.
      """WITH c AS (
        |  SELECT event_type AS entity,
        |         epoch_us(ts) // 86400000000 AS x,
        |         CAST(count(*) AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2),
        |a AS (
        |  SELECT entity,
        |         CAST(max(x) - min(x) + 1 AS BIGINT) AS n_periods,
        |         CAST(sum(y) AS BIGINT) AS total,
        |         sum(CAST(y AS HUGEINT) * y) AS s2
        |  FROM c GROUP BY 1),
        |f AS (
        |  SELECT entity, n_periods, total,
        |         CAST((1000000 * (CAST(n_periods AS HUGEINT) * s2
        |              - CAST(total AS HUGEINT) * total))
        |              // (CAST(n_periods AS HUGEINT) * total)
        |           AS BIGINT) AS fano_ppm
        |  FROM a)
        |SELECT entity, n_periods, total, fano_ppm,
        |       CAST(CASE WHEN fano_ppm > 1000000 THEN 1 ELSE 0 END
        |         AS BIGINT) AS bursty
        |FROM f ORDER BY entity""".stripMargin),

    // Z-order (Morton) layout audit: events bucketed by the
    // interleaved bits of (user_id, event day) vs a single-key sort at
    // the same file granularity — per-bucket row counts and BOTH
    // dimensions' grid spans, the min/max-footer pruning a layout
    // optimizer actually buys. Pure integer projections (grid DIV,
    // bit interleave), no global sort.
    Query("ext142_zorder_layout", (s, dir) =>
      graft.ops.Layout.zOrderAudit(
          Tables.events(s, dir)
            .select(col("user_id"),
              expr("unix_micros(ts) DIV 86400000000").as("day")),
          col("user_id"), col("day"))
        .orderBy("layout", "bucket"),
      // Same grid DIV + 32-term disjoint-bit Morton sum + top-bits
      // bucketing, both layouts unioned off one cells CTE.
      {
        val bits = 16
        val bucketBits = 4
        def cell(v: String, lo: String, hi: String) =
          s"CAST(CASE WHEN $hi = $lo THEN 0 ELSE " +
            s"(($v - $lo) * ${(1L << bits) - 1}) // ($hi - $lo) END " +
            "AS BIGINT)"
        val morton = (0 until bits).flatMap(i => Seq(
            s"(((c1 >> $i) & 1) << ${2 * i + 1})",
            s"(((c2 >> $i) & 1) << ${2 * i})"))
          .mkString(" + ")
        s"""WITH v AS (SELECT user_id AS d1,
           |             epoch_us(ts) // 86400000000 AS d2 FROM events),
           |mm AS (SELECT min(d1) AS min1, max(d1) AS max1,
           |              min(d2) AS min2, max(d2) AS max2 FROM v),
           |cells AS (SELECT ${cell("d1", "min1", "max1")} AS c1,
           |                 ${cell("d2", "min2", "max2")} AS c2
           |          FROM v, mm),
           |tagged AS (
           |  SELECT 'zorder' AS layout,
           |         CAST(($morton) >> ${2 * bits - bucketBits} AS BIGINT)
           |           AS bucket, c1, c2
           |  FROM cells
           |  UNION ALL
           |  SELECT 'd1sort' AS layout,
           |         CAST(c1 >> ${bits - bucketBits} AS BIGINT) AS bucket,
           |         c1, c2
           |  FROM cells)
           |SELECT layout, bucket, CAST(count(*) AS BIGINT) AS n_rows,
           |       CAST(max(c1) - min(c1) AS BIGINT) AS d1_span,
           |       CAST(max(c2) - min(c2) AS BIGINT) AS d2_span
           |FROM tagged GROUP BY 1, 2
           |ORDER BY layout, bucket""".stripMargin
      }),

    // Decayed trending on the ABSOLUTE epoch grid — the
    // streaming-mergeable variant of ext133: bucket = ts DIV H needs
    // no reference-clock agreement, so per-shard partial histograms
    // merge by pure addition and "now" derives from the merged state
    // (max bucket). Same exact-int64 power-of-two scoring.
    Query("ext141_trending_aligned", (s, dir) =>
      Decay.trendingTopKAligned(Tables.events(s, dir), col("event_type"),
          col("user_id"), col("ts"), 86400000000L, 10)
        .orderBy("part", "rank"),
      // ext133's scoring with absolute-grid ages: tref is the max epoch
      // bucket, age = bucket distance on the grid.
      """WITH tb AS (SELECT max(epoch_us(ts) // 86400000000) AS tref_b
        |            FROM events),
        |h AS (SELECT event_type AS part, user_id AS entity,
        |        tref_b - (epoch_us(ts) // 86400000000) AS age_bucket
        |      FROM events, tb),
        |s AS (SELECT part, entity,
        |        CAST(sum(CAST(1 AS BIGINT) << CAST(29 - age_bucket AS INT))
        |             AS BIGINT) AS decayed_scaled,
        |        CAST(count(*) AS BIGINT) AS n_events
        |      FROM h WHERE age_bucket < 30 GROUP BY 1, 2),
        |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY part
        |          ORDER BY decayed_scaled DESC, entity) AS BIGINT) AS rank
        |      FROM s)
        |SELECT part, entity, decayed_scaled, n_events, rank
        |FROM r WHERE rank <= 10 ORDER BY part, rank""".stripMargin),

    Query("ext114_salted_join", (s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_partkey").as("partkey"),
          col("l_extendedprice"), col("l_orderkey"))
      val p = Tables.part(s, dir)
        .select(col("p_partkey").as("partkey"), col("p_brand"))
      graft.ops.Skew.saltedJoin(li, p, "partkey",
          col("l_orderkey") * lit(7919) + col("partkey"))
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_extendedprice").cast("decimal(18,6)"))
            .cast("double").as("revenue"))
        .orderBy("p_brand")
    },
      // The salted rewrite must be invisible in results: the oracle is
      // the PLAIN join + aggregate.
      """SELECT p_brand,
        |       CAST(count(*) AS BIGINT) AS n_items,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6)))
        |            AS DOUBLE) AS revenue
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |GROUP BY 1 ORDER BY p_brand""".stripMargin)
  )
}
