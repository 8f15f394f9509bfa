package graft.agg

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Windowed aggregation core (SURVEY.md §2.6) — the heart of the reference
 * (TweetGateCore/Query.cs:21-168), re-expressed on Catalyst.
 *
 * Reference window constants (Query.cs:12-17): 10-min window, 1-min hop,
 * top-10 entities per window, 10 example tweets per entity. All functions
 * are plain declarative DataFrame transforms: Catalyst fuses the
 * multi-aggregate (count+sum+collect) into one HashAggregate pass — the
 * same fusion Trill's GroupAggregate does by hand (Query.cs:61-66) — and
 * partial (map-side) aggregation keeps the shuffle at |window × entity|
 * rows, not |events|, which is what makes the shape survive 100 TB.
 */
object Windows {
  val WindowSize = "10 minutes"
  val HopSize = "1 minute"
  val TopN = 10
  val ExamplesPerEntity = 10

  /** Parse a `"<n> (seconds|minutes|hours)"` window-duration string into
    * seconds — the single source the slice-rollup fan-out and stride are
    * DERIVED from, so changing [[WindowSize]]/[[HopSize]] can never
    * silently desynchronize the sliced forms from the direct `window()`
    * form (they used to bake in `10` and `* 60` as literals). */
  private[graft] def durationSec(d: String): Long = {
    val pat = raw"(\d+)\s+(second|minute|hour)s?".r
    d.trim match {
      case pat(n, unit) => n.toLong * (unit match {
        case "second" => 1L
        case "minute" => 60L
        case "hour"   => 3600L
      })
      case other =>
        throw new IllegalArgumentException(s"unparseable duration: $other")
    }
  }

  /** Hop fan-out (slices per window) and hop stride in seconds for a
    * window/hop pair; requires the hop to divide the window evenly (the
    * same constraint `window(ts, w, h)` slicing assumes). */
  private[graft] def hopShape(windowSize: String, hopSize: String): (Int, Long) = {
    val winSec = durationSec(windowSize)
    val hopSec = durationSec(hopSize)
    require(winSec % hopSec == 0,
      s"hop $hopSize must divide window $windowSize evenly")
    ((winSec / hopSec).toInt, hopSec)
  }

  /** Window end as epoch seconds (BIGINT) — the cross-engine-stable key
    * the serving layer sorts/prunes on (the reference's D19 tick key,
    * RocksDBStore.cs:207-210, plays the same role). */
  private def windowEnd: Column = col("window.end").cast("long")

  /** OP-20/29: tumbling count per 10-min window (Query.cs:45-50). */
  def tumblingCounts(events: DataFrame, ts: String = "ts"): DataFrame =
    events.groupBy(window(col(ts), WindowSize))
      .agg(count("*").as("cnt"))
      .select(windowEnd.as("window_end"), col("cnt"))

  /** OP-21/22: count per 10-min/1-min hopping window (Query.cs:142-146).
    *
    * Implemented as slice rollup, not naive ×10 multi-assignment: events
    * pre-aggregate into 1-min tumbling slices (shuffle sees each event
    * once), then each slice row fans out to the 10 hop windows it feeds
    * and a second, tiny aggregation sums slices per window. At 100 TB the
    * naive form (`window(ts, 10 min, 1 min)` directly) makes map-side
    * aggregation state and pre-combine rows 10× larger; slice rollup
    * moves the ×10 fan-out to |slices| rows instead of |events|. */
  def hoppingCounts(events: DataFrame, ts: String = "ts",
      windowSize: String = WindowSize, hopSize: String = HopSize): DataFrame = {
    val (fanOut, hopSec) = hopShape(windowSize, hopSize)
    val slices = events.groupBy(window(col(ts), hopSize))
      .agg(count("*").as("c"))
      .select(col("window.start").cast("long").as("slice_start"), col("c"))
    slices
      .select(col("slice_start"), col("c"),
        explode(sequence(lit(1), lit(fanOut))).as("k"))
      .select(col("c"),
        (col("slice_start") + col("k") * hopSec).as("window_end"))
      .groupBy("window_end")
      .agg(sum(col("c")).as("cnt"))
  }

  /**
   * OP-23/24/25: per-entity multi-aggregate over hopping windows
   * (Query.cs:61-66,94-99,125-131): Count + Sum(weight) in one pass.
   * `weight` is summed as DECIMAL(18,6) and returned as double: decimal
   * addition is exact and order-independent, so Spark and any other
   * engine (the DuckDB oracle, a different cluster layout) agree
   * bit-for-bit — float sums would drift with partitioning. `extra`
   * aggregates need not compose across slices, so only their absence
   * takes the slice-rollup form ([[entityWindowAggSliced]]).
   */
  def entityWindowAgg(
      events: DataFrame,
      entity: Column,
      weight: Column,
      ts: String = "ts",
      extra: Seq[Column] = Nil,
      windowSize: String = WindowSize,
      hopSize: String = HopSize): DataFrame =
    if (extra.isEmpty)
      entityWindowAggSliced(events, entity, weight, ts, windowSize, hopSize)
    else
      events.groupBy(window(col(ts), windowSize, hopSize), entity.as("entity"))
        .agg(
          count("*").as("tweet_count"),
          (sum(weight.cast("decimal(18,6)")).cast("double")
            .as("follower_sum") +: extra): _*)
        .withColumn("window_end", windowEnd)
        .drop("window")

  /** Slice-rollup form of the per-entity hopping aggregate (see
    * [[hoppingCounts]]): 1-min tumbling pre-aggregate per entity, then the
    * ×10 hop fan-out runs over |slices × entities| pre-combined rows
    * instead of |events|. Count/sum compose across slices exactly
    * (decimal partials), so results are identical to the direct form. */
  def entityWindowAggSliced(
      events: DataFrame,
      entity: Column,
      weight: Column,
      ts: String = "ts",
      windowSize: String = WindowSize,
      hopSize: String = HopSize): DataFrame = {
    val (fanOut, hopSec) = hopShape(windowSize, hopSize)
    val slices = events
      .groupBy(window(col(ts), hopSize), entity.as("entity"))
      .agg(count("*").as("c"),
        sum(weight.cast("decimal(18,6)")).as("s"))
      .select(col("window.start").cast("long").as("slice_start"),
        col("entity"), col("c"), col("s"))
    slices
      .select(col("slice_start"), col("entity"), col("c"), col("s"),
        explode(sequence(lit(1), lit(fanOut))).as("k"))
      .select(col("entity"), col("c"), col("s"),
        (col("slice_start") + col("k") * hopSec).as("window_end"))
      .groupBy("window_end", "entity")
      .agg(sum(col("c")).as("tweet_count"),
        sum(col("s")).cast("double").as("follower_sum"))
  }

  /**
   * OP-28 (`GetTopItems`, Query.cs:152-168): every hop, the top-N entities
   * of the trailing window ranked by follower_sum. Rank with a window
   * function over the (already tiny) per-entity aggregate — the expensive
   * |events| shuffle happened in entityWindowAgg; this one moves only
   * |windows × entities| rows. Total tie-break (metric DESC, entity ASC)
   * keeps top-k deterministic across engines (SURVEY.md §7.3).
   */
  def rankTopEntities(agg: DataFrame, n: Int = TopN): DataFrame = {
    val w = Window.partitionBy(col("window_end"))
      .orderBy(col("follower_sum").desc, col("entity").asc)
    agg.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= n)
  }

  /**
   * OP-27 (Query.cs:82-84,115-117): dedupe example tweets within a group —
   * keep the max-weight row per original-tweet key — done relationally
   * *before* collecting, as a row_number over (window, entity, dedupe key)
   * rather than array surgery after.
   */
  def dedupeExamples(
      rows: DataFrame, dedupeKey: Column, weight: Column): DataFrame = {
    val w = Window
      .partitionBy(col("window_end"), col("entity"), dedupeKey)
      .orderBy(weight.desc)
    rows.withColumn("dedupe_rn", row_number().over(w))
      .filter(col("dedupe_rn") === 1).drop("dedupe_rn")
  }

  /** OP-31 (RocksDBStore.cs:90-92): running total over the time-ordered
    * count stream. Batch form: an unbounded-preceding running sum. */
  def runningTotal(counts: DataFrame): DataFrame =
    counts.withColumn(
      "running_total",
      sum(col("cnt")).over(
        Window.orderBy(col("window_end"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))

  /**
   * Session windows — the data-driven member of the window family
   * (tumbling/hopping above have fixed boundaries). Two events of one
   * entity merge into a session when they are less than `gap` apart;
   * the session ends `gap` after its last event. Spark's `session_window`
   * runs this as one hash-partition-by-entity pass in batch AND under
   * Structured Streaming (merging session state across micro-batches);
   * boundaries are µs-exact, so the gaps-and-islands SQL twin reproduces
   * them bit-for-bit.
   *
   * Output times are epoch-µs BIGINTs (portable; see the cross-engine
   * contract in COVERAGE.md). Weight sums ride DECIMAL(18,6).
   */
  def sessionAgg(events: DataFrame, entity: Column, weight: Column,
      gap: String = "6 hours", ts: String = "ts"): DataFrame =
    events
      .groupBy(entity.as("entity"), session_window(col(ts), gap))
      .agg(count("*").as("n_events"),
        sum(weight.cast("decimal(18,6)")).cast("double").as("weight_sum"))
      .select(col("entity"),
        unix_micros(col("session_window.start")).as("session_start_us"),
        unix_micros(col("session_window.end")).as("session_end_us"),
        col("n_events"), col("weight_sum"))

  /**
   * Ordered-step conversion funnel — the sequential companion of
   * [[cohortRetention]]: how many users progress through `steps` IN
   * ORDER, each step strictly after the previous one and inside a
   * `horizonUs` window from the user's step-1 time. Times are epoch-µs
   * integers end to end (no calendar math); per-step conversion is ppm
   * of the previous step and of step 1 (integer DIV — exact).
   *
   * Scale shape: each step is one type-filtered pass over events
   * equi-joined on `uid` against the (user, t1, t_prev) survivor
   * relation. The survivor side is O(|users|) — corpus-proportional,
   * NOT constant-bounded — so it is deliberately NOT broadcast-hinted
   * (the same boundary `dedupWeights`/`noveltyScoresAgainst` document): both
   * sides hash-partition on `uid` and AQE downgrades to a broadcast
   * join at runtime only when the survivor side is actually small.
   * Events are scanned once per step with the event-type predicate
   * pushed to the parquet scan, and the per-user min collapses
   * map-side. The final 4-row summary never shuffles anything bigger
   * than |steps| rows.
   */
  def funnel(events: DataFrame, user: Column,
      steps: Seq[String], horizonUs: Long = 7L * 86400000000L,
      ts: String = "ts", eventType: String = "event_type"): DataFrame = {
    require(steps.size >= 2, "a funnel needs at least two steps")
    val tsUs = unix_micros(col(ts))
    val first = events.filter(col(eventType) === steps.head)
      .groupBy(user.as("uid"))
      .agg(min(tsUs).as("t1"))
      .withColumn("t_prev", col("t1"))
    val survivors = steps.tail.foldLeft(List(first)) { (acc, step) =>
      val prev = acc.head
      val next = events.filter(col(eventType) === step)
        .select(user.as("uid"), tsUs.as("t_ev"))
        .join(prev, "uid")
        .filter(col("t_ev") > col("t_prev") &&
          col("t_ev") <= col("t1") + lit(horizonUs))
        .groupBy("uid", "t1")
        .agg(min(col("t_ev")).as("t_prev"))
      next :: acc
    }.reverse
    val counts = survivors.zip(steps).zipWithIndex.map {
      case ((df, name), i) =>
        df.agg(count(lit(1)).as("users"))
          .select(lit(i + 1L).as("step"), lit(name).as("step_name"),
            col("users"))
    }.reduceLeft(_ union _)
    counts
      .withColumn("_first", first_value(col("users")).over(
        Window.orderBy("step")
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("_prev", lag(col("users"), 1).over(Window.orderBy("step")))
      .select(col("step"), col("step_name"), col("users"),
        when(col("_prev").isNull, lit(1000000L))
          .when(col("_prev") === 0, lit(0L))
          .otherwise(expr("(1000000 * users) DIV _prev"))
          .as("conv_prev_ppm"),
        when(col("_first") === 0, lit(0L))
          .otherwise(expr("(1000000 * users) DIV _first"))
          .as("conv_first_ppm"))
  }

  /**
   * Per-entity OLS trend slope over per-period event counts — "which
   * event types / entities are growing, and how fast": periods are
   * `unix_micros(ts) DIV periodUs` (day grid by default), y = events
   * per (entity, period), slope = the least-squares fit
   * (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²) reported as floor-ppm. The
   * decayed trending family (ext133/141) ranks by recency-weighted
   * MASS; this fits DIRECTION — the complementary signal a growth
   * dashboard plots.
   *
   * Engine-exact: x is shifted by the GLOBAL min period (slope is
   * shift-invariant; bounds the x-side products, but NOT the count-
   * weighted cross terms — those are computed in decimal(38,0)/HUGEINT
   * so ~1e4 periods × 1e11 events cannot wrap int64), all five
   * sufficient statistics are int64 sums over the per-period count
   * matrix, and the one IEEE division is a single op both engines
   * round identically (the ext115 correlation discipline).
   * Entities seen in only one period (or with zero x-variance) report
   * slope 0 rather than an ANSI 0/0.
   *
   * Scale shape: raw events collapse map-side into the (entity,
   * period, count) matrix — the ONLY corpus-sized shuffle; the
   * sufficient statistics collapse that matrix map-side again; the
   * global min period is a broadcast 1-row envelope. The per-(entity,
   * period) counts are pure-addition partials ([[periodCounts]]), so
   * the streaming twin accumulates exactly them per micro-batch and
   * folds here.
   */
  def trendSlopes(events: DataFrame, entity: Column, ts: String = "ts",
      periodUs: Long = 86400000000L): DataFrame =
    trendSlopesFromCounts(periodCounts(events, entity, ts, periodUs))

  /** The (entity, x, y) period-count matrix [[trendSlopes]],
    * [[anomalyDays]] and [[burstiness]] derive from: y events per
    * entity and period x = `unix_micros(ts) DIV periodUs`. The counts
    * are pure-addition partials, the per-micro-batch form the streaming
    * twin writes through [[graft.stream.StreamingPipeline.partialsSink]];
    * the min-shift and the rank statistics belong to the `…FromCounts`
    * derivations, after the merge (they read the whole matrix). */
  def periodCounts(events: DataFrame, entity: Column, ts: String,
      periodUs: Long): DataFrame =
    events.select(entity.as("entity"),
        expr(s"unix_micros($ts) DIV $periodUs").as("x"))
      .groupBy("entity", "x").agg(count(lit(1)).as("y"))

  /** [[trendSlopes]]' fit over a pre-counted (entity, x, y) period
    * matrix — duplicate (entity, x) keys are re-summed first, so
    * per-micro-batch partials fold exactly at any batching. */
  def trendSlopesFromCounts(rawCounts: DataFrame): DataFrame = {
    val per = rawCounts.groupBy("entity", "x").agg(sum("y").as("y"))
    val xmin = per.agg(min("x").as("x0"))
    per.crossJoin(broadcast(xmin))
      .select(col("entity"), (col("x") - col("x0")).as("x"), col("y"))
      .groupBy("entity").agg(
        count(lit(1)).as("n_periods"), sum("x").as("sx"),
        // sxy is the one sufficient statistic that can itself leave
        // int64 (≤ periods · max_x · max_y ≈ 1e4·1e4·1e11): sum it in
        // decimal. sx/sxx are x-bounded (min-shift) and sy is the
        // entity's event count — int64-safe to 9.2e18 events.
        sum("y").as("sy"),
        sum(expr("cast(x as decimal(38,0)) * y")).as("sxy"),
        sum(expr("x * x")).as("sxx"))
      .select(col("entity"), col("n_periods"),
        col("sy").as("n_events"),
        // The cross terms are count-weighted: sxy/sy scale with per-
        // entity EVENT counts, so n_periods*sxy and sx*sy leave int64
        // around 1e4 periods × 1e11 events (silent wrap under non-ANSI
        // Spark). decimal(38,0) keeps the numerator/denominator exact
        // integers (both engines cast the same exact value to double).
        when(expr("cast(n_periods as decimal(38,0)) * sxx" +
            " - cast(sx as decimal(38,0)) * sx") === 0, lit(0L))
          .otherwise(floor(lit(1000000.0d) *
            (expr("cast(n_periods as decimal(38,0)) * sxy" +
                " - cast(sx as decimal(38,0)) * sy").cast("double") /
              expr("cast(n_periods as decimal(38,0)) * sxx" +
                " - cast(sx as decimal(38,0)) * sx").cast("double")))
            .cast("long"))
          .as("slope_ppm"))
  }

  /**
   * Median/MAD anomaly days — POINTWISE outliers where [[trendSlopes]]
   * reads direction and PSI (ext150) reads distribution drift: per
   * entity, each period's count is flagged when its absolute deviation
   * from the entity's median exceeds `k` × MAD (the modified z-score
   * rule, robust where mean/stddev would let one spike poison its own
   * threshold). Median and MAD are LOWER-median order statistics
   * (rank `(n+1) DIV 2` over value order) — deterministic in VALUE
   * even under row_number tie permutation, so both engines pick the
   * same integers; `greatest(mad, 1)` keeps constant-series entities
   * (MAD 0) from flagging every ±1 wiggle. All int64, no division at
   * all.
   *
   * Scale shape: raw events collapse map-side into the (entity,
   * period, count) matrix — the only corpus-sized shuffle (shared
   * shape with [[trendSlopesFromCounts]]); both medians are windowed
   * rank statistics over that compact matrix (|entities| × |periods|
   * rows), and the flags are a stateless projection. The matrix is a
   * pure-addition partial, so the streaming path folds the same
   * per-batch counts ([[trendSlopesFromCounts]]' sink) before the
   * rank pass.
   */
  def anomalyDays(events: DataFrame, entity: Column, ts: String = "ts",
      periodUs: Long = 86400000000L, k: Long = 7L): DataFrame =
    anomalyDaysFromCounts(periodCounts(events, entity, ts, periodUs), k)

  /** [[anomalyDays]]' rank pass over a pre-counted (entity, x, y)
    * matrix — duplicate keys re-summed first (partials fold exactly). */
  def anomalyDaysFromCounts(rawCounts: DataFrame,
      k: Long = 7L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val per = rawCounts.groupBy("entity", "x").agg(sum("y").as("y"))
    val byEnt = Window.partitionBy("entity")
    def lowerMedian(df: DataFrame, value: String,
        out: String): DataFrame =
      df.withColumn("_rn", row_number().over(byEnt.orderBy(col(value))))
        .withColumn("_n", count(lit(1)).over(byEnt))
        .filter(col("_rn") === expr("(_n + 1) DIV 2"))
        .select(col("entity"), col(value).as(out))
    val med = lowerMedian(per, "y", "med")
    val dev = per.join(med, "entity")
      .withColumn("dev", abs(col("y") - col("med")))
    val mad = lowerMedian(dev.select(col("entity"), col("dev")),
      "dev", "mad")
    dev.join(mad, "entity")
      .select(col("entity"), col("x"), col("y"), col("med"), col("mad"),
        col("dev"),
        (col("dev") > lit(k) * greatest(col("mad"), lit(1L)))
          .cast("long").as("flag"))
  }

  /**
   * Burstiness card (ext166) — the index of dispersion (Fano factor,
   * variance/mean in ppm) per entity over the daily count matrix: the
   * DISPERSION member of the temporal family (ext152 reads direction,
   * ext158 pointwise outliers, ext150 distribution drift; this reads
   * texture — fano ≈ 1e6 is Poisson-like arrival, ≫ 1e6 is bursty
   * clumping, ≪ 1e6 is metronomic). Periods are the entity's OBSERVED
   * SPAN (max − min + 1): silent days inside the span count as zeros —
   * an entity active 3 days out of 100 reads bursty, which is the
   * question the card answers; a single-period span reads 0 by
   * definition. Zeros contribute nothing to Σy/Σy², so the span
   * convention costs no extra rows.
   *
   * Exact integer: fano_ppm = 10⁶·(n·Σy² − (Σy)²) DIV (n·Σy), all in
   * decimal(38,0)/HUGEINT (n·Σy² leaves int64 exactly like ext152's
   * sxy — the count-weighted square is the overflow term; Cauchy–
   * Schwarz keeps the numerator ≥ 0, so trunc DIV == floor). `bursty`
   * flags fano > 10⁶. Same (entity, period, count) matrix as the
   * slope/anomaly cards — one corpus shuffle, pure-addition partials,
   * and the streaming twin reads the SAME [[periodCounts]] store.
   */
  def burstiness(events: DataFrame, entity: Column, ts: String = "ts",
      periodUs: Long = 86400000000L): DataFrame =
    burstinessFromCounts(periodCounts(events, entity, ts, periodUs))

  /** [[burstiness]] over a pre-counted (entity, x, y) matrix —
    * duplicate (entity, x) keys re-sum first, so per-micro-batch
    * partials fold exactly at any batching (the trendSlopes rule). */
  def burstinessFromCounts(rawCounts: DataFrame): DataFrame = {
    val per = rawCounts.groupBy("entity", "x").agg(sum("y").as("y"))
    per.groupBy("entity").agg(
        (max("x") - min("x") + 1).as("n_periods"),
        sum("y").as("total"),
        sum(expr("cast(y as decimal(38,0)) * y")).as("s2"))
      .select(col("entity"), col("n_periods"), col("total"),
        expr("CAST((1000000 * (cast(n_periods as decimal(38,0)) * s2" +
          " - cast(total as decimal(38,0)) * total))" +
          " DIV (cast(n_periods as decimal(38,0)) * total) AS BIGINT)")
          .as("fano_ppm"))
      .withColumn("bursty",
        (col("fano_ppm") > 1000000L).cast("long"))
  }

  /**
   * Cohort retention — the longitudinal member of the window family:
   * group users by the period they FIRST appeared (their cohort), then
   * for each (cohort, periods-since) cell count how many of them came
   * back. Periods are whole `periodUs` slices of epoch time (integer
   * DIV — engine-portable, no calendar arithmetic), retention is ppm
   * of the cohort's size (integer DIV after the count, so cells are
   * exact int64s).
   *
   * Scale shape: raw events collapse map-side into the distinct
   * (user, period) activity matrix — the ONLY relation that ever
   * shuffles, bounded by users × active periods, not event count; the
   * first-seen min and the user-keyed join both run over that compact
   * matrix, and cohort sizes (|cohorts| rows) broadcast back onto it.
   * Raw events are touched exactly once.
   */
  def cohortRetention(events: DataFrame, user: Column, ts: String = "ts",
      periodUs: Long = 7L * 86400000000L): DataFrame = {
    val periods = events
      .select(user.as("uid"),
        expr(s"unix_micros($ts) DIV $periodUs").as("p"))
      .distinct()
    val first = periods.groupBy("uid").agg(min("p").as("cohort_p"))
    val cohortSize = first.groupBy("cohort_p")
      .agg(count(lit(1)).as("cohort_users"))
    periods.join(first, "uid")
      .groupBy(col("cohort_p"), (col("p") - col("cohort_p")).as("p_offset"))
      .agg(count(lit(1)).as("active_users"))
      .join(broadcast(cohortSize), "cohort_p")
      .select(col("cohort_p"), col("p_offset"), col("active_users"),
        col("cohort_users"),
        expr("(1000000 * active_users) DIV cohort_users")
          .as("retention_ppm"))
  }
}
