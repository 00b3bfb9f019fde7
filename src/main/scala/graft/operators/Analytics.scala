package graft.operators

import graft.{QueryFamily, QuerySpec, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product-analytics operators over the event stream — the reporting
  * layer a recommender pipeline feeds (funnel conversion, cohort
  * retention, outlier detection). All pure Spark SQL, DuckDB-oracled.
  *
  * Scale design: every query here aggregates `events` by user_id or by
  * a low-cardinality key. The funnel repartitions on user_id ONCE and
  * reuses that partitioning across its three stage aggregates (the
  * Tables.interactions idiom); the cohort and anomaly queries are one
  * scan + one narrow shuffle each. Nothing in this file joins two fact
  * tables — per-user state stays K rows per user, so a 1000-executor
  * run shuffles each event exactly once.
  */
object Analytics extends QueryFamily {

  /** Ordered conversion funnel view → click → purchase: a user converts
    * to a stage only via an event STRICTLY AFTER their entry into the
    * previous stage (first view, then first click after that view, then
    * first purchase after that click) — the standard ordered-funnel
    * semantics, not mere set intersection. Single-row summary with
    * stage populations and step conversion rates.
    *
    * Plan shape: one repartition(user_id), then three groupBy(user_id)
    * aggregates that all reuse it; the stage tables are |users| rows and
    * co-partitioned, so the stage joins add no exchange.
    */
  def sessionFunnel(spark: SparkSession, sfDir: String): DataFrame = {
    // severed once after the user partitioning: the three stage
    // filters push below a bare repartition and each re-scan events
    // (r9s2 rescan sweep); the checkpoint keeps the co-partitioning
    // so every stage groupBy is shuffle-free
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type"), col("ts"))
      .repartition(col("user_id"))
      .localCheckpoint()
    val tv = ev.where(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts").as("tv"))
    val tc = ev.where(col("event_type") === "click")
      .join(tv, "user_id").where(col("ts") > col("tv"))
      .groupBy("user_id").agg(min("ts").as("tc"))
    val tp = ev.where(col("event_type") === "purchase")
      .join(tc, "user_id").where(col("ts") > col("tc"))
      .groupBy("user_id").agg(min("ts").as("tp"))
    val nv = tv.agg(count(lit(1)).as("n_viewers"))
    val nc = tc.agg(count(lit(1)).as("n_clickers"))
    val np = tp.agg(count(lit(1)).as("n_purchasers"))
    // same empty-stage guard as windowFunnel: degenerate slices yield
    // NULL rates instead of an ANSI DIVIDE_BY_ZERO
    nv.crossJoin(nc).crossJoin(np)
      .withColumn("view_to_click",
        when(col("n_viewers") > 0, round(col("n_clickers") / col("n_viewers"), 6)))
      .withColumn("click_to_purchase",
        when(col("n_clickers") > 0, round(col("n_purchasers") / col("n_clickers"), 6)))
      .withColumn("overall",
        when(col("n_viewers") > 0, round(col("n_purchasers") / col("n_viewers"), 6)))
  }

  val sessionFunnelSql: String =
    """WITH tv AS (
      |  SELECT user_id, min(ts::TIMESTAMP) AS tv FROM events
      |  WHERE event_type = 'view' GROUP BY user_id
      |), tc AS (
      |  SELECT e.user_id, min(e.ts::TIMESTAMP) AS tc
      |  FROM events e JOIN tv ON e.user_id = tv.user_id
      |  WHERE e.event_type = 'click' AND e.ts::TIMESTAMP > tv.tv
      |  GROUP BY e.user_id
      |), tp AS (
      |  SELECT e.user_id, min(e.ts::TIMESTAMP) AS tp
      |  FROM events e JOIN tc ON e.user_id = tc.user_id
      |  WHERE e.event_type = 'purchase' AND e.ts::TIMESTAMP > tc.tc
      |  GROUP BY e.user_id
      |)
      |SELECT
      |  (SELECT count(*) FROM tv) AS n_viewers,
      |  (SELECT count(*) FROM tc) AS n_clickers,
      |  (SELECT count(*) FROM tp) AS n_purchasers,
      |  CASE WHEN (SELECT count(*) FROM tv) > 0
      |    THEN round((SELECT count(*) FROM tc) / (SELECT count(*)::DOUBLE FROM tv), 6) END AS view_to_click,
      |  CASE WHEN (SELECT count(*) FROM tc) > 0
      |    THEN round((SELECT count(*) FROM tp) / (SELECT count(*)::DOUBLE FROM tc), 6) END AS click_to_purchase,
      |  CASE WHEN (SELECT count(*) FROM tv) > 0
      |    THEN round((SELECT count(*) FROM tp) / (SELECT count(*)::DOUBLE FROM tv), 6) END AS overall""".stripMargin

  /** Weekly cohort retention: cohort = Monday-truncated week of a
    * user's FIRST event; for each (cohort, week offset) the distinct
    * users active that week and the retention fraction of the cohort.
    * The classic triangular retention matrix, as rows.
    *
    * Scale shape: first-event extraction and the activity rollup are
    * both user-keyed aggregates over one scan; the cohort-size join is
    * a broadcast (|cohorts| rows ≪ |users|). Week arithmetic is exact
    * integer day math on Monday-aligned dates — no float, no timezone
    * ambiguity (UTC pinned session-wide).
    */
  def retentionCohorts(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), to_date(date_trunc("week", col("ts"))).as("wk"))
    // r11 rescan sever: user→cohort feeds the activity join AND the
    // size rollup (the q_cohort_ltv fix, same frame)
    val firstWk = ev.groupBy("user_id").agg(min("wk").as("cohort"))
      .localCheckpoint()
    val active = ev.distinct()
      .join(firstWk, "user_id")
      .withColumn("week_offset", (datediff(col("wk"), col("cohort")) / 7).cast("int"))
      .groupBy("cohort", "week_offset")
      .agg(countDistinct(col("user_id")).as("n_users"))
    val sizes = firstWk.groupBy("cohort").agg(count(lit(1)).as("cohort_size"))
    active.join(broadcast(sizes), "cohort")
      .withColumn("retention", round(col("n_users") / col("cohort_size"), 6))
      .select("cohort", "week_offset", "n_users", "cohort_size", "retention")
      .orderBy("cohort", "week_offset")
  }

  val retentionCohortsSql: String =
    """WITH ev AS (
      |  SELECT user_id, date_trunc('week', ts::TIMESTAMP)::DATE AS wk FROM events
      |), first_wk AS (
      |  SELECT user_id, min(wk) AS cohort FROM ev GROUP BY user_id
      |), sizes AS (
      |  SELECT cohort, count(*) AS cohort_size FROM first_wk GROUP BY cohort
      |), active AS (
      |  SELECT f.cohort,
      |    (datediff('day', f.cohort, e.wk) / 7)::INT AS week_offset,
      |    count(DISTINCT e.user_id) AS n_users
      |  FROM (SELECT DISTINCT user_id, wk FROM ev) e
      |  JOIN first_wk f ON f.user_id = e.user_id
      |  GROUP BY 1, 2
      |)
      |SELECT a.cohort, a.week_offset, a.n_users, s.cohort_size,
      |  round(a.n_users / s.cohort_size::DOUBLE, 6) AS retention
      |FROM active a JOIN sizes s ON s.cohort = a.cohort
      |ORDER BY a.cohort, a.week_offset""".stripMargin

  /** Z-score threshold for the outlier gate. */
  val ZThreshold = 3.0

  /** Per-event-type outlier detection: events whose value deviates more
    * than [[ZThreshold]] population standard deviations from the type
    * mean. Two passes over one scan: per-type moments, then the
    * threshold count with the moments BROADCAST back (the type table is
    * a handful of rows at any scale). Mean and σ are ROUNDED to 6 dp
    * before the comparison, so the gate is engine-stable — the same
    * rounded-parameter trick as the correlated-subquery query; null /
    * NaN values are excluded from both the moments and the gate.
    */
  def anomalyEvents(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_type"), col("value"))
      .where(col("value").isNotNull && !isnan(col("value")))
    val stats = ev.groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
           round(avg("value"), 6).as("mean_v"),
           round(stddev_pop(col("value")), 6).as("sd_v"))
    ev.join(broadcast(stats), "event_type")
      .withColumn("is_out",
        (abs(col("value") - col("mean_v")) > lit(ZThreshold) * col("sd_v")).cast("long"))
      .groupBy("event_type")
      .agg(first(col("n_events")).as("n_events"),
           first(col("mean_v")).as("mean_v"),
           first(col("sd_v")).as("sd_v"),
           sum(col("is_out")).as("n_outliers"),
           round(max(abs(col("value") - col("mean_v")) / col("sd_v")), 4).as("max_abs_z"))
      .orderBy("event_type")
  }

  val anomalyEventsSql: String =
    s"""WITH ev AS (
       |  SELECT event_type, value FROM events
       |  WHERE value IS NOT NULL AND NOT isnan(value)
       |), stats AS (
       |  SELECT event_type, count(*) AS n_events,
       |    round(avg(value), 6) AS mean_v,
       |    round(stddev_pop(value), 6) AS sd_v
       |  FROM ev GROUP BY event_type
       |)
       |SELECT e.event_type, s.n_events, s.mean_v, s.sd_v,
       |  sum(CASE WHEN abs(e.value - s.mean_v) > $ZThreshold * s.sd_v
       |           THEN 1 ELSE 0 END)::BIGINT AS n_outliers,
       |  round(max(abs(e.value - s.mean_v) / s.sd_v), 4) AS max_abs_z
       |FROM ev e JOIN stats s ON s.event_type = e.event_type
       |GROUP BY e.event_type, s.n_events, s.mean_v, s.sd_v
       |ORDER BY e.event_type""".stripMargin

  /** Gap-filled daily event series with forward-fill: build a complete
    * date spine (every day from the stream's first to last day × every
    * event type), left-join the real daily aggregate, zero-fill counts,
    * and carry the last observed daily average value forward across
    * silent days (`last(..., ignoreNulls)` over an ordered window — the
    * LOCF idiom every monitoring/feature pipeline needs, since models
    * and dashboards can't tolerate missing rows). Days before a type's
    * first observation stay null, exactly like the oracle.
    *
    * Scale: the spine is days × types — trivially small at any data
    * scale — and the fact side is one scan + one narrow aggregate; the
    * forward-fill window partitions by event_type, so state per task is
    * one running value.
    */
  def gapFillDaily(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_type"), to_date(col("ts")).as("day"), col("value"))
    // the daily average is computed ENTIRELY in 1e-4 fixed-point: the
    // integer sum is order-independent (avg(double) differs in the last
    // ulp between engines), and the half-up rounding to 4 dp is integer
    // arithmetic too — round(sum/n, 4) on a double that lands exactly on
    // a .00005 boundary flips between Spark's BigDecimal HALF_UP and
    // DuckDB's raw-double round (observed at sf0.001). Values are
    // non-negative, so integer div == floor in both engines.
    val vq = when(col("value").isNotNull && !isnan(col("value")),
      round(col("value") * 10000, 0).cast("long"))
    // r11 rescan sever: the slim (type, day) daily frame carries the
    // date bounds AND the type set — the calendar spine derives from
    // it instead of two more corpus scans
    val daily = ev.groupBy("event_type", "day")
      .agg(count(lit(1)).as("n"), sum(vq).as("sv"), count(vq).as("nv"))
      .withColumn("day_avg",
        when(col("nv") > 0, expr("(2 * sv + nv) div (2 * nv)") / 10000.0))
      .drop("sv", "nv")
      .localCheckpoint()
    val bounds = daily.agg(min("day").as("d0"), max("day").as("d1"))
    val spine = bounds
      .select(explode(sequence(col("d0"), col("d1"), expr("interval 1 day"))).as("day"))
      .crossJoin(daily.select("event_type").distinct())
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy("day")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    spine.join(daily, Seq("event_type", "day"), "left")
      .withColumn("n_events", coalesce(col("n"), lit(0L)))
      .withColumn("ff_avg", last(col("day_avg"), ignoreNulls = true).over(w))
      .select("event_type", "day", "n_events", "day_avg", "ff_avg")
      .orderBy("event_type", "day")
  }

  val gapFillDailySql: String =
    """WITH ev AS (
      |  SELECT event_type, ts::DATE AS day, value FROM events
      |), daily AS (
      |  SELECT event_type, day, count(*) AS n,
      |    CASE WHEN count(CASE WHEN value IS NOT NULL AND NOT isnan(value) THEN 1 END) > 0
      |      THEN ((2 * sum(CASE WHEN value IS NOT NULL AND NOT isnan(value)
      |                     THEN round(value * 10000)::BIGINT END)
      |             + count(CASE WHEN value IS NOT NULL AND NOT isnan(value) THEN 1 END))
      |            // (2 * count(CASE WHEN value IS NOT NULL AND NOT isnan(value) THEN 1 END)))
      |           / 10000.0
      |    END AS day_avg
      |  FROM ev GROUP BY event_type, day
      |), bounds AS (
      |  SELECT min(day) AS d0, max(day) AS d1 FROM ev
      |), spine AS (
      |  SELECT t.event_type, d.day::DATE AS day
      |  FROM (SELECT unnest(generate_series((SELECT d0 FROM bounds),
      |                                      (SELECT d1 FROM bounds),
      |                                      INTERVAL 1 DAY)) AS day) d
      |  CROSS JOIN (SELECT DISTINCT event_type FROM ev) t
      |)
      |SELECT s.event_type, s.day,
      |  coalesce(d.n, 0)::BIGINT AS n_events,
      |  d.day_avg,
      |  last_value(d.day_avg IGNORE NULLS) OVER (
      |    PARTITION BY s.event_type ORDER BY s.day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ff_avg
      |FROM spine s LEFT JOIN daily d
      |  ON d.event_type = s.event_type AND d.day = s.day
      |ORDER BY s.event_type, s.day""".stripMargin

  /** Bivariate statistics per group: Pearson correlation, sample
    * covariance, and the OLS regression line of extendedprice on
    * quantity, plus a univariate spread stat — the `corr`/`covar_samp`/
    * `regr_*` aggregate family (SURVEY.md §2.4), which both engines
    * implement natively. Results are rounded: the co-moment reductions
    * differ in summation order across engines, but agree to ~10
    * significant digits at any SF, so 4 dp on the dimensionless /
    * slope values and 2 dp on the large-magnitude covariance are
    * orders of magnitude beyond the noise floor.
    */
  def corrStats(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_rows"),
           round(corr(col("l_quantity"), col("l_extendedprice")), 4).as("qty_price_corr"),
           round(covar_samp(col("l_quantity"), col("l_extendedprice")), 2).as("qty_price_covar"),
           round(expr("regr_slope(l_extendedprice, l_quantity)"), 4).as("price_per_qty"),
           round(expr("regr_intercept(l_extendedprice, l_quantity)"), 2).as("price_at_zero"),
           round(stddev_samp(col("l_discount")), 6).as("discount_sd"))
      .orderBy("l_returnflag")

  val corrStatsSql: String =
    """SELECT l_returnflag, count(*) AS n_rows,
      |  round(corr(l_quantity, l_extendedprice), 4) AS qty_price_corr,
      |  round(covar_samp(l_quantity, l_extendedprice), 2) AS qty_price_covar,
      |  round(regr_slope(l_extendedprice, l_quantity), 4) AS price_per_qty,
      |  round(regr_intercept(l_extendedprice, l_quantity), 2) AS price_at_zero,
      |  round(stddev_samp(l_discount), 6) AS discount_sd
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** EWMA smoothing factor α, as integer percent. */
  val EwmaAlphaPct = 30
  /** Fixed-point scale for the EWMA state (1e-4 units). */
  val EwmaScale = 10000L

  /** Exponentially-weighted moving average of the daily event count per
    * type — the standard smoothed-trend line for monitoring dashboards
    * and anomaly baselines. The recurrence s_t = (α·x_t + (1−α)·s_{t−1})
    * is inherently sequential, so it runs as a per-key fold over the
    * collected, date-sorted series (a bounded array per type; at scale
    * the per-key series is still small because the key set is what
    * grows, not the series length). All state is integer fixed-point
    * ([[EwmaScale]] units, α = [[EwmaAlphaPct]]%), so the fold is
    * bit-identical to the oracle's recursive CTE — a float recurrence
    * would compound rounding differently per engine.
    */
  def ewmaSmooth(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.events(spark, sfDir)
      .select(col("event_type"), to_date(col("ts")).as("day"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("n_events"))
    val folded = daily
      .groupBy("event_type")
      .agg(sort_array(collect_list(struct(col("day"), col("n_events")))).as("xs"))
      .withColumn("ss", expr(
        s"""aggregate(xs,
           |  cast(array() AS array<struct<day: date, s: bigint>>),
           |  (acc, x) -> array_append(acc, struct(x.day AS day,
           |    CASE WHEN size(acc) = 0 THEN x.n_events * $EwmaScale
           |         ELSE ($EwmaAlphaPct * x.n_events * $EwmaScale
           |               + ${100 - EwmaAlphaPct} * element_at(acc, -1).s) div 100
           |    END AS s)))""".stripMargin))
      .select(col("event_type"), explode(col("ss")).as("e"))
      .select(col("event_type"), col("e.day").as("day"), col("e.s").as("s_units"))
    daily.join(folded, Seq("event_type", "day"))
      .withColumn("ewma", col("s_units") / EwmaScale.toDouble)
      .select("event_type", "day", "n_events", "ewma")
      .orderBy("event_type", "day")
  }

  val ewmaSmoothSql: String =
    s"""WITH RECURSIVE daily AS (
       |  SELECT event_type, ts::DATE AS day, count(*) AS n_events
       |  FROM events GROUP BY 1, 2
       |), seq AS (
       |  SELECT event_type, day, n_events,
       |    row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn
       |  FROM daily
       |), rec AS (
       |  SELECT event_type, rn, day, n_events,
       |    n_events * $EwmaScale AS s
       |  FROM seq WHERE rn = 1
       |  UNION ALL
       |  SELECT s.event_type, s.rn, s.day, s.n_events,
       |    ($EwmaAlphaPct * s.n_events * $EwmaScale + ${100 - EwmaAlphaPct} * r.s) // 100
       |  FROM seq s JOIN rec r ON s.event_type = r.event_type AND s.rn = r.rn + 1
       |)
       |SELECT event_type, day, n_events, s / ${EwmaScale}.0 AS ewma
       |FROM rec
       |ORDER BY event_type, day""".stripMargin

  /** Session gap (seconds) for path mining — same 30 min as the
    * streaming session tier.
    */
  val PathGapSec = 1800L
  /** Path length (event-type n-gram size). */
  val PathLen = 3
  /** Paths reported. */
  val PathTop = 20

  /** Session path mining: the top [[PathTop]] [[PathLen]]-step
    * event-type sequences users actually walk inside a session — the
    * "how do users reach purchase" companion to the funnel (which
    * fixes the stage order up front; this DISCOVERS the orderings).
    * Sessions use the 30-min-gap cumulative-sum idiom under a
    * (ts, event_id) total order, then each step's successors come from
    * two lead() calls over the same window — one shuffle on user_id,
    * reused by the gap window, the session numbering, and the path
    * window (identical partitioning).
    */
  def sessionPaths(spark: SparkSession, sfDir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts", "event_id")
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
      .withColumn("prev_ts", lag("ts", 1).over(w))
      // µs precision like sessionStats and the oracle's epoch_us: a
      // seconds cast truncates, so a true gap in (gap, gap+1s) would
      // collapse into the same session only on the Spark side
      .withColumn("is_new", (col("prev_ts").isNull ||
        expr("unix_micros(ts)") - expr("unix_micros(prev_ts)") > PathGapSec * 1000000L).cast("long"))
      .withColumn("session_seq", sum("is_new").over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy("ts", "event_id")
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
    val ws = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id", "session_seq").orderBy("ts", "event_id")
    val paths = ev
      .withColumn("e2", lead("event_type", 1).over(ws))
      .withColumn("e3", lead("event_type", 2).over(ws))
      .where(col("e2").isNotNull && col("e3").isNotNull)
      .select(concat_ws(">", col("event_type"), col("e2"), col("e3")).as("path"))
      .groupBy("path").agg(count(lit(1)).as("n"))
    val top = paths.orderBy(col("n").desc, col("path").asc).limit(PathTop)
    top.withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("n").desc, col("path").asc)))
      .select("rk", "path", "n")
      .orderBy("rk")
  }

  val sessionPathsSql: String =
    s"""WITH ev AS (
       |  SELECT user_id, event_id, event_type, ts::TIMESTAMP AS ts FROM events
       |), marked AS (
       |  SELECT user_id, event_id, event_type, ts,
       |    CASE WHEN lag(ts, 1) OVER w IS NULL
       |           OR epoch_us(ts) - epoch_us(lag(ts, 1) OVER w) > ${PathGapSec}000000
       |         THEN 1 ELSE 0 END AS is_new
       |  FROM ev
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
       |), sess AS (
       |  SELECT user_id, event_id, event_type, ts,
       |    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
       |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
       |  FROM marked
       |), steps AS (
       |  SELECT event_type,
       |    lead(event_type, 1) OVER ws AS e2,
       |    lead(event_type, 2) OVER ws AS e3
       |  FROM sess
       |  WINDOW ws AS (PARTITION BY user_id, session_seq ORDER BY ts ASC, event_id ASC)
       |), paths AS (
       |  SELECT event_type || '>' || e2 || '>' || e3 AS path, count(*) AS n
       |  FROM steps WHERE e2 IS NOT NULL AND e3 IS NOT NULL
       |  GROUP BY 1
       |)
       |SELECT rk, path, n FROM (
       |  SELECT path, n, row_number() OVER (ORDER BY n DESC, path ASC) AS rk
       |  FROM paths
       |) WHERE rk <= $PathTop
       |ORDER BY rk""".stripMargin

  /** MAD outlier multiplier. */
  val MadK = 3.0

  /** Robust outlier gate: median / median-absolute-deviation instead of
    * mean/σ — the variant of [[anomalyEvents]] that heavy tails can't
    * poison (one 1000× event shifts a mean, not a median). Median is
    * the standard interpolated quantile — a SELECTION plus at most one
    * (a+b)/2, identical IEEE in both engines, no summation order
    * anywhere. The medians are rounded to 6 dp before the gate (same
    * engine-stability trick as the z-score tier). Two quantile passes
    * + one counting pass, each a narrow per-type aggregate.
    */
  def madOutliers(spark: SparkSession, sfDir: String): DataFrame = {
    // the three quantile/count passes are inherent (each needs the
    // previous pass's scalar), but the SCAN is not: sever the slim
    // (type, value) projection once — r12 ledger sweep (at cluster
    // scale this is the cached projection a robust-stats job keeps)
    val ev = Tables.events(spark, sfDir)
      .select(col("event_type"), col("value"))
      .where(col("value").isNotNull && !isnan(col("value")))
      .localCheckpoint()
    val med = ev.groupBy("event_type")
      .agg(round(expr("percentile(value, 0.5)"), 6).as("med"))
    val mad = ev.join(broadcast(med), "event_type")
      .groupBy("event_type")
      .agg(first("med").as("med"),
           round(expr("percentile(abs(value - med), 0.5)"), 6).as("mad"),
           count(lit(1)).as("n_events"))
    ev.join(broadcast(mad), "event_type")
      .groupBy("event_type")
      .agg(first("n_events").as("n_events"),
           first("med").as("med"),
           first("mad").as("mad"),
           sum((abs(col("value") - col("med")) > lit(MadK) * col("mad")).cast("long"))
             .as("n_outliers"))
      .orderBy("event_type")
  }

  val madOutliersSql: String =
    s"""WITH ev AS (
       |  SELECT event_type, value FROM events
       |  WHERE value IS NOT NULL AND NOT isnan(value)
       |), med AS (
       |  SELECT event_type, round(quantile_cont(value, 0.5), 6) AS med
       |  FROM ev GROUP BY event_type
       |), mad AS (
       |  SELECT e.event_type, max(m.med) AS med,
       |    round(quantile_cont(abs(e.value - m.med), 0.5), 6) AS mad,
       |    count(*) AS n_events
       |  FROM ev e JOIN med m ON m.event_type = e.event_type
       |  GROUP BY e.event_type
       |)
       |SELECT e.event_type, d.n_events, d.med, d.mad,
       |  sum(CASE WHEN abs(e.value - d.med) > $MadK * d.mad THEN 1 ELSE 0 END)::BIGINT
       |    AS n_outliers
       |FROM ev e JOIN mad d ON d.event_type = e.event_type
       |GROUP BY e.event_type, d.n_events, d.med, d.mad
       |ORDER BY e.event_type""".stripMargin

  /** Latest-record-per-key snapshot — the "current view" every
    * SCD-style event table serves: each user's single most recent
    * event under the (ts, event_id) total order, picked with one
    * max_by aggregate (no sort, no window — the aggregate's partial
    * phase keeps one row per key per partition, the cheapest possible
    * shape for this at scale), then rolled up by the latest event's
    * type. Epoch micros in the output keep timestamps engine-portable.
    */
  def latestSnapshot(spark: SparkSession, sfDir: String): DataFrame = {
    val latest = Tables.events(spark, sfDir)
      .groupBy("user_id")
      .agg(expr("max_by(struct(event_type AS t, value AS v), struct(ts, event_id))").as("m"),
           max(struct(col("ts"), col("event_id"))).as("k"),
           count(lit(1)).as("n_events"))
      .select(col("user_id"), col("m.t").as("event_type"), col("m.v").as("value"),
              unix_micros(col("k.ts")).as("ts_us"), col("n_events"))
    latest.groupBy("event_type")
      .agg(count(lit(1)).as("n_users"),
           round(avg("n_events"), 4).as("avg_history"),
           max("ts_us").as("latest_ts_us"))
      .orderBy("event_type")
  }

  val latestSnapshotSql: String =
    """WITH ranked AS (
      |  SELECT user_id, event_type, epoch_us(ts::TIMESTAMP) AS ts_us,
      |    count(*) OVER (PARTITION BY user_id) AS n_events,
      |    row_number() OVER (PARTITION BY user_id
      |                       ORDER BY ts::TIMESTAMP DESC, event_id DESC) AS rn
      |  FROM events
      |)
      |SELECT event_type, count(*) AS n_users,
      |  round(avg(n_events), 4) AS avg_history,
      |  max(ts_us) AS latest_ts_us
      |FROM ranked WHERE rn = 1
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** Histogram bin width for the value distribution. */
  val HistBinWidth = 25.0

  /** Fixed-width histogram of event values per type — the binned
    * distribution report dashboards draw. Bin assignment is one
    * floor-division on identical doubles (engine-exact); counts are
    * integers; bin bounds are emitted so the output is self-describing.
    */
  def valueHistogram(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .where(col("value").isNotNull && !isnan(col("value")))
      .withColumn("bin", floor(col("value") / HistBinWidth).cast("long"))
      .groupBy("event_type", "bin")
      .agg(count(lit(1)).as("n"))
      .withColumn("lo", col("bin") * HistBinWidth)
      .withColumn("hi", (col("bin") + 1) * HistBinWidth)
      .select("event_type", "bin", "lo", "hi", "n")
      .orderBy("event_type", "bin")

  val valueHistogramSql: String =
    s"""SELECT event_type, bin, (bin * $HistBinWidth)::DOUBLE AS lo, ((bin + 1) * $HistBinWidth)::DOUBLE AS hi,
       |  count(*) AS n
       |FROM (
       |  SELECT event_type, floor(value / $HistBinWidth)::BIGINT AS bin
       |  FROM events WHERE value IS NOT NULL AND NOT isnan(value)
       |)
       |GROUP BY event_type, bin
       |ORDER BY event_type, bin""".stripMargin

  /** Inactivity horizon (hours before the corpus max) defining churn —
    * hour-scale because the fixture stream is dense (every user fires
    * multiple events per day, so a day-scale horizon churns nobody;
    * probed at all SFs for a split that actually discriminates).
    */
  val ChurnHours = 24

  /** Churn labeling — the supervised-target generator for retention
    * models: a user is churned iff they have no event in the final
    * [[ChurnHours]] hours before the stream's max timestamp. Emits the
    * label-conditioned feature profile (population, history length,
    * purchase share, span) — exactly the table a trainer joins
    * features against, and the sanity check (do churned users look
    * different?) an ML pipeline runs before fitting. Anchor is a
    * 1-row broadcast; everything else is one user-keyed aggregate.
    */
  def churnLabels(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type"), col("ts"))
    val anchor = ev.agg(max("ts").as("tmax"))
    val perUser = ev.crossJoin(broadcast(anchor))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
           sum((col("event_type") === "purchase").cast("long")).as("n_purchases"),
           (unix_micros(max(col("ts"))) >=
             unix_micros(max(col("tmax"))) - lit(ChurnHours * 3600000000L))
             .as("active_recently"),
           (unix_micros(max(col("ts"))) - unix_micros(min(col("ts")))).as("span_us"))
      .withColumn("churned", (!col("active_recently")).cast("long"))
    perUser.groupBy("churned")
      .agg(count(lit(1)).as("n_users"),
           round(avg("n_events"), 4).as("avg_events"),
           round(avg(col("n_purchases") / col("n_events")), 6).as("avg_purchase_share"),
           round(avg(col("span_us") / 86400000000.0), 4).as("avg_span_days"))
      .orderBy("churned")
  }

  val churnLabelsSql: String =
    s"""WITH anchor AS (
       |  SELECT max(epoch_us(ts::TIMESTAMP)) AS tmax FROM events
       |), per_user AS (
       |  SELECT user_id, count(*) AS n_events,
       |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS n_purchases,
       |    CASE WHEN max(epoch_us(ts::TIMESTAMP)) >=
       |              (SELECT tmax FROM anchor) - ${ChurnHours}::BIGINT * 3600000000
       |         THEN 0 ELSE 1 END AS churned,
       |    max(epoch_us(ts::TIMESTAMP)) - min(epoch_us(ts::TIMESTAMP)) AS span_us
       |  FROM events GROUP BY user_id
       |)
       |SELECT churned::BIGINT AS churned, count(*) AS n_users,
       |  round(avg(n_events), 4) AS avg_events,
       |  round(avg(n_purchases / n_events::DOUBLE), 6) AS avg_purchase_share,
       |  round(avg(span_us / 86400000000.0), 4) AS avg_span_days
       |FROM per_user
       |GROUP BY churned
       |ORDER BY churned""".stripMargin

  /** Midpoint of the fixture observation window — the McNemar pairing
    * boundary (H1 vs H2). */
  val McnemarSplit = "2024-01-16 00:00:00"
  /** Paired outcome: "heavy-purchase half" = at least this many
    * purchases in the half. Raw purchase incidence is degenerate
    * (every user purchases in both halves — the q_ab_test lesson), so
    * the outcome thresholds the count; the threshold sits near the
    * per-half median, which is what makes flips common. */
  val McnemarMin = 4

  /** McNemar's test — the PAIRED-sample member of the experimentation
    * suite (A/B z, CUPED, DiD, QTE are all unpaired/between-subject;
    * the within-subject before/after question needs the paired
    * contingency table). Pairs are users; the binary outcome is the
    * heavy-purchase flag per half of the observation window. Only the
    * discordant cells carry information: χ² = (|b−c|−1)²/(b+c) with
    * continuity correction, b = H1-only, c = H2-only. Everything up
    * to the single division is exact integer arithmetic; the verdict
    * thresholds the ROUNDED χ² against the 0.05 critical value; b+c=0
    * leaves χ² NULL ('undefined') on both engines.
    *
    * Scale: one corpus aggregate per user, a 1-row assembly — linear,
    * no windows.
    */
  def mcnemar(spark: SparkSession, sfDir: String): DataFrame = {
    val split = lit(McnemarSplit).cast("timestamp_ntz")
    val isPurchase = (col("event_type") === "purchase").cast("long")
    val per = Tables.events(spark, sfDir)
      .groupBy("user_id")
      .agg((sum(when(col("ts") < split, isPurchase).otherwise(0L)) >= McnemarMin)
             .cast("long").as("h1"),
           (sum(when(col("ts") >= split, isPurchase).otherwise(0L)) >= McnemarMin)
             .cast("long").as("h2"))
    per.agg(
        count(lit(1)).as("n_pairs"),
        sum(col("h1") * col("h2")).as("n_both"),
        sum(col("h1") * (lit(1L) - col("h2"))).as("n_h1_only"),
        sum((lit(1L) - col("h1")) * col("h2")).as("n_h2_only"),
        sum((lit(1L) - col("h1")) * (lit(1L) - col("h2"))).as("n_neither"))
      // Edwards correction clamps at zero: |b−c| ≤ 1 means NO evidence
      // of asymmetry, so χ² must be 0, not 1/(b+c)
      .withColumn("chi2", round(
        when(col("n_h1_only") + col("n_h2_only") > 0,
          (greatest(abs(col("n_h1_only") - col("n_h2_only")) - 1, lit(0L)) *
           greatest(abs(col("n_h1_only") - col("n_h2_only")) - 1, lit(0L))).cast("double") /
            (col("n_h1_only") + col("n_h2_only")).cast("double")), 6))
      .withColumn("verdict",
        when(col("chi2").isNull, "undefined")
          .when(col("chi2") > 3.8415, "shifted")
          .otherwise("stable"))
  }

  val mcnemarSql: String =
    s"""WITH per AS (
       |  SELECT user_id,
       |    (sum(CASE WHEN ts::TIMESTAMP < TIMESTAMP '$McnemarSplit'
       |              AND event_type = 'purchase' THEN 1 ELSE 0 END) >= $McnemarMin)::BIGINT AS h1,
       |    (sum(CASE WHEN ts::TIMESTAMP >= TIMESTAMP '$McnemarSplit'
       |              AND event_type = 'purchase' THEN 1 ELSE 0 END) >= $McnemarMin)::BIGINT AS h2
       |  FROM events GROUP BY user_id
       |), cells AS (
       |  SELECT count(*)::BIGINT AS n_pairs,
       |    sum(h1 * h2)::BIGINT AS n_both,
       |    sum(h1 * (1 - h2))::BIGINT AS n_h1_only,
       |    sum((1 - h1) * h2)::BIGINT AS n_h2_only,
       |    sum((1 - h1) * (1 - h2))::BIGINT AS n_neither
       |  FROM per
       |)
       |SELECT n_pairs, n_both, n_h1_only, n_h2_only, n_neither,
       |  round(CASE WHEN n_h1_only + n_h2_only > 0
       |    THEN (greatest(abs(n_h1_only - n_h2_only) - 1, 0) * greatest(abs(n_h1_only - n_h2_only) - 1, 0))::DOUBLE
       |         / (n_h1_only + n_h2_only)::DOUBLE END, 6) AS chi2,
       |  CASE WHEN n_h1_only + n_h2_only = 0 THEN 'undefined'
       |       WHEN round((greatest(abs(n_h1_only - n_h2_only) - 1, 0) * greatest(abs(n_h1_only - n_h2_only) - 1, 0))::DOUBLE
       |         / (n_h1_only + n_h2_only)::DOUBLE, 6) > 3.8415 THEN 'shifted'
       |       ELSE 'stable' END AS verdict
       |FROM cells""".stripMargin

  /** Shared within-subject delta frame: per-user H2 − H1 purchase
    * spend in cents (fixed-pointed BEFORE summation), the ONE pairing
    * definition all three paired tests run on ([[pairedT]],
    * [[Stats.wilcoxonSignedRank]]; [[mcnemar]] thresholds counts on
    * the same split) — an edit to the split or the cents rule changes
    * all of them together, which is what keeps the trio a trio.
    */
  private[operators] def pairedDeltas(spark: SparkSession, sfDir: String): DataFrame = {
    val split = lit(McnemarSplit).cast("timestamp_ntz")
    val cents = when(col("event_type") === "purchase",
      round(col("value") * 100).cast("long")).otherwise(0L)
    Tables.events(spark, sfDir)
      .groupBy("user_id")
      .agg((sum(when(col("ts") >= split, cents).otherwise(0L)) -
            sum(when(col("ts") < split, cents).otherwise(0L))).as("d"))
  }

  /** The matching oracle CTE (named `per`) — spliced into both paired
    * oracles so the SQL pairing can't drift from the frame's. */
  private[operators] val pairedDeltasSql: String =
    s"""per AS (
       |  SELECT user_id,
       |    (sum(CASE WHEN ts::TIMESTAMP >= TIMESTAMP '$McnemarSplit' AND event_type = 'purchase'
       |              THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
       |     - sum(CASE WHEN ts::TIMESTAMP < TIMESTAMP '$McnemarSplit' AND event_type = 'purchase'
       |              THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END))::BIGINT AS d
       |  FROM events GROUP BY user_id
       |)""".stripMargin

  /** Paired t-test — McNemar's continuous twin (same within-subject
    * design, spend instead of a flag): d = H2 − H1 cents per user
    * ([[pairedDeltas]]), t = mean(d) / (sd(d)/√n) from the exact
    * integer moments Σd (BIGINT) and Σd² (DECIMAL(38,0) / HUGEINT —
    * d·d alone would wrap int64 for a user with |d| past ~3.04e9
    * cents, where DuckDB raises), with Cohen's d_z = mean/sd. The only
    * doubles are the final closed forms, rounded; n < 2 or zero
    * variance → NULL t ('undefined') on both engines. Verdict
    * thresholds the ROUNDED t against ±1.96.
    *
    * Scale: one per-user corpus aggregate + a 1-row assembly.
    */
  def pairedT(spark: SparkSession, sfDir: String): DataFrame = {
    pairedDeltas(spark, sfDir).agg(
        count(lit(1)).as("n_pairs"),
        sum("d").as("sum_d"),
        // d² in DECIMAL(38,0): a single user with |d| past ~3.04e9
        // cents (~$30M) would wrap d*d in int64 (where DuckDB
        // raises) — the decimal moment is exact to |d| ≈ 3e18
        sum(col("d").cast("decimal(38,0)") * col("d")).as("sum_d2"))
      .withColumn("mean_d", round(col("sum_d") / col("n_pairs").cast("double"), 4))
      // sample variance from exact moments: (Σd² − (Σd)²/n) / (n−1)
      .withColumn("var_d",
        when(col("n_pairs") > 1,
          (col("sum_d2").cast("double") -
            col("sum_d").cast("double") * col("sum_d").cast("double") /
              col("n_pairs").cast("double")) /
            (col("n_pairs") - 1).cast("double")))
      .withColumn("t_stat", round(
        when(col("var_d") > 0,
          col("sum_d").cast("double") / col("n_pairs").cast("double") /
            sqrt(col("var_d") / col("n_pairs").cast("double"))), 4))
      .withColumn("cohen_dz", round(
        when(col("var_d") > 0,
          col("sum_d").cast("double") / col("n_pairs").cast("double") /
            sqrt(col("var_d"))), 4))
      .withColumn("verdict",
        when(col("t_stat").isNull, "undefined")
          .when(abs(col("t_stat")) > 1.96, "shifted")
          .otherwise("stable"))
      .select("n_pairs", "sum_d", "mean_d", "t_stat", "cohen_dz", "verdict")
  }

  val pairedTSql: String =
    s"""WITH $pairedDeltasSql, m AS (
       |  SELECT count(*)::BIGINT AS n_pairs, sum(d)::BIGINT AS sum_d,
       |    sum(d::HUGEINT * d) AS sum_d2
       |  FROM per
       |), v AS (
       |  SELECT n_pairs, sum_d,
       |    round(sum_d / n_pairs::DOUBLE, 4) AS mean_d,
       |    CASE WHEN n_pairs > 1 THEN
       |      (sum_d2::DOUBLE - sum_d::DOUBLE * sum_d::DOUBLE / n_pairs::DOUBLE)
       |        / (n_pairs - 1)::DOUBLE END AS var_d
       |  FROM m
       |)
       |SELECT n_pairs, sum_d, mean_d,
       |  round(CASE WHEN var_d > 0
       |    THEN sum_d::DOUBLE / n_pairs::DOUBLE / sqrt(var_d / n_pairs::DOUBLE) END, 4) AS t_stat,
       |  round(CASE WHEN var_d > 0
       |    THEN sum_d::DOUBLE / n_pairs::DOUBLE / sqrt(var_d) END, 4) AS cohen_dz,
       |  CASE WHEN var_d IS NULL OR var_d <= 0 THEN 'undefined'
       |       WHEN abs(round(sum_d::DOUBLE / n_pairs::DOUBLE / sqrt(var_d / n_pairs::DOUBLE), 4)) > 1.96
       |         THEN 'shifted'
       |       ELSE 'stable' END AS verdict
       |FROM v""".stripMargin

  /** Deterministic A/B assignment + two-proportion test: users split
    * into arms by key-hash parity (the reproducible assignment every
    * experimentation platform uses — rerunning the analysis never
    * reshuffles arms), "conversion" = heavy purchaser (purchase share
    * above 20% — every fixture user purchases at least once, so raw
    * purchase incidence is degenerate), then per-arm rates and the
    * pooled two-proportion z statistic, zero-guarded for degenerate
    * pools. On hash-split arms of one population z ≈ 0 — the A/A test
    * that validates the pipeline. Counts are exact; the z formula is
    * one IEEE expression rounded.
    */
  def abTest(spark: SparkSession, sfDir: String): DataFrame = {
    val perUser = Tables.events(spark, sfDir)
      .groupBy("user_id")
      .agg((sum((col("event_type") === "purchase").cast("long")) * 5 > count(lit(1)))
        .cast("long").as("converted"))
      .withColumn("arm", expr(
        "cast(conv(substring(md5(concat_ws('-', cast(user_id AS string), 'ab')), 1, 8), 16, 10) AS bigint)") % 2)
    val arms = perUser.groupBy("arm")
      .agg(count(lit(1)).as("n_users"), sum("converted").as("n_converted"))
      .withColumn("rate", round(col("n_converted") / col("n_users"), 6))
    val wide = arms.agg(
      sum(when(col("arm") === 0, col("n_users"))).as("na"),
      sum(when(col("arm") === 0, col("n_converted"))).as("ca"),
      sum(when(col("arm") === 1, col("n_users"))).as("nb"),
      sum(when(col("arm") === 1, col("n_converted"))).as("cb"))
    arms.select("arm", "n_users", "n_converted", "rate")
      .crossJoin(broadcast(wide.select({
        val p = (col("ca") + col("cb")) / (col("na") + col("nb"))
        val den = sqrt(p * (lit(1.0) - p) * (lit(1.0) / col("na") + lit(1.0) / col("nb")))
        when(den > 0, round((col("ca") / col("na") - col("cb") / col("nb")) / den, 4))
          .otherwise(lit(0.0)).as("z_stat")
      })))
      .orderBy("arm")
  }

  val abTestSql: String =
    """WITH per_user AS (
      |  SELECT user_id,
      |    CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) * 5 > count(*)
      |         THEN 1 ELSE 0 END AS converted,
      |    ('0x' || substr(md5(user_id || '-' || 'ab'), 1, 8))::BIGINT % 2 AS arm
      |  FROM events GROUP BY user_id
      |), arms AS (
      |  SELECT arm, count(*) AS n_users, sum(converted)::BIGINT AS n_converted,
      |    round(sum(converted) / count(*)::DOUBLE, 6) AS rate
      |  FROM per_user GROUP BY arm
      |), wide AS (
      |  SELECT
      |    sum(CASE WHEN arm = 0 THEN n_users END) AS na,
      |    sum(CASE WHEN arm = 0 THEN n_converted END) AS ca,
      |    sum(CASE WHEN arm = 1 THEN n_users END) AS nb,
      |    sum(CASE WHEN arm = 1 THEN n_converted END) AS cb
      |  FROM arms
      |)
      |SELECT arm, n_users, n_converted, rate,
      |  (SELECT CASE WHEN sqrt((ca + cb) / (na + nb)::DOUBLE
      |                    * (1.0 - (ca + cb) / (na + nb)::DOUBLE)
      |                    * (1.0 / na + 1.0 / nb)) > 0
      |          THEN round((ca / na::DOUBLE - cb / nb::DOUBLE) /
      |            sqrt((ca + cb) / (na + nb)::DOUBLE
      |                 * (1.0 - (ca + cb) / (na + nb)::DOUBLE)
      |                 * (1.0 / na + 1.0 / nb)), 4)
      |          ELSE 0.0 END FROM wide) AS z_stat
      |FROM arms
      |ORDER BY arm""".stripMargin

  /** New-vs-returning daily split: per day, events from users seen for
    * the first time that day vs users with prior history — the
    * acquisition-vs-retention decomposition on every growth dashboard.
    * First-seen dates are one user-keyed aggregate joined back on
    * user_id; the split itself is a map-side comparison. The join is
    * deliberately NOT broadcast: first_day has one row PER USER — an
    * unbounded cardinality, unlike the 1-row anchors and fixed dims
    * broadcast elsewhere — so it shuffles on the same user_id hash
    * partitioning its own aggregate just produced (near-free exchange
    * reuse, no driver/executor OOM ceiling).
    */
  def newVsReturning(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), to_date(col("ts")).as("day"))
    val firstDay = ev.groupBy("user_id").agg(min("day").as("first_day"))
    ev.join(firstDay, "user_id")
      .groupBy("day")
      .agg(countDistinct(when(col("day") === col("first_day"), col("user_id"))).as("new_users"),
           countDistinct(when(col("day") > col("first_day"), col("user_id"))).as("returning_users"),
           count(lit(1)).as("n_events"))
      .orderBy("day")
  }

  val newVsReturningSql: String =
    """WITH ev AS (
      |  SELECT user_id, ts::DATE AS day FROM events
      |), fd AS (
      |  SELECT user_id, min(day) AS first_day FROM ev GROUP BY user_id
      |)
      |SELECT day,
      |  count(DISTINCT CASE WHEN day = first_day THEN ev.user_id END) AS new_users,
      |  count(DISTINCT CASE WHEN day > first_day THEN ev.user_id END) AS returning_users,
      |  count(*) AS n_events
      |FROM ev JOIN fd ON fd.user_id = ev.user_id
      |GROUP BY day
      |ORDER BY day""".stripMargin

  /** Conversion-lag distribution: hours from a user's first view to
    * their first STRICTLY LATER purchase, bucketed — the
    * time-to-convert histogram that sizes attribution windows.
    * Integer hour bucketing on exact epoch differences.
    */
  def conversionLag(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val fv = ev.where(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts").as("tv"))
    val fp = ev.where(col("event_type") === "purchase")
      .join(fv, "user_id").where(col("ts") > col("tv"))
      .groupBy("user_id").agg(min("ts").as("tp"), min("tv").as("tv"))
    fp.withColumn("lag_hours",
        ((unix_micros(col("tp")) - unix_micros(col("tv"))) / 3600000000L).cast("long"))
      .withColumn("bucket",
        when(col("lag_hours") < 1, "0_under_1h")
          .when(col("lag_hours") < 24, "1_1h_to_1d")
          .when(col("lag_hours") < 168, "2_1d_to_1w")
          .otherwise("3_over_1w"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_users"),
           min("lag_hours").as("min_h"),
           max("lag_hours").as("max_h"))
      .orderBy("bucket")
  }

  val conversionLagSql: String =
    """WITH fv AS (
      |  SELECT user_id, min(ts::TIMESTAMP) AS tv FROM events
      |  WHERE event_type = 'view' GROUP BY user_id
      |), fp AS (
      |  SELECT e.user_id, min(e.ts::TIMESTAMP) AS tp, min(fv.tv) AS tv
      |  FROM events e JOIN fv ON fv.user_id = e.user_id
      |  WHERE e.event_type = 'purchase' AND e.ts::TIMESTAMP > fv.tv
      |  GROUP BY e.user_id
      |), lagged AS (
      |  SELECT user_id,
      |    ((epoch_us(tp) - epoch_us(tv)) // 3600000000)::BIGINT AS lag_hours
      |  FROM fp
      |)
      |SELECT CASE WHEN lag_hours < 1 THEN '0_under_1h'
      |            WHEN lag_hours < 24 THEN '1_1h_to_1d'
      |            WHEN lag_hours < 168 THEN '2_1d_to_1w'
      |            ELSE '3_over_1w' END AS bucket,
      |  count(*) AS n_users,
      |  min(lag_hours) AS min_h,
      |  max(lag_hours) AS max_h
      |FROM lagged
      |GROUP BY 1
      |ORDER BY bucket""".stripMargin

  /** Engagement stickiness per ISO week: weekly active users, the
    * month's (28-day trailing, week-aligned) active users, and the
    * DAU-free WAU/MAU-style ratio — the canonical engagement KPI.
    * Trailing-month actives come from joining each week to the 4-week
    * window ending at it over the distinct (user, week) activity table
    * — weeks × 4 rows, not events × 4.
    */
  def stickiness(spark: SparkSession, sfDir: String): DataFrame = {
    // r11 rescan sever: the slim (user, week) activity table feeds the
    // week spine, WAU, and the trailing-month join — one events scan
    val uw = Tables.events(spark, sfDir)
      .select(col("user_id"), to_date(date_trunc("week", col("ts"))).as("wk"))
      .distinct()
      .localCheckpoint()
    val weeks = uw.select("wk").distinct()
    val wau = uw.groupBy("wk").agg(countDistinct(col("user_id")).as("wau"))
    val trailing = weeks.as("w")
      .join(uw.as("a"),
        col("a.wk") <= col("w.wk") && col("a.wk") > date_sub(col("w.wk"), 28))
      .groupBy(col("w.wk").as("wk"))
      .agg(countDistinct(col("a.user_id")).as("mau"))
    wau.join(trailing, "wk")
      .withColumn("stickiness", round(col("wau") / col("mau"), 6))
      .select(date_format(col("wk"), "yyyy-MM-dd").as("week_start"),
              col("wau"), col("mau"), col("stickiness"))
      .orderBy("week_start")
  }

  val stickinessSql: String =
    """WITH uw AS (
      |  SELECT DISTINCT user_id, date_trunc('week', ts::TIMESTAMP)::DATE AS wk FROM events
      |), wau AS (
      |  SELECT wk, count(DISTINCT user_id) AS wau FROM uw GROUP BY wk
      |), mau AS (
      |  SELECT w.wk, count(DISTINCT a.user_id) AS mau
      |  FROM (SELECT DISTINCT wk FROM uw) w
      |  JOIN uw a ON a.wk <= w.wk AND a.wk > w.wk - INTERVAL 28 DAY
      |  GROUP BY w.wk
      |)
      |SELECT strftime(wau.wk, '%Y-%m-%d') AS week_start, wau.wau, t.mau,
      |  round(wau.wau / t.mau::DOUBLE, 6) AS stickiness
      |FROM wau JOIN mau t ON t.wk = wau.wk
      |ORDER BY week_start""".stripMargin

  /** Attribution lookback window, days. */
  val AttribWindowDays = 7L
  /** Fixed-point credit per purchase (1e6 units split across touches). */
  val AttribUnits = 1000000L

  /** Multi-touch attribution — split each purchase's credit across the
    * user's preceding touchpoints (click/view) inside a
    * [[AttribWindowDays]]-day lookback, under the three standard
    * models at once: linear (equal split), first-touch, last-touch.
    * Linear credit is integer fixed-point ([[AttribUnits]] div
    * n_touches per touch) so sums are exact BIGINTs; first/last are
    * picked by (ts, event_id) order — fully deterministic. Rollup per
    * touch type: the "which channel earns the credit" table every
    * marketing warehouse maintains, here as one query.
    *
    * Scale shape: ONE user-keyed shuffle joins purchases to touches
    * (range predicate rides as a residual on the equi-join — never a
    * BNLJ); the per-purchase touch count and first/last picks are one
    * window over buy_id on the joined (bounded: touches-per-purchase ≤
    * window days × user rate); rollup output is |event types| rows.
    */
  def multiTouchAttribution(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.events(spark, sfDir)
    val buys = e.where(col("event_type") === "purchase")
      .select(col("event_id").as("buy_id"), col("user_id").as("buy_user"),
              unix_micros(col("ts")).as("buy_us"))
    val touches = e.where(col("event_type").isin("click", "view"))
      .select(col("event_id").as("touch_id"), col("user_id").as("touch_user"),
              col("event_type").as("touch_type"), unix_micros(col("ts")).as("touch_us"))
    val horizonUs = AttribWindowDays * 86400L * 1000000L
    val joined = buys.join(touches,
        col("buy_user") === col("touch_user") &&
        col("touch_us") < col("buy_us") &&
        col("touch_us") >= col("buy_us") - horizonUs)
    val w = Window.partitionBy("buy_id")
    val wAsc = w.orderBy(col("touch_us").asc, col("touch_id").asc)
    val wDesc = w.orderBy(col("touch_us").desc, col("touch_id").desc)
    joined
      .withColumn("n_touches", count(lit(1)).over(w))
      .withColumn("is_first", when(row_number().over(wAsc) === 1, 1L).otherwise(0L))
      .withColumn("is_last", when(row_number().over(wDesc) === 1, 1L).otherwise(0L))
      .withColumn("linear_units", expr(s"${AttribUnits}L div n_touches"))
      .groupBy(col("touch_type"))
      .agg(count(lit(1)).as("n_touches"),
           countDistinct(col("buy_id")).as("n_purchases_touched"),
           sum("linear_units").as("linear_credit_units"),
           sum("is_first").as("n_first_touch"),
           sum("is_last").as("n_last_touch"))
      .orderBy("touch_type")
  }

  val multiTouchAttributionSql: String =
    s"""WITH b AS (
       |  SELECT event_id AS buy_id, user_id, epoch_us(ts::TIMESTAMP) AS buy_us
       |  FROM events WHERE event_type = 'purchase'
       |), t AS (
       |  SELECT event_id AS touch_id, user_id, event_type AS touch_type,
       |    epoch_us(ts::TIMESTAMP) AS touch_us
       |  FROM events WHERE event_type IN ('click', 'view')
       |), j AS (
       |  SELECT b.buy_id, t.touch_id, t.touch_type, t.touch_us,
       |    count(*) OVER (PARTITION BY b.buy_id) AS n_touches,
       |    CASE WHEN row_number() OVER (PARTITION BY b.buy_id
       |           ORDER BY t.touch_us ASC, t.touch_id ASC) = 1 THEN 1 ELSE 0 END AS is_first,
       |    CASE WHEN row_number() OVER (PARTITION BY b.buy_id
       |           ORDER BY t.touch_us DESC, t.touch_id DESC) = 1 THEN 1 ELSE 0 END AS is_last
       |  FROM b JOIN t ON b.user_id = t.user_id
       |   AND t.touch_us < b.buy_us
       |   AND t.touch_us >= b.buy_us - ${AttribWindowDays * 86400L * 1000000L}
       |)
       |SELECT touch_type, count(*) AS n_touches,
       |  count(DISTINCT buy_id) AS n_purchases_touched,
       |  sum($AttribUnits // n_touches)::BIGINT AS linear_credit_units,
       |  sum(is_first)::BIGINT AS n_first_touch,
       |  sum(is_last)::BIGINT AS n_last_touch
       |FROM j
       |GROUP BY touch_type
       |ORDER BY touch_type""".stripMargin

  /** Seasonal-naive forecast backtest: predict each day's per-type
    * event value total with the value 7 days earlier (the
    * weekly-seasonality baseline every forecast pipeline must beat),
    * then score MAE/MAPE per event type over the days where a
    * prediction exists. One narrow (type, day) aggregate + one
    * co-partitioned self-join keyed on (type, day−7) — DAY-keyed, not
    * row-lagged, so a gap in the series can never misalign the
    * prediction. No training, linear in events.
    */
  def forecastNaive(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.events(spark, sfDir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(round(sum("value"), 6).as("v"))
    val pred = daily.select(col("event_type"),
      date_add(col("day"), 7).as("day"), col("v").as("pred"))
    daily.join(pred, Seq("event_type", "day"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
           round(avg(abs(col("v") - col("pred"))), 4).as("mae"),
           round(avg(abs(col("v") - col("pred")) / col("v")), 6).as("mape"))
      .orderBy("event_type")
  }

  val forecastNaiveSql: String =
    """WITH daily AS (
      |  SELECT event_type, ts::TIMESTAMP::DATE AS day, round(sum(value), 6) AS v
      |  FROM events GROUP BY 1, 2
      |)
      |SELECT a.event_type, count(*) AS n_days,
      |  round(avg(abs(a.v - p.v)), 4) AS mae,
      |  round(avg(abs(a.v - p.v) / a.v), 6) AS mape
      |FROM daily a JOIN daily p
      |  ON a.event_type = p.event_type AND p.day = a.day - 7
      |GROUP BY a.event_type
      |ORDER BY a.event_type""".stripMargin

  /** Cohort LTV curve: cumulative purchase revenue per acquired user by
    * weekly cohort and week offset — the revenue companion to
    * [[retentionCohorts]] (same cohort definition: Monday-truncated
    * week of the user's FIRST event of any type; revenue from purchase
    * events only). Per-cell revenue is rounded before the running sum
    * so the cumulative window is engine-stable.
    *
    * Scale: one user-keyed join of the purchase slice against the
    * first-week table, one (cohort, offset) aggregate, one per-cohort
    * window over ≤ |weeks| rows. Cohort sizes ride a broadcast.
    */
  def cohortLtv(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), to_date(date_trunc("week", col("ts"))).as("wk"),
              col("event_type"), col("value"))
    // r11 rescan sever: the user→cohort table feeds both the size
    // rollup and the revenue join — without the sever each consumer
    // re-planned the full events aggregate (3 scans total)
    val firstWk = ev.groupBy("user_id").agg(min("wk").as("cohort"))
      .localCheckpoint()
    val sizes = firstWk.groupBy("cohort").agg(count(lit(1)).as("cohort_size"))
    val rev = ev.where(col("event_type") === "purchase")
      .join(firstWk, "user_id")
      .withColumn("week_offset", (datediff(col("wk"), col("cohort")) / 7).cast("int"))
      .groupBy("cohort", "week_offset")
      .agg(round(sum("value"), 6).as("rev"))
    val w = Window.partitionBy("cohort").orderBy("week_offset")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rev.join(broadcast(sizes), "cohort")
      .withColumn("ltv_per_user", round(sum("rev").over(w) / col("cohort_size"), 4))
      .select("cohort", "week_offset", "cohort_size", "rev", "ltv_per_user")
      .orderBy("cohort", "week_offset")
  }

  val cohortLtvSql: String =
    """WITH ev AS (
      |  SELECT user_id, date_trunc('week', ts::TIMESTAMP)::DATE AS wk,
      |    event_type, value
      |  FROM events
      |), first_wk AS (
      |  SELECT user_id, min(wk) AS cohort FROM ev GROUP BY user_id
      |), sizes AS (
      |  SELECT cohort, count(*) AS cohort_size FROM first_wk GROUP BY cohort
      |), rev AS (
      |  SELECT f.cohort,
      |    (datediff('day', f.cohort, e.wk) / 7)::INT AS week_offset,
      |    round(sum(e.value), 6) AS rev
      |  FROM ev e JOIN first_wk f ON f.user_id = e.user_id
      |  WHERE e.event_type = 'purchase'
      |  GROUP BY 1, 2
      |)
      |SELECT r.cohort, r.week_offset, s.cohort_size, r.rev,
      |  round(sum(r.rev) OVER (PARTITION BY r.cohort ORDER BY r.week_offset
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |        / s.cohort_size, 4) AS ltv_per_user
      |FROM rev r JOIN sizes s ON s.cohort = r.cohort
      |ORDER BY r.cohort, r.week_offset""".stripMargin

  /** Horizon for the windowed funnel, in days. */
  val FunnelWindowDays = 7

  /** Windowed ordered funnel (the windowFunnel operator product
    * analytics engines ship): view → click → purchase must ALL land
    * within [[FunnelWindowDays]] of the user's first view — unlike
    * [[sessionFunnel]], which is unbounded. Each stage still requires
    * a strictly-later event. Single-row summary with per-depth
    * populations and step rates.
    *
    * Plan shape identical to sessionFunnel: one repartition(user_id),
    * three co-partitioned stage aggregates; the horizon is a residual
    * predicate on the already-keyed joins, so bounding the window adds
    * zero shuffles.
    */
  def windowFunnel(spark: SparkSession, sfDir: String): DataFrame = {
    val horizonUs = FunnelWindowDays * 86400L * 1000000L
    // same sever-once-after-partitioning note as sessionFunnel
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
      .repartition(col("user_id"))
      .localCheckpoint()
    val tv = ev.where(col("event_type") === "view")
      .groupBy("user_id").agg(min("us").as("tv"))
    val tc = ev.where(col("event_type") === "click")
      .join(tv, "user_id")
      .where(col("us") > col("tv") && col("us") <= col("tv") + horizonUs)
      .groupBy("user_id").agg(min("us").as("tc"), min("tv").as("tv2"))
    val tp = ev.where(col("event_type") === "purchase")
      .join(tc, "user_id")
      .where(col("us") > col("tc") && col("us") <= col("tv2") + horizonUs)
      .groupBy("user_id").agg(min("us").as("tp"))
    val nv = tv.agg(count(lit(1)).as("n_depth1"))
    val nc = tc.agg(count(lit(1)).as("n_depth2"))
    val np = tp.agg(count(lit(1)).as("n_depth3"))
    // empty-stage guard: a degenerate slice (no viewers / no clickers)
    // must yield NULL rates, not an ANSI DIVIDE_BY_ZERO crash — found
    // by the single-view edge test
    nv.crossJoin(nc).crossJoin(np)
      .withColumn("view_to_click_w",
        when(col("n_depth1") > 0, round(col("n_depth2") / col("n_depth1"), 6)))
      .withColumn("click_to_purchase_w",
        when(col("n_depth2") > 0, round(col("n_depth3") / col("n_depth2"), 6)))
  }

  val windowFunnelSql: String = {
    val horizonUs = FunnelWindowDays * 86400L * 1000000L
    s"""WITH ev AS (
       |  SELECT user_id, event_type, epoch_us(ts::TIMESTAMP) AS us FROM events
       |), tv AS (
       |  SELECT user_id, min(us) AS tv FROM ev
       |  WHERE event_type = 'view' GROUP BY user_id
       |), tc AS (
       |  SELECT e.user_id, min(e.us) AS tc, min(tv.tv) AS tv2
       |  FROM ev e JOIN tv ON e.user_id = tv.user_id
       |  WHERE e.event_type = 'click' AND e.us > tv.tv AND e.us <= tv.tv + $horizonUs
       |  GROUP BY e.user_id
       |), tp AS (
       |  SELECT e.user_id, min(e.us) AS tp
       |  FROM ev e JOIN tc ON e.user_id = tc.user_id
       |  WHERE e.event_type = 'purchase' AND e.us > tc.tc AND e.us <= tc.tv2 + $horizonUs
       |  GROUP BY e.user_id
       |)
       |SELECT
       |  (SELECT count(*) FROM tv) AS n_depth1,
       |  (SELECT count(*) FROM tc) AS n_depth2,
       |  (SELECT count(*) FROM tp) AS n_depth3,
       |  CASE WHEN (SELECT count(*) FROM tv) > 0
       |    THEN round((SELECT count(*) FROM tc) / (SELECT count(*)::DOUBLE FROM tv), 6) END AS view_to_click_w,
       |  CASE WHEN (SELECT count(*) FROM tc) > 0
       |    THEN round((SELECT count(*) FROM tp) / (SELECT count(*)::DOUBLE FROM tc), 6) END AS click_to_purchase_w""".stripMargin
  }

  /** Anchor Monday for the portable season index (well before any
    * fixture date, so datediff stays non-negative). */
  val SeasonAnchor = "2020-01-06"

  /** Additive seasonal decomposition of the daily event-value series:
    * v(day) = trend + seasonal(dow) + residual, the classical-
    * decomposition baseline every anomaly/forecast pipeline starts
    * from. Trend = 7-day centered moving average; seasonal = mean
    * detrended value per weekday (a PORTABLE integer season index —
    * days since an anchor Monday mod 7 — sidesteps the engines'
    * different dayofweek numbering); residual = what's left. Every
    * stage rounds before the next so the chain is engine-stable.
    *
    * Scale: the windows run on the POST-AGGREGATE daily series (one
    * row per day); production decomposes many series at once by adding
    * the series key to every partitionBy/groupBy — same plan, keyed.
    */
  def seasonalDecompose(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.events(spark, sfDir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(round(sum("value"), 6).as("v"))
    val wT = Window.orderBy("day").rowsBetween(-3, 3)
    val d = daily
      .withColumn("trend", round(avg("v").over(wT), 6))
      .withColumn("season_idx",
        datediff(col("day"), lit(java.sql.Date.valueOf(SeasonAnchor))) % 7)
      .withColumn("detr", round(col("v") - col("trend"), 6))
    val s = d.groupBy("season_idx").agg(round(avg("detr"), 6).as("seasonal"))
    d.join(broadcast(s), "season_idx")
      .withColumn("residual", round(col("detr") - col("seasonal"), 6))
      .select("day", "v", "trend", "season_idx", "seasonal", "residual")
      .orderBy("day")
  }

  val seasonalDecomposeSql: String =
    s"""WITH daily AS (
       |  SELECT ts::TIMESTAMP::DATE AS day, round(sum(value), 6) AS v
       |  FROM events GROUP BY 1
       |), t AS (
       |  SELECT day, v,
       |    round(avg(v) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING), 6) AS trend
       |  FROM daily
       |), d AS (
       |  SELECT day, v, trend,
       |    datediff('day', DATE '$SeasonAnchor', day) % 7 AS season_idx,
       |    round(v - trend, 6) AS detr
       |  FROM t
       |), s AS (
       |  SELECT season_idx, round(avg(detr), 6) AS seasonal FROM d GROUP BY 1
       |)
       |SELECT d.day, d.v, d.trend, d.season_idx, s.seasonal,
       |  round(d.detr - s.seasonal, 6) AS residual
       |FROM d JOIN s ON d.season_idx = s.season_idx
       |ORDER BY d.day""".stripMargin

  /** Per-user pre/post purchase value around the corpus midpoint, with
    * the hash A/B arm — the shared frame for the experimentation
    * trio (CUPED, DiD; q_ab_test uses its own conversion flag).
    * Users with no purchases in a period carry 0 (the standard
    * all-randomized-units frame — dropping them biases both methods).
    */
  private def prePostFrame(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), to_date(col("ts")).as("day"),
        when(col("event_type") === "purchase", col("value")).otherwise(0.0).as("pv"))
    val bounds = ev.agg(min("day").as("min_d"), max("day").as("max_d"))
    ev.crossJoin(broadcast(bounds))
      .withColumn("is_pre",
        datediff(col("day"), col("min_d")) * 2 < datediff(col("max_d"), col("min_d")))
      .groupBy("user_id")
      .agg(round(sum(when(col("is_pre"), col("pv")).otherwise(0.0)), 4).as("pre"),
           round(sum(when(!col("is_pre"), col("pv")).otherwise(0.0)), 4).as("post"))
      .withColumn("arm", expr(
        "cast(conv(substring(md5(concat_ws('-', cast(user_id AS string), 'ab')), 1, 8), 16, 10) AS bigint)") % 2)
  }

  private val prePostSql: String =
    """ev AS (
      |  SELECT user_id, ts::TIMESTAMP::DATE AS day,
      |    CASE WHEN event_type = 'purchase' THEN value ELSE 0 END AS pv
      |  FROM events
      |), b AS (SELECT min(day) AS min_d, max(day) AS max_d FROM ev),
      |pp AS (
      |  SELECT user_id,
      |    round(sum(CASE WHEN (day - min_d) * 2 < (max_d - min_d) THEN pv ELSE 0 END), 4) AS pre,
      |    round(sum(CASE WHEN (day - min_d) * 2 < (max_d - min_d) THEN 0 ELSE pv END), 4) AS post,
      |    ('0x' || substr(md5(user_id || '-' || 'ab'), 1, 8))::BIGINT % 2 AS arm
      |  FROM ev CROSS JOIN b GROUP BY user_id
      |)""".stripMargin

  /** CUPED variance reduction (Deng et al. 2013): adjust each user's
    * post-period purchase value by their pre-period covariate,
    * adjusted = post − θ·(pre − E[pre]) with θ = cov(post,pre)/var(pre)
    * computed on ALL users (θ from the pooled frame is unbiased under
    * randomization). Reports per-arm raw vs adjusted means plus the
    * variance-reduction ratio — the experimentation platform's "same
    * test, tighter CI for free" workhorse.
    *
    * Scale: one per-user aggregate, one global 1-row moment aggregate
    * broadcast back, one final per-arm aggregate.
    */
  def cuped(spark: SparkSession, sfDir: String): DataFrame = {
    // severed once: the per-user pre/post frame feeds the moment
    // aggregate, the adjusted frame, the reduction aggregate and the
    // per-arm summary (r9s2 rescan sweep: events×8 prints before)
    val pp = prePostFrame(spark, sfDir).localCheckpoint()
    val moments = pp.agg(
      covar_samp(col("post"), col("pre")).as("cv"),
      var_samp(col("pre")).as("vp"),
      avg("pre").as("mp"),
      var_samp(col("post")).as("vpost"))
      .withColumn("theta", when(col("vp") > 0, col("cv") / col("vp")).otherwise(lit(0.0)))
    val adj = pp.crossJoin(broadcast(moments))
      .withColumn("adj", col("post") - col("theta") * (col("pre") - col("mp")))
    // the reduction practitioners quote is POOLED (= ρ² in-sample,
    // non-negative by construction since θ is the pooled OLS
    // minimizer); a per-arm ratio at small n is sampling noise
    val red = adj.agg(
      round(lit(1.0) - var_samp(col("adj")) / max("vpost"), 4).as("var_reduction"))
    adj.groupBy("arm")
      .agg(count(lit(1)).as("n_users"),
           round(avg("post"), 4).as("mean_post"),
           round(avg("adj"), 4).as("mean_adj"),
           round(max("theta"), 4).as("theta"))
      .crossJoin(broadcast(red))
      .orderBy("arm")
  }

  val cupedSql: String =
    s"""WITH $prePostSql, m AS (
       |  SELECT covar_samp(post, pre) AS cv, var_samp(pre) AS vp,
       |    avg(pre) AS mp, var_samp(post) AS vpost,
       |    CASE WHEN var_samp(pre) > 0 THEN covar_samp(post, pre) / var_samp(pre)
       |         ELSE 0.0 END AS theta
       |  FROM pp
       |), adj AS (
       |  SELECT arm, post, post - theta * (pre - mp) AS adjv, theta, vpost
       |  FROM pp CROSS JOIN m
       |), red AS (
       |  SELECT round(1.0 - var_samp(adjv) / max(vpost), 4) AS var_reduction FROM adj
       |)
       |SELECT arm, count(*) AS n_users,
       |  round(avg(post), 4) AS mean_post,
       |  round(avg(adjv), 4) AS mean_adj,
       |  round(max(theta), 4) AS theta,
       |  var_reduction
       |FROM adj CROSS JOIN red GROUP BY arm, var_reduction ORDER BY arm""".stripMargin

  /** Difference-in-differences on the same pre/post × arm frame: the
    * causal-inference workhorse when assignment isn't randomized (here
    * the arms ARE randomized, so DiD ≈ the plain post difference — the
    * spec pins that consistency). Estimate = mean per-user (post−pre)
    * in treatment minus control, with the two-sample t statistic over
    * per-user diffs.
    */
  def diffInDiff(spark: SparkSession, sfDir: String): DataFrame = {
    val pp = prePostFrame(spark, sfDir).withColumn("d", col("post") - col("pre"))
    pp.agg(
        sum(when(col("arm") === 1, 1).otherwise(0)).as("n_treat"),
        sum(when(col("arm") === 0, 1).otherwise(0)).as("n_ctrl"),
        round(avg(when(col("arm") === 1, col("pre"))), 4).as("pre_treat"),
        round(avg(when(col("arm") === 1, col("post"))), 4).as("post_treat"),
        round(avg(when(col("arm") === 0, col("pre"))), 4).as("pre_ctrl"),
        round(avg(when(col("arm") === 0, col("post"))), 4).as("post_ctrl"),
        avg(when(col("arm") === 1, col("d"))).as("dt"),
        avg(when(col("arm") === 0, col("d"))).as("dc"),
        var_samp(when(col("arm") === 1, col("d"))).as("vt"),
        var_samp(when(col("arm") === 0, col("d"))).as("vc"))
      .withColumn("did", round(col("dt") - col("dc"), 4))
      .withColumn("t_stat", round((col("dt") - col("dc")) /
        sqrt(col("vt") / col("n_treat") + col("vc") / col("n_ctrl")), 4))
      .select("n_treat", "n_ctrl", "pre_treat", "post_treat",
        "pre_ctrl", "post_ctrl", "did", "t_stat")
  }

  val diffInDiffSql: String =
    s"""WITH $prePostSql, d AS (SELECT *, post - pre AS dv FROM pp)
       |SELECT
       |  sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)::BIGINT AS n_treat,
       |  sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)::BIGINT AS n_ctrl,
       |  round(avg(CASE WHEN arm = 1 THEN pre END), 4) AS pre_treat,
       |  round(avg(CASE WHEN arm = 1 THEN post END), 4) AS post_treat,
       |  round(avg(CASE WHEN arm = 0 THEN pre END), 4) AS pre_ctrl,
       |  round(avg(CASE WHEN arm = 0 THEN post END), 4) AS post_ctrl,
       |  round(avg(CASE WHEN arm = 1 THEN dv END)
       |      - avg(CASE WHEN arm = 0 THEN dv END), 4) AS did,
       |  round((avg(CASE WHEN arm = 1 THEN dv END) - avg(CASE WHEN arm = 0 THEN dv END))
       |    / sqrt(var_samp(CASE WHEN arm = 1 THEN dv END) / sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)
       |         + var_samp(CASE WHEN arm = 0 THEN dv END) / sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)), 4) AS t_stat
       |FROM d""".stripMargin

  /** Two-sided z for the MDE (α=0.05) and the 80%-power z. */
  val PowerZa = 1.96
  val PowerZb = 0.8416

  /** A/B pre-test power analysis: the minimum detectable effect on the
    * conversion rate at 80% power / 95% confidence given the arms the
    * hash assignment actually produced — the "is this test even worth
    * running?" gate that belongs next to q_ab_test's z score.
    * MDE = (z_{α/2}+z_β)·√(p̂(1−p̂)(1/n_a+1/n_b)) on the pooled rate.
    */
  def abPower(spark: SparkSession, sfDir: String): DataFrame = {
    val perUser = Tables.events(spark, sfDir)
      .groupBy("user_id")
      .agg((sum((col("event_type") === "purchase").cast("long")) * 5 > count(lit(1)))
        .cast("long").as("converted"))
      .withColumn("arm", expr(
        "cast(conv(substring(md5(concat_ws('-', cast(user_id AS string), 'ab')), 1, 8), 16, 10) AS bigint)") % 2)
    perUser.agg(
        sum(when(col("arm") === 0, 1).otherwise(0)).as("na"),
        sum(when(col("arm") === 1, 1).otherwise(0)).as("nb"),
        (sum("converted").cast("double") / count(lit(1))).as("p"))
      .withColumn("mde_abs", round(lit(PowerZa + PowerZb) *
        sqrt(col("p") * (lit(1.0) - col("p")) *
          (lit(1.0) / col("na") + lit(1.0) / col("nb"))), 4))
      .withColumn("mde_rel", round(col("mde_abs") / col("p"), 4))
      .select(col("na"), col("nb"), round(col("p"), 4).as("pooled_rate"),
        col("mde_abs"), col("mde_rel"))
  }

  val abPowerSql: String = {
    val zsum = PowerZa + PowerZb
    s"""WITH per_user AS (
       |  SELECT user_id,
       |    CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) * 5 > count(*)
       |         THEN 1 ELSE 0 END AS converted,
       |    ('0x' || substr(md5(user_id || '-' || 'ab'), 1, 8))::BIGINT % 2 AS arm
       |  FROM events GROUP BY user_id
       |), agg AS (
       |  SELECT
       |    sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)::BIGINT AS na,
       |    sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)::BIGINT AS nb,
       |    sum(converted)::DOUBLE / count(*) AS p
       |  FROM per_user
       |)
       |SELECT na, nb, round(p, 4) AS pooled_rate,
       |  round($zsum * sqrt(p * (1.0 - p) * (1.0 / na + 1.0 / nb)), 4) AS mde_abs,
       |  round(round($zsum * sqrt(p * (1.0 - p) * (1.0 / na + 1.0 / nb)), 4) / p, 4) AS mde_rel
       |FROM agg""".stripMargin
  }

  /** Debounce horizon (seconds): a same-user same-type event closer
    * than this to its predecessor is an instrumentation echo. */
  val DebounceSecs = 5

  /** Telemetry debounce audit: collapse each burst of same-user
    * same-type events to its head — double-click / retry echoes that
    * inflate every downstream count. A burst is a maximal chain whose
    * consecutive gaps are all ≤ [[DebounceSecs]] (the session-window
    * idiom at seconds scale), so an event survives iff its gap to the
    * immediate predecessor exceeds the horizon. Emits the per-type
    * keep/drop audit.
    *
    * Scale: one user-keyed window pass with a µs-exact gap, one
    * narrow rollup.
    */
  def debounce(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("gap_us",
        unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w)))
      .withColumn("keep",
        (col("gap_us").isNull || col("gap_us") > DebounceSecs * 1000000L).cast("int"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
           sum("keep").as("n_kept"),
           (count(lit(1)) - sum("keep")).as("n_dropped"),
           round((count(lit(1)) - sum("keep")).cast("double") / count(lit(1)), 6)
             .as("drop_rate"))
      .orderBy("event_type")
  }

  val debounceSql: String =
    s"""WITH g AS (
       |  SELECT event_type,
       |    epoch_us(ts::TIMESTAMP) - lag(epoch_us(ts::TIMESTAMP), 1) OVER (
       |      PARTITION BY user_id, event_type ORDER BY ts, event_id) AS gap_us
       |  FROM events
       |), k AS (
       |  SELECT event_type,
       |    CASE WHEN gap_us IS NULL OR gap_us > ${DebounceSecs} * 1000000 THEN 1 ELSE 0 END AS keep
       |  FROM g
       |)
       |SELECT event_type, count(*) AS n_events,
       |  sum(keep)::BIGINT AS n_kept,
       |  (count(*) - sum(keep))::BIGINT AS n_dropped,
       |  round((count(*) - sum(keep))::DOUBLE / count(*), 6) AS drop_rate
       |FROM k GROUP BY 1 ORDER BY 1""".stripMargin

  /** Peak concurrent sessions per day — the capacity-planning sweep
    * line. Sessions are the 30-minute-gap sessions of
    * `Relational.sessionStats`; each contributes a +1 point at its
    * start instant and a −1 at its end, and peak concurrency is the
    * maximum of the running sum over time-ordered points (starts sort
    * before ends at the same instant, so touching sessions count as
    * concurrent — the closed-interval convention).
    *
    * Scale: the running sum is NEVER one single-partition global
    * window. Points carry their day; within-day running sums execute
    * as parallel day-partitioned windows, the day NET totals
    * (calendar-bounded rows) take one tiny global prefix window, and
    * each day's carry-in offset broadcasts back — a two-level prefix
    * sum with the calendar day as the cell (its offsets come from that
    * window, not from [[RankPrefix.before]]'s triangle join).
    * Cross-midnight sessions are exact for free: a day's carry-in IS
    * the number of sessions still open at its midnight. The output
    * covers the FULL calendar range between the first and last point
    * day: a day fully spanned by long-running sessions (no start/end
    * point of its own) emits peak = carry_in, n_starts = 0 — without
    * the fill, exactly the
    * days with sustained load went missing. The per-day max is
    * order-invariant among equal (instant, delta) points, so the
    * result is deterministic even though individual running-sum rows
    * are not.
    */
  def concurrencyPeak(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
    val sess = Tables.events(spark, sfDir)
      .withColumn("gap_us", unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w)))
      .withColumn("is_new",
        when(col("gap_us").isNull || col("gap_us") > 1800L * 1000000L, 1).otherwise(0))
      .withColumn("session_id",
        sum(col("is_new")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_id")
      .agg(min("ts").as("start_ts"), max("ts").as("end_ts"))
    // r10 rescan sever: one stack generator pass emits both sweep
    // points per session (the old self-union re-planned the whole
    // sessionization chain per side), and the calendar-bounded per-day
    // aggregate is severed once for its two consumers (events ×4)
    val pts = sess
      .selectExpr("stack(2, start_ts, 1, end_ts, -1) AS (pt, delta)")
      .withColumn("day", to_date(col("pt")))
    val wd = Window.partitionBy("day").orderBy(col("pt").asc, col("delta").desc)
    val within = pts.withColumn("run",
      sum("delta").over(wd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val dayAgg = within.groupBy("day")
      .agg(max("run").as("max_run"),
           sum(when(col("delta") === 1, 1).otherwise(0)).as("n_starts"),
           sum("delta").as("net"))
      .localCheckpoint()
    // union the full calendar range: a day fully spanned by
    // long-running sessions has no start/end point but a positive
    // peak (= the concurrency carried into it) — without the fill the
    // guardrail silently skipped exactly those days
    val allDays = dayAgg.agg(min("day").as("d0"), max("day").as("d1"))
      .select(explode(sequence(col("d0"), col("d1"))).as("day"))
    allDays.join(dayAgg, Seq("day"), "left")
      .withColumn("net_f", coalesce(col("net"), lit(0L)))
      .withColumn("carry_in",
        coalesce(sum("net_f").over(
          Window.orderBy("day").rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("day"),
        (col("carry_in") + coalesce(col("max_run"), lit(0L))).as("peak_concurrency"),
        coalesce(col("n_starts"), lit(0L)).as("n_starts"))
      .orderBy("day")
  }

  val concurrencyPeakSql: String =
    """WITH g AS (
      |  SELECT user_id, event_id, ts,
      |    epoch_us(ts) - epoch_us(lag(ts, 1) OVER w) AS gap_us
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
      |), s AS (
      |  SELECT user_id, ts,
      |    sum(CASE WHEN gap_us IS NULL OR gap_us > 1800000000 THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM g
      |), sess AS (
      |  SELECT user_id, session_id, min(ts) AS start_ts, max(ts) AS end_ts
      |  FROM s GROUP BY 1, 2
      |), pts AS (
      |  SELECT start_ts AS pt, 1 AS delta FROM sess
      |  UNION ALL
      |  SELECT end_ts AS pt, -1 AS delta FROM sess
      |), run AS (
      |  SELECT pt, delta,
      |    sum(delta) OVER (ORDER BY pt ASC, delta DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc
      |  FROM pts
      |), dayagg AS (
      |  SELECT pt::DATE AS day, max(conc)::BIGINT AS peak_pts,
      |    sum(CASE WHEN delta = 1 THEN 1 ELSE 0 END)::BIGINT AS n_starts,
      |    sum(delta)::BIGINT AS net
      |  FROM run GROUP BY 1
      |), days AS (
      |  SELECT unnest(generate_series((SELECT min(day) FROM dayagg),
      |                                (SELECT max(day) FROM dayagg),
      |                                INTERVAL 1 DAY))::DATE AS day
      |), filled AS (
      |  SELECT d.day, a.peak_pts, coalesce(a.n_starts, 0) AS n_starts,
      |    coalesce(sum(coalesce(a.net, 0)) OVER (ORDER BY d.day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS carry_in
      |  FROM days d LEFT JOIN dayagg a ON a.day = d.day
      |)
      |SELECT day, coalesce(peak_pts, carry_in)::BIGINT AS peak_concurrency,
      |  n_starts::BIGINT AS n_starts
      |FROM filled ORDER BY day""".stripMargin

  /** Bursts reported by the temporal surprise scan. */
  val BurstTop = 20

  /** Temporal burst detection: hourly event counts per type scored by
    * Poisson surprise — the log-likelihood ratio of the observed hour
    * against the type's uniform baseline rate,
    * llr = n·ln(n/μ) − (n − μ) for n > μ (0 otherwise; the one-sided
    * GLR test statistic for rate elevation, the scoring inside
    * Kleinberg's burst model). Complements [[anomalyEvents]], which
    * z-scores the VALUE axis — this scans the TIME axis. Top
    * [[BurstTop]] (type, hour) bursts.
    *
    * Scale: one narrow (type, hour) aggregate over the stream; the
    * baseline is a per-type rollup of that aggregate (calendar-bounded
    * rows) broadcast back; ranking is a bounded head. Nothing touches
    * the raw stream twice.
    */
  def burstDetect(spark: SparkSession, sfDir: String): DataFrame = {
    // r11 rescan sever: the slim (type, hour) frame carries the span
    // too (hour-truncation is monotone, so min/max over the truncated
    // groups == truncated min/max over the raw stream) — one events
    // scan instead of three
    val hourly = Tables.events(spark, sfDir)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val span = hourly
      .agg(((unix_micros(max(col("hour"))) - unix_micros(min(col("hour")))) /
        3600000000L + 1L).as("n_hours"))
    val base = hourly.groupBy("event_type").agg(sum("n").as("total"))
      .crossJoin(broadcast(span))
      .select(col("event_type"),
        (col("total").cast("double") / col("n_hours")).as("mu"))
    hourly.join(broadcast(base), "event_type")
      .withColumn("llr", round(
        when(col("n") > col("mu"),
          col("n") * log(col("n") / col("mu")) - (col("n") - col("mu")))
          .otherwise(lit(0.0)), 4))
      // rank on the ROUNDED score (see sessionEntropy — float-order
      // noise must never decide a rank)
      .withColumn("rk", row_number().over(Window.orderBy(
        col("llr").desc, col("event_type").asc, col("hour").asc)))
      .where(col("rk") <= BurstTop)
      .select(col("rk"), col("event_type"), col("hour"), col("n"),
        round(col("mu"), 6).as("mu"), col("llr"))
      .orderBy("rk")
  }

  val burstDetectSql: String =
    s"""WITH hourly AS (
       |  SELECT event_type, date_trunc('hour', ts::TIMESTAMP) AS hour, count(*) AS n
       |  FROM events GROUP BY 1, 2
       |), span AS (
       |  SELECT (epoch_us(date_trunc('hour', max(ts::TIMESTAMP))) -
       |          epoch_us(date_trunc('hour', min(ts::TIMESTAMP)))) // 3600000000 + 1 AS n_hours
       |  FROM events
       |), base AS (
       |  SELECT event_type, sum(n)::DOUBLE / (SELECT n_hours FROM span) AS mu
       |  FROM hourly GROUP BY 1
       |), scored AS (
       |  SELECT h.event_type, h.hour, h.n, b.mu,
       |    round(CASE WHEN h.n > b.mu
       |         THEN h.n * ln(h.n / b.mu) - (h.n - b.mu) ELSE 0.0 END, 4) AS llr
       |  FROM hourly h JOIN base b ON b.event_type = h.event_type
       |)
       |SELECT rk, event_type, hour, n, round(mu, 6) AS mu, llr
       |FROM (
       |  SELECT event_type, hour, n, mu, llr,
       |    row_number() OVER (ORDER BY llr DESC, event_type ASC, hour ASC) AS rk
       |  FROM scored
       |) WHERE rk <= $BurstTop
       |ORDER BY rk""".stripMargin

  /** Users reported by the behavioral-diversity ranking. */
  val EntropyTop = 20

  /** Per-user behavioral entropy: Shannon entropy of the user's
    * event-type mix (nats) with evenness = H/ln(k) — the
    * exploration-vs-routine segmentation signal (a user who only ever
    * clicks scores 0; a uniform mixer scores ln(k)). Top
    * [[EntropyTop]] most-diverse users, ties to the smaller id.
    *
    * Scale: two nested narrow aggregates (user×type, then user) —
    * per-user state is ≤ |event types| rows; one bounded head.
    */
  def sessionEntropy(spark: SparkSession, sfDir: String): DataFrame = {
    val byType = Tables.events(spark, sfDir)
      .groupBy("user_id", "event_type").agg(count(lit(1)).as("n"))
    byType
      .withColumn("tot", sum("n").over(Window.partitionBy("user_id")))
      .groupBy("user_id")
      .agg(first("tot").as("n_events"),
           count(lit(1)).as("n_types"),
           (-sum((col("n") / col("tot")) * log(col("n") / col("tot")))).as("h"))
      .withColumn("evenness",
        when(col("n_types") > 1, col("h") / log(col("n_types"))).otherwise(lit(0.0)))
      // rank on the ROUNDED score: unrounded float order flips tied
      // users between engines (1e-16 summation-order noise — caught
      // by the sf0.1 cross-check), rounded + id tie-break cannot
      .withColumn("entropy_nats", round(col("h"), 6))
      .withColumn("rk", row_number().over(Window.orderBy(
        col("entropy_nats").desc, col("user_id").asc)))
      .where(col("rk") <= EntropyTop)
      .select(col("rk"), col("user_id"), col("n_events"), col("n_types"),
        col("entropy_nats"), round(col("evenness"), 6).as("evenness"))
      .orderBy("rk")
  }

  val sessionEntropySql: String =
    s"""WITH bt AS (
       |  SELECT user_id, event_type, count(*) AS n
       |  FROM events GROUP BY 1, 2
       |), tot AS (
       |  SELECT user_id, sum(n) AS tot FROM bt GROUP BY 1
       |), per AS (
       |  SELECT b.user_id, max(t.tot)::BIGINT AS n_events, count(*) AS n_types,
       |    -sum((b.n / t.tot::DOUBLE) * ln(b.n / t.tot::DOUBLE)) AS h
       |  FROM bt b JOIN tot t ON t.user_id = b.user_id
       |  GROUP BY 1
       |)
       |SELECT rk, user_id, n_events, n_types, entropy_nats,
       |  round(CASE WHEN n_types > 1 THEN h / ln(n_types) ELSE 0.0 END, 6) AS evenness
       |FROM (
       |  SELECT user_id, n_events, n_types, h, round(h, 6) AS entropy_nats,
       |    row_number() OVER (ORDER BY round(h, 6) DESC, user_id ASC) AS rk
       |  FROM per
       |) WHERE rk <= $EntropyTop
       |ORDER BY rk""".stripMargin

  /** χ² critical value at α=0.05 for df=2 (3 arms) — the literal SRM
    * alarm threshold, kept as config like the PSI reference bounds. */
  val SrmChi2Crit = 5.991

  /** Sample-ratio-mismatch guardrail: users hash-assigned to a 50/25/25
    * three-arm split (the same deterministic md5 bucketing as
    * [[abTest]]), observed arm counts χ²-tested against the intended
    * ratios. SRM is the first validity gate every experimentation
    * platform runs — a mismatch means the assignment or logging is
    * broken and every downstream metric is untrustworthy. Emits one
    * row per arm (observed, expected, χ² contribution) plus the total
    * χ² and the df=2 / α=0.05 alarm flag.
    *
    * The observed counts RIGHT-JOIN a literal 3-arm frame with
    * coalesce(n, 0): a completely empty arm must still contribute its
    * full expected count to χ² — with a bare groupBy the guardrail
    * understated SRM precisely when assignment was most broken (an
    * arm that logs nothing produced no row at all).
    *
    * Scale: one per-user aggregate, a 3-row rollup, a broadcast total.
    */
  def abSrm(spark: SparkSession, sfDir: String): DataFrame = {
    val perUser = Tables.events(spark, sfDir)
      .select("user_id").distinct()
      .withColumn("h", expr(
        "cast(conv(substring(md5(concat_ws('-', cast(user_id AS string), 'srm')), 1, 8), 16, 10) AS bigint)") % 4)
      .withColumn("arm", when(col("h") <= 1, 0).when(col("h") === 2, 1).otherwise(2))
    abSrmOf(spark, perUser)
  }

  /** Core of [[abSrm]] over any arm-assigned user frame (exposed so
    * the spec can hand it a split with a fully EMPTY arm — the exact
    * case the literal-frame right join exists for). */
  private[graft] def abSrmOf(spark: SparkSession, perUser: DataFrame): DataFrame = {
    val armFrame = spark.range(3).select(col("id").cast("int").as("arm"))
    val arms = armFrame
      .join(perUser.groupBy("arm").agg(count(lit(1)).as("n_obs")), Seq("arm"), "left")
      .withColumn("n_users", coalesce(col("n_obs"), lit(0L)))
      .select("arm", "n_users")
      // 3 rows; severed once — the total, the χ² rollup and the final
      // projection otherwise each replay the corpus distinct (r10
      // rescan sever: events ×4 in the r9 plan)
      .localCheckpoint()
    val tot = arms.agg(sum("n_users").as("n"))
    val withExp = arms.crossJoin(broadcast(tot))
      .withColumn("expected",
        when(col("arm") === 0, col("n") * 0.5).otherwise(col("n") * 0.25))
      .withColumn("contrib",
        pow(col("n_users") - col("expected"), 2) / col("expected"))
    val chi2 = withExp.agg(sum("contrib").as("chi2"))
    withExp.crossJoin(broadcast(chi2))
      .select(col("arm"), col("n_users"),
        round(col("expected"), 2).as("expected"),
        round(col("contrib"), 4).as("chi2_contrib"),
        round(col("chi2"), 4).as("chi2_total"),
        (col("chi2") > SrmChi2Crit).cast("int").as("srm_alarm"))
      .orderBy("arm")
  }

  val abSrmSql: String =
    s"""WITH pu AS (
       |  SELECT DISTINCT user_id FROM events
       |), h AS (
       |  SELECT CASE WHEN hv <= 1 THEN 0 WHEN hv = 2 THEN 1 ELSE 2 END AS arm
       |  FROM (SELECT ('0x' || substr(md5(user_id::VARCHAR || '-srm'), 1, 8))::BIGINT % 4 AS hv
       |        FROM pu)
       |), arms AS (
       |  SELECT t.arm, coalesce(o.n_users, 0)::BIGINT AS n_users
       |  FROM (VALUES (0), (1), (2)) AS t(arm)
       |  LEFT JOIN (SELECT arm, count(*) AS n_users FROM h GROUP BY arm) o
       |    ON o.arm = t.arm
       |), tot AS (SELECT sum(n_users) AS n FROM arms),
       |we AS (
       |  SELECT arm, n_users,
       |    CASE WHEN arm = 0 THEN (SELECT n FROM tot)::DOUBLE * 0.5
       |         ELSE (SELECT n FROM tot)::DOUBLE * 0.25 END AS expected
       |  FROM arms
       |), wc AS (
       |  SELECT arm, n_users, expected,
       |    pow(n_users - expected, 2) / expected AS contrib
       |  FROM we
       |)
       |SELECT arm, n_users, round(expected, 2) AS expected,
       |  round(contrib, 4) AS chi2_contrib,
       |  round((SELECT sum(contrib) FROM wc), 4) AS chi2_total,
       |  (CASE WHEN (SELECT sum(contrib) FROM wc) > $SrmChi2Crit
       |        THEN 1 ELSE 0 END)::INTEGER AS srm_alarm
       |FROM wc ORDER BY arm""".stripMargin

  /** Day-of-week × hour-of-day load heatmap with the lift of each
    * cell over the independence expectation (dow marginal × hour
    * marginal / n) — the capacity-planning view that says WHEN load
    * concentrates and whether the weekly and daily cycles interact
    * (lift ≈ 1 everywhere ⇔ separable cycles). Same closed-form
    * marginal mechanics as [[Stats.mutualInfo]], on the time axes.
    *
    * Scale: one (dow, hour) aggregate — at most 168 cells regardless
    * of stream size; marginals are window sums over those cells.
    */
  def loadHeatmap(spark: SparkSession, sfDir: String): DataFrame = {
    val cells = Tables.events(spark, sfDir)
      .groupBy(dayofweek(col("ts")).as("dow"), hour(col("ts")).as("hod"))
      .agg(count(lit(1)).cast("double").as("n"))
    cells
      .withColumn("nd", sum("n").over(Window.partitionBy("dow")))
      .withColumn("nh", sum("n").over(Window.partitionBy("hod")))
      .withColumn("nt", sum("n").over(Window.partitionBy()))
      .select(col("dow"), col("hod"), col("n").cast("long").as("n_events"),
        round(col("nd") * col("nh") / col("nt"), 4).as("expected"),
        round(col("n") * col("nt") / (col("nd") * col("nh")), 4).as("lift"))
      .orderBy("dow", "hod")
  }

  val loadHeatmapSql: String =
    """WITH cells AS (
      |  SELECT dayofweek(ts::TIMESTAMP) + 1 AS dow, hour(ts::TIMESTAMP) AS hod,
      |    count(*)::DOUBLE AS n
      |  FROM events GROUP BY 1, 2
      |), m AS (
      |  SELECT dow, hod, n,
      |    sum(n) OVER (PARTITION BY dow) AS nd,
      |    sum(n) OVER (PARTITION BY hod) AS nh,
      |    sum(n) OVER () AS nt
      |  FROM cells
      |)
      |SELECT dow, hod, n::BIGINT AS n_events,
      |  round(nd * nh / nt, 4) AS expected,
      |  round(n * nt / (nd * nh), 4) AS lift
      |FROM m ORDER BY dow, hod""".stripMargin

  /** Fixed-point unit for the Markov attribution walk. */
  val MkAttrU = 1000000L
  /** Matrix squarings: the walk evaluates P^(2^MkAttrSq) = P^16. */
  val MkAttrSq = 4
  /** The touchpoint alphabet (event types that are not the conversion). */
  val MkAttrChannels = Seq("click", "error", "signup", "view")

  /** Markov removal-effect attribution (Anderl et al.) — the
    * data-driven counterpart of [[multiTouchAttribution]]'s heuristic
    * credit rules: model user journeys as a first-order Markov chain
    * over touchpoint states (journey = events up to each purchase;
    * START/CONV/NULL absorbing scaffold), then credit each channel by
    * its REMOVAL EFFECT — how much conversion probability disappears
    * when the channel's incoming transitions divert to NULL. The
    * conversion probability is the absorbed CONV mass of a 16-step
    * walk, computed as [[MkAttrSq]] integer fixed-point matrix
    * squarings; all five matrix variants (full + one per removed
    * channel) ride ONE tagged frame through the same squarings.
    *
    * Exactness: transition counts are exact BIGINTs; probabilities and
    * every squaring cell are fixed-point integer div — bit-identical
    * cross-engine (floor quantization can make a removal effect
    * marginally negative at the last unit; emitted raw, both engines
    * agree). Effects and shares are single divisions of exact BIGINTs.
    *
    * Scale: per-user lag/lead windows (user-partitioned), one
    * transition aggregate, then everything is matrix-cell-sized
    * (5 variants × ≤49 cells).
    */
  def markovAttribution(spark: SparkSession, sfDir: String): DataFrame = {
    val wUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .withColumn("prev_type", lag("event_type", 1).over(wUser))
      .withColumn("next_type", lead("event_type", 1).over(wUser))
    val starts = ev.where(col("prev_type").isNull || col("prev_type") === "purchase")
      .select(lit("START").as("src"),
        when(col("event_type") === "purchase", lit("CONV"))
          .otherwise(col("event_type")).as("dst"))
    val steps = ev.where(col("event_type") =!= "purchase")
      .select(col("event_type").as("src"),
        when(col("next_type").isNull, lit("NULL"))
          .when(col("next_type") === "purchase", lit("CONV"))
          .otherwise(col("next_type")).as("dst"))
    val trans = starts.unionByName(steps)
      .groupBy("src", "dst").agg(count(lit(1)).as("cnt"))
      .localCheckpoint() // ≤ (channels+1)² cells feed five variants
    val variants = spark.createDataFrame(
      ("full" +: MkAttrChannels.map("rm_" + _)).map(Tuple1(_))).toDF("v")
    val vt = trans.crossJoin(broadcast(variants))
      .where(col("v") === "full" || concat(lit("rm_"), col("src")) =!= col("v"))
      .withColumn("dst2", when(concat(lit("rm_"), col("dst")) === col("v"), lit("NULL"))
        .otherwise(col("dst")))
      .groupBy(col("v"), col("src"), col("dst2").as("dst"))
      .agg(sum("cnt").as("cnt"))
    val tot = vt.groupBy("v", "src").agg(sum("cnt").as("tot"))
    val absorb = variants.crossJoin(
        spark.createDataFrame(Seq(Tuple1("CONV"), Tuple1("NULL"))).toDF("s"))
      .select(col("v"), col("s").as("src"), col("s").as("dst"), lit(MkAttrU).as("p"))
    var m = vt.join(tot, Seq("v", "src"))
      .select(col("v"), col("src"), col("dst"),
        expr(s"cnt * ${MkAttrU}L div tot").as("p"))
      .unionByName(absorb)
      .localCheckpoint()
    for (_ <- 1 to MkAttrSq) {
      m = m.as("a").join(m.as("b"),
          col("a.v") === col("b.v") && col("a.dst") === col("b.src"))
        .groupBy(col("a.v").as("v"), col("a.src").as("src"), col("b.dst").as("dst"))
        .agg(expr(s"sum(a.p * b.p) div ${MkAttrU}L").as("p"))
        .localCheckpoint() // cell-sized; keep each squaring's plan flat
    }
    val pconv = m.where(col("src") === "START" && col("dst") === "CONV")
      .select(col("v"), col("p"))
    val pf = pconv.where(col("v") === "full").select(col("p").as("p_full_units"))
    val chDf = spark.createDataFrame(MkAttrChannels.map(Tuple1(_))).toDF("channel")
    val rm = chDf
      .join(pconv.where(col("v") =!= "full")
        .select(expr("substring(v, 4)").as("channel"), col("p").as("p_rm")),
        Seq("channel"), "left")
      .crossJoin(broadcast(pf))
      .withColumn("removal_units", col("p_full_units") - coalesce(col("p_rm"), lit(0L)))
      .localCheckpoint() // 4 rows feed the share total and the output
    val totRm = rm.agg(sum("removal_units").as("rm_tot"))
    rm.crossJoin(broadcast(totRm))
      .select(col("channel"),
        round(col("p_full_units") / MkAttrU.toDouble, 6).as("p_conv"),
        round(coalesce(col("p_rm"), lit(0L)) / MkAttrU.toDouble, 6).as("p_removed"),
        round(col("removal_units") / col("p_full_units").cast("double"), 6)
          .as("removal_effect"),
        round(col("removal_units") / col("rm_tot").cast("double"), 6).as("share"))
      .orderBy("channel")
  }

  /** Oracle: identical journey segmentation, variant tagging and
    * fixed-point squarings, unrolled m1→m16. */
  val markovAttributionSql: String = {
    val sq = (1 to MkAttrSq).map { k =>
      val (prev, cur) = (1 << (k - 1), 1 << k)
      s"""m$cur AS MATERIALIZED (
         |  SELECT a.v, a.src, b.dst, (sum(a.p * b.p) // $MkAttrU)::BIGINT AS p
         |  FROM m$prev a JOIN m$prev b ON a.v = b.v AND a.dst = b.src
         |  GROUP BY 1, 2, 3
         |)""".stripMargin
    }.mkString(", ")
    val chValues = MkAttrChannels.map(c => s"('$c')").mkString(", ")
    s"""WITH ev AS (
       |  SELECT event_type,
       |    lag(event_type) OVER w AS prev_type,
       |    lead(event_type) OVER w AS next_type
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
       |), trans AS MATERIALIZED (
       |  SELECT src, dst, count(*)::BIGINT AS cnt FROM (
       |    SELECT 'START' AS src,
       |      CASE WHEN event_type = 'purchase' THEN 'CONV' ELSE event_type END AS dst
       |    FROM ev WHERE prev_type IS NULL OR prev_type = 'purchase'
       |    UNION ALL
       |    SELECT event_type,
       |      CASE WHEN next_type IS NULL THEN 'NULL'
       |           WHEN next_type = 'purchase' THEN 'CONV'
       |           ELSE next_type END
       |    FROM ev WHERE event_type != 'purchase'
       |  ) GROUP BY 1, 2
       |), variants(v) AS (
       |  SELECT * FROM (VALUES ('full'), ${MkAttrChannels.map(c => s"('rm_$c')").mkString(", ")})
       |), vt AS (
       |  SELECT v, src, CASE WHEN 'rm_' || dst = v THEN 'NULL' ELSE dst END AS dst,
       |    sum(cnt)::BIGINT AS cnt
       |  FROM trans CROSS JOIN variants
       |  WHERE v = 'full' OR 'rm_' || src != v
       |  GROUP BY 1, 2, 3
       |), m1 AS MATERIALIZED (
       |  SELECT v, src, dst, ((cnt * $MkAttrU) // tot)::BIGINT AS p FROM (
       |    SELECT v, src, dst, cnt, sum(cnt) OVER (PARTITION BY v, src) AS tot FROM vt
       |  )
       |  UNION ALL
       |  SELECT v, s, s, $MkAttrU FROM variants CROSS JOIN (VALUES ('CONV'), ('NULL')) t(s)
       |), $sq, pc AS (
       |  SELECT v, p FROM m${1 << MkAttrSq} WHERE src = 'START' AND dst = 'CONV'
       |), pf AS (SELECT p AS p_full FROM pc WHERE v = 'full'),
       |rm AS MATERIALIZED (
       |  SELECT ch.channel, pf.p_full,
       |    coalesce(pc.p, 0)::BIGINT AS p_rm,
       |    (pf.p_full - coalesce(pc.p, 0))::BIGINT AS removal_units
       |  FROM (VALUES $chValues) ch(channel)
       |  CROSS JOIN pf
       |  LEFT JOIN pc ON pc.v = 'rm_' || ch.channel
       |)
       |SELECT channel,
       |  round(p_full / $MkAttrU.0, 6) AS p_conv,
       |  round(p_rm / $MkAttrU.0, 6) AS p_removed,
       |  round(removal_units / p_full::DOUBLE, 6) AS removal_effect,
       |  round(removal_units / (SELECT sum(removal_units) FROM rm)::DOUBLE, 6) AS share
       |FROM rm
       |ORDER BY channel""".stripMargin
  }

  /** RDD cutoff on the running variable (account balance, dollars). */
  val RddCutoff = 5000.0
  /** RDD local-fit bandwidth (dollars either side of the cutoff). */
  val RddBandwidth = 3000.0

  /** Sharp regression discontinuity — the third causal design beside
    * [[cemUplift]] (matching) and [[diffInDiff]]: customers just above
    * vs just below an account-balance threshold, local linear fits on
    * each side within [[RddBandwidth]], treatment effect = the jump
    * between the two intercepts AT the cutoff (Imbens-Lemieux). The
    * running variable and outcome are both quantized to integer cents,
    * so all five OLS moments per side (n, Σx, Σx², Σy, Σxy) are exact
    * BIGINTs; slope/intercept/effect are closed-form expressions with
    * every moment cast to DOUBLE FIRST (n·Σxy overflows int64 at
    * population scale; the double conversion is round-to-nearest and
    * identical on both engines, so the result stays bit-deterministic
    * even where it is no longer exact — the documented trade the
    * revenueGini DECIMAL(38) note makes the other way).
    *
    * Scale: one map-side bandwidth filter + one 2-row moment
    * aggregate; everything downstream is 2-row algebra.
    */
  def rddEffect(spark: SparkSession, sfDir: String): DataFrame = {
    val cCents = math.round(RddCutoff * 100)
    val hCents = math.round(RddBandwidth * 100)
    val spend = Tables.orders(spark, sfDir)
      .groupBy(col("o_custkey").as("c_custkey"))
      .agg(sum(round(col("o_totalprice") * 100, 0).cast("long")).as("y"))
    val base = Tables.customer(spark, sfDir)
      .select(col("c_custkey"),
        (round(col("c_acctbal") * 100, 0).cast("long") - cCents).as("dx"))
      .where(col("dx") >= -hCents && col("dx") <= hCents)
      .join(spend, Seq("c_custkey"), "left")
      .select(when(col("dx") >= 0, lit("2_right")).otherwise(lit("1_left")).as("side"),
        col("dx"), coalesce(col("y"), lit(0L)).as("y"))
    val sides = base.groupBy("side")
      .agg(count(lit(1)).as("n"), sum("dx").as("sx"),
        sum(col("dx") * col("dx")).as("sxx"),
        sum("y").as("sy"), sum(col("dx") * col("y")).as("sxy"))
      .withColumn("b", (col("n").cast("double") * col("sxy").cast("double")
          - col("sx").cast("double") * col("sy").cast("double"))
        / (col("n").cast("double") * col("sxx").cast("double")
          - col("sx").cast("double") * col("sx").cast("double")))
      .withColumn("a", (col("sy").cast("double") - col("b") * col("sx").cast("double"))
        / col("n"))
      .localCheckpoint() // 2 rows feed the jump and the emitted rows
    val jump = sides.agg(round((sum(when(col("side") === "2_right", col("a")).otherwise(0.0))
        - sum(when(col("side") === "1_left", col("a")).otherwise(0.0))) / 100.0, 4)
      .as("effect_at_cutoff"))
    sides
      .crossJoin(broadcast(jump))
      .select(col("side"), col("n"),
        round(col("a") / 100.0, 4).as("intercept"),
        round(col("b") * 100.0, 6).as("slope_per_dollar"),
        round(col("sy") / col("n") / 100.0, 4).as("mean_y"),
        col("effect_at_cutoff"))
      .orderBy("side")
  }

  /** Oracle: identical moments and cast-to-double-first algebra. */
  val rddEffectSql: String = {
    val cC = math.round(RddCutoff * 100)
    val hC = math.round(RddBandwidth * 100)
    s"""WITH spend AS (
       |  SELECT o_custkey AS c_custkey, sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS y
       |  FROM orders GROUP BY 1
       |), base AS (
       |  SELECT CASE WHEN dx >= 0 THEN '2_right' ELSE '1_left' END AS side, dx, y
       |  FROM (
       |    SELECT round(c.c_acctbal * 100)::BIGINT - $cC AS dx,
       |      coalesce(s.y, 0)::BIGINT AS y
       |    FROM customer c LEFT JOIN spend s ON s.c_custkey = c.c_custkey
       |  ) WHERE dx >= -$hC AND dx <= $hC
       |), sides AS (
       |  SELECT side, n, sx, sxx, sy, sxy,
       |    (n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
       |      / (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE) AS b
       |  FROM (
       |    SELECT side, count(*)::BIGINT AS n, sum(dx)::BIGINT AS sx,
       |      sum(dx * dx)::BIGINT AS sxx, sum(y)::BIGINT AS sy,
       |      sum(dx * y)::BIGINT AS sxy
       |    FROM base GROUP BY side
       |  )
       |), ab AS (
       |  SELECT side, n, sy, b, (sy::DOUBLE - b * sx::DOUBLE) / n AS a FROM sides
       |), jump AS (
       |  SELECT round((sum(CASE WHEN side = '2_right' THEN a ELSE 0.0 END)
       |    - sum(CASE WHEN side = '1_left' THEN a ELSE 0.0 END)) / 100.0, 4)
       |    AS effect_at_cutoff
       |  FROM ab
       |)
       |SELECT side, n, round(a / 100.0, 4) AS intercept,
       |  round(b * 100.0, 6) AS slope_per_dollar,
       |  round(sy / n::DOUBLE / 100.0, 4) AS mean_y,
       |  (SELECT effect_at_cutoff FROM jump) AS effect_at_cutoff
       |FROM ab
       |ORDER BY side""".stripMargin
  }

  /** mSPRT mixture variance (dollars², the metric's scale). */
  val MsprtTau = 1.0

  /** Always-valid sequential test (mixture SPRT, Johari et al. — the
    * "peek whenever you want" inference every modern experimentation
    * platform ships, vs the fixed-horizon [[abTest]] z which is invalid
    * under continuous monitoring): per day, the cumulative two-arm
    * Welch mean-difference of purchase value under the hash-parity A/A
    * split, the mixture likelihood ratio
    * Λ = √(V/(V+τ))·exp(Z²τ / (2V(V+τ))), and the always-valid p =
    * running min of 1/Λ — monotone by construction, valid at every
    * peek. On an A/A split the p should hug 1.0, the platform's
    * false-positive sanity check.
    *
    * Exactness: cumulative per-arm moments (n, Σcents, Σcents²) are
    * exact BIGINT window sums over the per-day aggregate; Z, V, Λ are
    * one closed-form IEEE expression each (exp is the only libm call;
    * a last-ulp wobble sits ~11 orders below the emitted rounding).
    * The cumulative windows order by DAY — calendar-bounded input,
    * documented in PlanAuditSpec's CalendarSeries.
    *
    * Scale: one map projection, one per-(day) aggregate, two
    * calendar-length windows; nothing touches event grain after the
    * first aggregate.
    */
  def msprt(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val perDay = Tables.events(spark, sfDir)
      .where(col("event_type") === "purchase")
      .select(to_date(col("ts")).as("day"),
        (expr("cast(conv(substring(md5(concat_ws('-', cast(user_id AS string), 'ab')), 1, 8), 16, 10) AS bigint)") % 2).as("arm"),
        round(col("value") * 100, 0).cast("long").as("cents"))
      .groupBy("day")
      .agg(sum(when(col("arm") === 1, 1L).otherwise(0L)).as("dnt"),
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("dnc"),
        sum(when(col("arm") === 1, col("cents")).otherwise(0L)).as("dst"),
        sum(when(col("arm") === 0, col("cents")).otherwise(0L)).as("dsc"),
        sum(when(col("arm") === 1, col("cents") * col("cents")).otherwise(0L)).as("dsst"),
        sum(when(col("arm") === 0, col("cents") * col("cents")).otherwise(0L)).as("dssc"))
    val cum = perDay
      .select(col("day"),
        sum("dnt").over(w).as("nt"), sum("dnc").over(w).as("nc"),
        sum("dst").over(w).as("st"), sum("dsc").over(w).as("sc"),
        sum("dsst").over(w).as("sst"), sum("dssc").over(w).as("ssc"))
      .where(col("nt") >= 2 && col("nc") >= 2)
      .withColumn("vt", (col("sst") / 10000.0 -
        (col("st") / 100.0) * (col("st") / 100.0) / col("nt")) / (col("nt") - 1))
      .withColumn("vc", (col("ssc") / 10000.0 -
        (col("sc") / 100.0) * (col("sc") / 100.0) / col("nc")) / (col("nc") - 1))
      .withColumn("vn", col("vt") / col("nt") + col("vc") / col("nc"))
      .withColumn("zn", col("st") / 100.0 / col("nt") - col("sc") / 100.0 / col("nc"))
      .where(col("vn") > 0)
      .withColumn("lam", sqrt(col("vn") / (col("vn") + MsprtTau)) *
        exp(col("zn") * col("zn") * MsprtTau /
          (lit(2.0) * col("vn") * (col("vn") + MsprtTau))))
    cum
      .withColumn("p_always", round(min(least(lit(1.0), lit(1.0) / col("lam"))).over(w), 6))
      .select(col("day"), col("nt"), col("nc"),
        round(col("zn"), 4).as("mean_diff"),
        round(col("vn"), 6).as("v_n"),
        round(col("lam"), 4).as("lambda"),
        col("p_always"))
      .orderBy("day")
  }

  /** Oracle: identical cumulative moments and mixture-LR algebra. */
  val msprtSql: String =
    s"""WITH pd AS (
       |  SELECT ts::TIMESTAMP::DATE AS day,
       |    sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)::BIGINT AS dnt,
       |    sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)::BIGINT AS dnc,
       |    sum(CASE WHEN arm = 1 THEN cents ELSE 0 END)::BIGINT AS dst,
       |    sum(CASE WHEN arm = 0 THEN cents ELSE 0 END)::BIGINT AS dsc,
       |    sum(CASE WHEN arm = 1 THEN cents * cents ELSE 0 END)::BIGINT AS dsst,
       |    sum(CASE WHEN arm = 0 THEN cents * cents ELSE 0 END)::BIGINT AS dssc
       |  FROM (
       |    SELECT ts, ('0x' || substr(md5(user_id || '-' || 'ab'), 1, 8))::BIGINT % 2 AS arm,
       |      round(value * 100)::BIGINT AS cents
       |    FROM events WHERE event_type = 'purchase'
       |  ) GROUP BY 1
       |), cum AS (
       |  SELECT day,
       |    sum(dnt) OVER wv AS nt, sum(dnc) OVER wv AS nc,
       |    sum(dst) OVER wv AS st, sum(dsc) OVER wv AS sc,
       |    sum(dsst) OVER wv AS sst, sum(dssc) OVER wv AS ssc
       |  FROM pd
       |  WINDOW wv AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |), lr AS (
       |  SELECT day, nt, nc,
       |    st / 100.0 / nt - sc / 100.0 / nc AS zn,
       |    (sst / 10000.0 - (st / 100.0) * (st / 100.0) / nt) / (nt - 1) / nt
       |      + (ssc / 10000.0 - (sc / 100.0) * (sc / 100.0) / nc) / (nc - 1) / nc AS vn
       |  FROM cum WHERE nt >= 2 AND nc >= 2
       |), lam AS (
       |  SELECT day, nt, nc, zn, vn,
       |    sqrt(vn / (vn + $MsprtTau)) *
       |      exp(zn * zn * $MsprtTau / (2.0 * vn * (vn + $MsprtTau))) AS lam
       |  FROM lr WHERE vn > 0
       |)
       |SELECT day, nt::BIGINT AS nt, nc::BIGINT AS nc,
       |  round(zn, 4) AS mean_diff, round(vn, 6) AS v_n,
       |  round(lam, 4) AS lambda,
       |  round(min(least(1.0, 1.0 / lam))
       |    OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
       |    AS p_always
       |FROM lam
       |ORDER BY day""".stripMargin

  /** Display positions modeled by the examination curve. */
  val PbPositions = 10

  /** Position-bias (examination model) estimation from the raw event
    * log — the input counterfactual learning-to-rank needs before any
    * click data can train a ranker: CTR by display position, the
    * examination bias relative to the top slot, and the inverse-
    * propensity weight 1/bias that reweights clicks for unbiased
    * training (Joachims' IPS correction). Display position derives
    * deterministically from the event's props.k (k mod
    * [[PbPositions]]); views are impressions, clicks the positives.
    *
    * Exactness: per-position view/click counts are exact BIGINTs, and
    * bias/IPS are ratios of INTEGER PRODUCTS (c_p·v_1)/(v_p·c_1) — one
    * IEEE division each, no float accumulation anywhere. The two mean
    * positions (views vs clicks — the one-number bias signature) are
    * single divisions of exact integer dot products.
    *
    * Scale: one map-side position projection + one [[PbPositions]]-row
    * aggregate; everything downstream is position-grain.
    */
  def positionBias(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .where(col("event_type").isin("view", "click"))
      .select(col("event_type"),
        (get_json_object(col("props"), "$.k").cast("long") % PbPositions).as("pos"))
      // a props without k would surface as pos NULL — and Spark's
      // ORDER BY is NULLS FIRST where DuckDB's is NULLS LAST, so the
      // reference slot below would silently diverge; define it away
      // identically on both engines (the oracle carries the same gate)
      .where(col("pos").isNotNull)
    val perPos = ev.groupBy("pos")
      .agg(sum((col("event_type") === "view").cast("long")).as("n_views"),
        sum((col("event_type") === "click").cast("long")).as("n_clicks"))
      .localCheckpoint() // 10 rows feed the ref slot, the means and the rows
    val ref = perPos.orderBy("pos").limit(1)
      .select(col("n_views").as("v1"), col("n_clicks").as("c1"))
    val means = perPos.agg(
      round(sum(col("pos") * col("n_views")) / sum(col("n_views")), 6).as("mean_view_pos"),
      round(sum(col("pos") * col("n_clicks")) / sum(col("n_clicks")), 6).as("mean_click_pos"))
    perPos.crossJoin(broadcast(ref)).crossJoin(broadcast(means))
      .select(col("pos"), col("n_views"), col("n_clicks"),
        round(col("n_clicks") / col("n_views"), 6).as("ctr"),
        round((col("n_clicks") * col("v1")) / (col("n_views") * col("c1")), 6).as("exam_bias"),
        round((col("n_views") * col("c1")) / (col("n_clicks") * col("v1")), 6).as("ips_weight"),
        col("mean_view_pos"), col("mean_click_pos"))
      .orderBy("pos")
  }

  /** Oracle: identical position projection and integer-ratio algebra. */
  val positionBiasSql: String =
    s"""WITH ev AS (
       |  SELECT event_type,
       |    CAST(json_extract_string(props, '$$.k') AS BIGINT) % $PbPositions AS pos
       |  FROM events WHERE event_type IN ('view', 'click')
       |    AND json_extract_string(props, '$$.k') IS NOT NULL
       |), per_pos AS MATERIALIZED (
       |  SELECT pos,
       |    sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)::BIGINT AS n_views,
       |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT AS n_clicks
       |  FROM ev GROUP BY pos
       |), ref AS (
       |  SELECT n_views AS v1, n_clicks AS c1 FROM per_pos ORDER BY pos LIMIT 1
       |), means AS (
       |  SELECT round(sum(pos * n_views) / sum(n_views)::DOUBLE, 6) AS mean_view_pos,
       |    round(sum(pos * n_clicks) / sum(n_clicks)::DOUBLE, 6) AS mean_click_pos
       |  FROM per_pos
       |)
       |SELECT pos, n_views, n_clicks,
       |  round(n_clicks / n_views::DOUBLE, 6) AS ctr,
       |  round((n_clicks * v1) / (n_views * c1)::DOUBLE, 6) AS exam_bias,
       |  round((n_views * c1) / (n_clicks * v1)::DOUBLE, 6) AS ips_weight,
       |  means.mean_view_pos, means.mean_click_pos
       |FROM per_pos CROSS JOIN ref CROSS JOIN means
       |ORDER BY pos""".stripMargin

  /** Matched cells reported by the CEM uplift query. */
  val CemTop = 15
  /** Account-balance coarsening width (dollars per band). */
  val CemBalBand = 2000.0

  /** Coarsened Exact Matching (Iacus-King-Porro) uplift estimate —
    * the causal-inference workhorse when assignment is NOT randomized
    * (the gap between [[cuped]]/[[diffInDiff]], which assume an
    * experiment, and the observational question "did segment
    * membership cause higher spend?"). Treatment = the BUILDING
    * market segment; covariates coarsened to exact cells (nation ×
    * account-balance band × order-count band); only cells containing
    * BOTH arms contribute, and the ATT weights each cell's
    * treated-control mean gap by its treated count — self-selection on
    * the coarsened covariates is matched away by construction.
    *
    * Exactness: outcomes are integer cents, every cell moment (counts,
    * treated/control cent sums) an exact BIGINT; per-cell gaps and the
    * ATT are closed-form IEEE expressions of them. The ATT numerator's
    * Σ nt·(syc/nc) sums one double per cell (noise « the 1e-4 round;
    * the dollar rescale happens AFTER the division precisely so the
    * rounding digit sits 8+ orders above the summation noise).
    *
    * Scale: one per-customer aggregate, one cell aggregate (the cell
    * grid is domain-bounded: nations × ~7 balance bands × 4 order
    * bands), then everything is cell-sized. The rank head is
    * group-limited by the optimizer (PlanAuditSpec HeadRank).
    */
  def cemUplift(spark: SparkSession, sfDir: String): DataFrame = {
    val spend = Tables.orders(spark, sfDir)
      .groupBy(col("o_custkey").as("c_custkey"))
      .agg(sum(round(col("o_totalprice") * 100, 0).cast("long")).as("y_cents"),
        count(lit(1)).as("n_orders"))
    val cust = Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_nationkey").as("nation"),
        floor(col("c_acctbal") / CemBalBand).cast("int").as("bband"),
        (col("c_mktsegment") === "BUILDING").cast("int").as("t"))
      .join(spend, Seq("c_custkey"), "left")
      .select(col("nation"), col("bband"),
        least(coalesce(col("n_orders"), lit(0L)), lit(3L)).cast("int").as("oband"),
        col("t"), coalesce(col("y_cents"), lit(0L)).as("y"))
    val matched = cust.groupBy("nation", "bband", "oband")
      .agg(sum(col("t")).as("n_treated"),
        sum(lit(1) - col("t")).as("n_control"),
        sum(when(col("t") === 1, col("y")).otherwise(0L)).as("syt"),
        sum(when(col("t") === 0, col("y")).otherwise(0L)).as("syc"))
      .where(col("n_treated") > 0 && col("n_control") > 0)
      .localCheckpoint() // cell grid feeds the global ATT and the row head
    val g = matched.agg(
      count(lit(1)).as("n_matched_cells"),
      sum("n_treated").as("treated_matched"),
      round((sum(col("syt")) - sum(col("n_treated") * (col("syc") / col("n_control"))))
        / sum(col("n_treated")) / 100.0, 4).as("att"))
    matched
      .withColumn("att_cell", round(
        (col("syt") / col("n_treated") - col("syc") / col("n_control")) / 100.0, 4))
      .withColumn("rk", row_number().over(Window.orderBy(col("n_treated").desc,
        col("nation").asc, col("bband").asc, col("oband").asc)))
      .where(col("rk") <= CemTop)
      .crossJoin(broadcast(g))
      .select("rk", "nation", "bband", "oband", "n_treated", "n_control",
        "att_cell", "n_matched_cells", "treated_matched", "att")
      .orderBy("rk")
  }

  /** Oracle: identical coarsening, cell moments and ATT algebra. */
  val cemUpliftSql: String =
    s"""WITH spend AS (
       |  SELECT o_custkey AS c_custkey,
       |    sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS y_cents,
       |    count(*) AS n_orders
       |  FROM orders GROUP BY 1
       |), cust AS (
       |  SELECT c.c_nationkey AS nation,
       |    floor(c.c_acctbal / $CemBalBand)::INT AS bband,
       |    least(coalesce(s.n_orders, 0), 3)::INT AS oband,
       |    CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS t,
       |    coalesce(s.y_cents, 0)::BIGINT AS y
       |  FROM customer c LEFT JOIN spend s ON s.c_custkey = c.c_custkey
       |), matched AS MATERIALIZED (
       |  SELECT * FROM (
       |    SELECT nation, bband, oband,
       |      sum(t)::BIGINT AS n_treated, sum(1 - t)::BIGINT AS n_control,
       |      sum(CASE WHEN t = 1 THEN y ELSE 0 END)::BIGINT AS syt,
       |      sum(CASE WHEN t = 0 THEN y ELSE 0 END)::BIGINT AS syc
       |    FROM cust GROUP BY 1, 2, 3
       |  ) WHERE n_treated > 0 AND n_control > 0
       |), g AS (
       |  SELECT count(*) AS n_matched_cells, sum(n_treated)::BIGINT AS treated_matched,
       |    round((sum(syt) - sum(n_treated * (syc / n_control::DOUBLE)))
       |      / sum(n_treated)::DOUBLE / 100.0, 4) AS att
       |  FROM matched
       |)
       |SELECT rk, nation, bband, oband, n_treated, n_control, att_cell,
       |  (SELECT n_matched_cells FROM g) AS n_matched_cells,
       |  (SELECT treated_matched FROM g) AS treated_matched,
       |  (SELECT att FROM g) AS att
       |FROM (
       |  SELECT nation, bband, oband, n_treated, n_control,
       |    round((syt / n_treated::DOUBLE - syc / n_control::DOUBLE) / 100.0, 4) AS att_cell,
       |    row_number() OVER (ORDER BY n_treated DESC, nation ASC,
       |      bband ASC, oband ASC) AS rk
       |  FROM matched
       |) WHERE rk <= $CemTop
       |ORDER BY rk""".stripMargin

  /** Cochran–Mantel–Haenszel pooled 2×2 association across strata —
    * the confounder-controlled complement of [[cemUplift]] (same
    * treatment: BUILDING-segment membership) for a BINARY outcome
    * (placed ≥1 urgent-priority order), stratified by nation so a
    * nation-skewed segment mix can't masquerade as an effect
    * (Simpson's-paradox guard). Per stratum i with cells a,b,c,d and
    * n = a+b+c+d:
    *   OR_CMH = Σ(a·d/n) / Σ(b·c/n),
    *   χ²_CMH = (|Σa − ΣE| − ½)² / ΣV,  E = (a+b)(a+c)/n,
    *   V = (a+b)(c+d)(a+c)(b+d) / (n²(n−1))  (continuity-corrected).
    * All cells are exact integer counts from ONE customer aggregate
    * (outcome flag via a left-semi join on urgent orders); every
    * per-stratum term is a single IEEE division of exact BIGINT
    * products (the integer-product-ratio idiom), summed over ≤25
    * nation rows. Output: per-stratum cells + odds ratio with the
    * pooled OR/χ² attached from a broadcast 1-row aggregate.
    */
  def cmhTest(spark: SparkSession, sfDir: String): DataFrame = {
    val urgent = Tables.orders(spark, sfDir)
      .where(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey"))
    val c = Tables.customer(spark, sfDir)
      .join(urgent.distinct().withColumn("y", lit(1)),
        col("c_custkey") === col("o_custkey"), "left")
      .select(col("c_nationkey").as("stratum"),
        (col("c_mktsegment") === "BUILDING").cast("int").as("t"),
        coalesce(col("y"), lit(0)).as("y"))
    val cells = c.groupBy("stratum")
      .agg(sum(expr("t * y")).as("a"),
        sum(expr("t * (1 - y)")).as("b"),
        sum(expr("(1 - t) * y")).as("cc"),
        sum(expr("(1 - t) * (1 - y)")).as("d"))
      .withColumn("n", col("a") + col("b") + col("cc") + col("d"))
      // strata where either arm is empty contribute nothing to the
      // pooled sums (their ad/n, bc/n, E and V terms are still
      // well-defined below; n > 1 guards the V denominator)
      .where(col("n") > 1)
    val glob = cells
      .agg(count(lit(1)).as("n_strata"),
        sum(col("a").cast("double") * col("d") / col("n")).as("sad"),
        sum(col("b").cast("double") * col("cc") / col("n")).as("sbc"),
        sum(col("a").cast("double")).as("sa"),
        sum((col("a") + col("b")).cast("double") * (col("a") + col("cc")) / col("n"))
          .as("se"),
        sum((col("a") + col("b")).cast("double") * (col("cc") + col("d")) *
          (col("a") + col("cc")) * (col("b") + col("d")) /
          (col("n").cast("double") * col("n") * (col("n") - 1.0))).as("sv"))
      .select(col("n_strata"),
        (col("sad") / col("sbc")).as("or0"),
        (pow(abs(col("sa") - col("se")) - 0.5, 2.0) / col("sv")).as("chi0"))
    cells.crossJoin(broadcast(glob))
      .select(col("stratum"), col("a"), col("b"), col("cc").as("c"), col("d"),
        round(when(col("b") * col("cc") > 0,
          col("a").cast("double") * col("d") / (col("b") * col("cc")))
          .otherwise(lit(null)), 4).as("stratum_or"),
        col("n_strata"),
        round(col("or0"), 4).as("cmh_or"),
        round(col("chi0"), 4).as("cmh_chi2"))
      .orderBy("stratum")
  }

  val cmhTestSql: String =
    """WITH urgent AS (
      |  SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
      |), base AS (
      |  SELECT c.c_nationkey AS stratum,
      |    CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS t,
      |    CASE WHEN u.o_custkey IS NULL THEN 0 ELSE 1 END AS y
      |  FROM customer c LEFT JOIN urgent u ON u.o_custkey = c.c_custkey
      |), cells AS (
      |  SELECT stratum,
      |    sum(t * y)::BIGINT AS a, sum(t * (1 - y))::BIGINT AS b,
      |    sum((1 - t) * y)::BIGINT AS cc, sum((1 - t) * (1 - y))::BIGINT AS d
      |  FROM base GROUP BY stratum
      |), cn AS (
      |  SELECT stratum, a, b, cc, d, a + b + cc + d AS n FROM cells
      |  WHERE a + b + cc + d > 1
      |), gl AS (
      |  SELECT count(*)::BIGINT AS n_strata,
      |    sum(a::DOUBLE * d / n) AS sad,
      |    sum(b::DOUBLE * cc / n) AS sbc,
      |    sum(a::DOUBLE) AS sa,
      |    sum((a + b)::DOUBLE * (a + cc) / n) AS se,
      |    sum((a + b)::DOUBLE * (cc + d) * (a + cc) * (b + d) /
      |      (n::DOUBLE * n * (n - 1.0))) AS sv
      |  FROM cn
      |)
      |SELECT cn.stratum, cn.a, cn.b, cn.cc AS c, cn.d,
      |  round(CASE WHEN cn.b * cn.cc > 0
      |    THEN cn.a::DOUBLE * cn.d / (cn.b * cn.cc) END, 4) AS stratum_or,
      |  gl.n_strata,
      |  round(gl.sad / gl.sbc, 4) AS cmh_or,
      |  round(pow(abs(gl.sa - gl.se) - 0.5, 2.0) / gl.sv, 4) AS cmh_chi2
      |FROM cn, gl
      |ORDER BY stratum""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_cmh", cmhTest _, Some(cmhTestSql)),
    QuerySpec("q_load_heatmap", loadHeatmap _, Some(loadHeatmapSql)),
    QuerySpec("q_ab_srm", abSrm _, Some(abSrmSql)),
    QuerySpec("q_burst_detect", burstDetect _, Some(burstDetectSql)),
    QuerySpec("q_session_entropy", sessionEntropy _, Some(sessionEntropySql)),
    QuerySpec("q_concurrency_peak", concurrencyPeak _, Some(concurrencyPeakSql)),
    QuerySpec("q_debounce", debounce _, Some(debounceSql)),
    QuerySpec("q_cuped", cuped _, Some(cupedSql)),
    QuerySpec("q_diff_in_diff", diffInDiff _, Some(diffInDiffSql)),
    QuerySpec("q_ab_power", abPower _, Some(abPowerSql)),
    QuerySpec("q_seasonal_decompose", seasonalDecompose _, Some(seasonalDecomposeSql)),
    QuerySpec("q_window_funnel", windowFunnel _, Some(windowFunnelSql)),
    QuerySpec("q_cohort_ltv", cohortLtv _, Some(cohortLtvSql)),
    QuerySpec("q_forecast_naive", forecastNaive _, Some(forecastNaiveSql)),
    QuerySpec("q_stickiness", stickiness _, Some(stickinessSql)),
    QuerySpec("q_new_vs_returning", newVsReturning _, Some(newVsReturningSql)),
    QuerySpec("q_conversion_lag", conversionLag _, Some(conversionLagSql)),
    QuerySpec("q_churn_labels", churnLabels _, Some(churnLabelsSql)),
    QuerySpec("q_ab_test", abTest _, Some(abTestSql)),
    QuerySpec("q_mcnemar", mcnemar _, Some(mcnemarSql)),
    QuerySpec("q_paired_t", pairedT _, Some(pairedTSql)),
    QuerySpec("q_latest_snapshot", latestSnapshot _, Some(latestSnapshotSql)),
    QuerySpec("q_value_histogram", valueHistogram _, Some(valueHistogramSql)),
    QuerySpec("q_session_paths", sessionPaths _, Some(sessionPathsSql)),
    QuerySpec("q_mad_outliers", madOutliers _, Some(madOutliersSql)),
    QuerySpec("q_ewma_smooth", ewmaSmooth _, Some(ewmaSmoothSql)),
    QuerySpec("q_session_funnel", sessionFunnel _, Some(sessionFunnelSql)),
    QuerySpec("q_retention_cohorts", retentionCohorts _, Some(retentionCohortsSql)),
    QuerySpec("q_anomaly_events", anomalyEvents _, Some(anomalyEventsSql)),
    QuerySpec("q_gap_fill", gapFillDaily _, Some(gapFillDailySql)),
    QuerySpec("q_corr_stats", corrStats _, Some(corrStatsSql)),
    QuerySpec("q_attribution", multiTouchAttribution _, Some(multiTouchAttributionSql)),
    QuerySpec("q_cem_uplift", cemUplift _, Some(cemUpliftSql)),
    QuerySpec("q_position_bias", positionBias _, Some(positionBiasSql)),
    QuerySpec("q_msprt", msprt _, Some(msprtSql)),
    QuerySpec("q_rdd_effect", rddEffect _, Some(rddEffectSql)),
    QuerySpec("q_markov_attribution", markovAttribution _, Some(markovAttributionSql)),
  )
}
