package graft.operators

import graft.{QueryFamily, QuerySpec, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational core (SURVEY.md §2.1–§2.8): scans, joins, aggregations,
  * windows, set ops and scalar-function coverage, each as an
  * oracle-backed query over the star schema / events fixtures.
  *
  * Conventions shared by every query here (SURVEY.md §7.4):
  *  - every result ends in a full ORDER BY with a unique tie-break so
  *    the DuckDB hash-compare is deterministic;
  *  - floating aggregates are rounded (4 dp) to absorb summation-order
  *    differences between engines;
  *  - no raw timestamps in output — dates/strings/epoch longs only
  *    (parquet tz metadata differs between writers);
  *  - aliases match the oracle SQL column-for-column.
  *
  * Scale notes are on each query: the fixtures are small but each plan
  * is written for the 1000-executor case — dimension joins broadcast,
  * facts shuffle on their join keys once, filters stay sargable so they
  * reach the parquet scan.
  */
object Relational extends QueryFamily {

  /** TPC-H Q1-style pricing summary. Single scan + partial/final hash
    * aggregate on 2 low-cardinality keys; at scale this is map-side
    * combine into a 6-row result — no skew possible. Filter is sargable
    * (pushed to parquet row groups).
    */
  def pricingSummary(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .where(col("l_shipdate") <= lit("1998-09-02").cast("timestamp_ntz"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum("l_quantity"), 4).as("sum_qty"),
        round(sum("l_extendedprice"), 4).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4).as("sum_disc_price"),
        round(avg("l_quantity"), 4).as("avg_qty"),
        round(avg("l_discount"), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  val pricingSummarySql: String =
    """SELECT l_returnflag, l_linestatus,
      |  round(sum(l_quantity), 4) AS sum_qty,
      |  round(sum(l_extendedprice), 4) AS sum_base_price,
      |  round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS sum_disc_price,
      |  round(avg(l_quantity), 4) AS avg_qty,
      |  round(avg(l_discount), 4) AS avg_disc,
      |  count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** Revenue per nation across the full star join. lineitem⋈orders is
    * the only fact⋈fact shuffle; customer/nation/region are explicitly
    * broadcast so the plan stays a single shuffle stage at any SF.
    */
  def revenueByNation(spark: SparkSession, sfDir: String): DataFrame = {
    val l = Tables.lineitem(spark, sfDir).select("l_orderkey", "l_extendedprice", "l_discount")
    val o = Tables.orders(spark, sfDir).select("o_orderkey", "o_custkey")
    val c = Tables.customer(spark, sfDir).select("c_custkey", "c_nationkey")
    val n = Tables.nation(spark, sfDir)
    val r = Tables.region(spark, sfDir)
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4).as("revenue"),
           count(lit(1)).as("n_items"))
      .orderBy("r_name", "n_name")
  }

  val revenueByNationSql: String =
    """SELECT r_name, n_name,
      |  round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS revenue,
      |  count(*) AS n_items
      |FROM lineitem
      |JOIN orders   ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation   ON c_nationkey = n_nationkey
      |JOIN region   ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name
      |ORDER BY r_name, n_name""".stripMargin

  /** Global top-k: Catalyst rewrites orderBy+limit to
    * TakeOrderedAndProject — per-partition heaps, no global sort.
    */
  def topCustomers(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
    val c = Tables.customer(spark, sfDir).select("c_custkey", "c_name")
    o.groupBy("o_custkey")
      .agg(round(sum("o_totalprice"), 4).as("total_spend"), count(lit(1)).as("n_orders"))
      .join(broadcast(c), col("o_custkey") === c("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("total_spend"), col("n_orders"))
      .orderBy(col("total_spend").desc, col("c_custkey").asc)
      .limit(10)
  }

  val topCustomersSql: String =
    """SELECT c_custkey, c_name, total_spend, n_orders
      |FROM (
      |  SELECT o_custkey, round(sum(o_totalprice), 4) AS total_spend, count(*) AS n_orders
      |  FROM orders GROUP BY o_custkey
      |) JOIN customer ON o_custkey = c_custkey
      |ORDER BY total_spend DESC, c_custkey ASC
      |LIMIT 10""".stripMargin

  /** Left outer join keeping customers with zero orders; count(o_orderkey)
    * ignores the null-extended rows, so empty customers report 0.
    */
  def customerOrderCounts(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.customer(spark, sfDir).select("c_custkey", "c_mktsegment")
    val o = Tables.orders(spark, sfDir).select("o_orderkey", "o_custkey")
    c.join(o, c("c_custkey") === o("o_custkey"), "left")
      .groupBy("c_mktsegment")
      .agg(count(col("o_orderkey")).as("n_orders"),
           countDistinct(col("c_custkey")).as("n_customers"))
      .orderBy("c_mktsegment")
  }

  val customerOrderCountsSql: String =
    """SELECT c_mktsegment,
      |  count(o_orderkey) AS n_orders,
      |  count(DISTINCT c_custkey) AS n_customers
      |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  /** Left semi join — existence filter, no row multiplication. At scale
    * the probe side stays un-exploded (vs an inner join + distinct).
    */
  def bigSpenders(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.customer(spark, sfDir)
    val o = Tables.orders(spark, sfDir).where(col("o_totalprice") > 300000.0)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"), round(col("c_acctbal"), 4).as("acctbal"))
      .orderBy("c_custkey")
  }

  val bigSpendersSql: String =
    """SELECT c_custkey, c_name, round(c_acctbal, 4) AS acctbal
      |FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 300000.0)
      |ORDER BY c_custkey""".stripMargin

  /** Left anti join — the recsys "exclude already-seen" primitive
    * (SURVEY.md J6) in its relational form: parts never shipped in 1998.
    */
  def partsNotShipped1998(spark: SparkSession, sfDir: String): DataFrame = {
    val p = Tables.part(spark, sfDir)
    val l = Tables.lineitem(spark, sfDir)
      .where(col("l_shipdate") >= lit("1998-01-01").cast("timestamp_ntz") &&
             col("l_shipdate") <  lit("1999-01-01").cast("timestamp_ntz"))
    p.join(l, p("p_partkey") === l("l_partkey"), "left_anti")
      .select("p_partkey", "p_name", "p_brand")
      .orderBy("p_partkey")
  }

  val partsNotShipped1998Sql: String =
    """SELECT p_partkey, p_name, p_brand
      |FROM part
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM lineitem
      |  WHERE l_partkey = p_partkey
      |    AND l_shipdate >= TIMESTAMP '1998-01-01' AND l_shipdate < TIMESTAMP '1999-01-01')
      |ORDER BY p_partkey""".stripMargin

  /** Range/theta join (SURVEY.md J7): view→purchase attribution — each
    * purchase event matched to the same user's view events in the
    * preceding hour. Written as an equi-join on the user key with the
    * time range as a residual predicate — shuffles once on user_id
    * instead of degenerating to a broadcast nested loop.
    */
  def eventOrderAttribution(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.events(spark, sfDir)
    val buys = e.where(col("event_type") === "purchase")
      .select(col("event_id").as("buy_id"), col("user_id").as("buy_user"),
              unix_micros(col("ts")).as("buy_us"), col("value"))
    val views = e.where(col("event_type") === "view")
      .select(col("user_id").as("view_user"), unix_micros(col("ts")).as("view_us"))
    buys.join(views,
        col("buy_user") === col("view_user") &&
        col("view_us") < col("buy_us") &&
        col("view_us") >= col("buy_us") - lit(3600L * 1000000L))
      .groupBy(col("buy_user").as("user_id"))
      .agg(countDistinct(col("buy_id")).as("n_attributed_purchases"),
           count(lit(1)).as("n_view_pairs"),
           round(sum("value"), 4).as("sum_value"))
      .orderBy("user_id")
  }

  val eventOrderAttributionSql: String =
    """SELECT b.user_id AS user_id,
      |  count(DISTINCT b.event_id) AS n_attributed_purchases,
      |  count(*) AS n_view_pairs,
      |  round(sum(b.value), 4) AS sum_value
      |FROM (SELECT event_id, user_id, epoch_us(ts) AS buy_us, value
      |      FROM events WHERE event_type = 'purchase') b
      |JOIN (SELECT user_id, epoch_us(ts) AS view_us
      |      FROM events WHERE event_type = 'view') v
      |  ON b.user_id = v.user_id
      | AND v.view_us < b.buy_us AND v.view_us >= b.buy_us - 3600000000
      |GROUP BY b.user_id
      |ORDER BY user_id""".stripMargin

  /** Cross join scaffold (J8): dense nation×event_type grid, zero-filled
    * from the observed counts via a left join. The grid side is tiny by
    * construction — Catalyst broadcasts it.
    */
  def nationEventGrid(spark: SparkSession, sfDir: String): DataFrame = {
    val n = Tables.nation(spark, sfDir).select("n_nationkey", "n_name")
    val types = Tables.events(spark, sfDir).select(col("event_type")).distinct()
    val grid = n.crossJoin(types)
    val counts = Tables.events(spark, sfDir)
      .join(broadcast(Tables.customer(spark, sfDir).select("c_custkey", "c_nationkey")),
            col("user_id") === col("c_custkey"))
      .groupBy(col("c_nationkey"), col("event_type").as("et"))
      .agg(count(lit(1)).as("cnt"))
    grid.join(counts,
        grid("n_nationkey") === counts("c_nationkey") && grid("event_type") === counts("et"),
        "left")
      .select(col("n_name"), col("event_type"), coalesce(col("cnt"), lit(0L)).as("n_events"))
      .orderBy("n_name", "event_type")
  }

  val nationEventGridSql: String =
    """WITH grid AS (
      |  SELECT n_nationkey, n_name, event_type
      |  FROM nation CROSS JOIN (SELECT DISTINCT event_type FROM events)
      |), counts AS (
      |  SELECT c_nationkey, event_type AS et, count(*) AS cnt
      |  FROM events JOIN customer ON user_id = c_custkey
      |  GROUP BY 1, 2
      |)
      |SELECT n_name, event_type, coalesce(cnt, 0) AS n_events
      |FROM grid LEFT JOIN counts ON grid.n_nationkey = counts.c_nationkey AND grid.event_type = counts.et
      |ORDER BY n_name, event_type""".stripMargin

  /** ROLLUP over region→nation (A5). Null group markers are coalesced to
    * 'ALL' so the row set is label-stable across engines. Expressed in
    * SQL over temp views (S6): the DataFrame rollup API trips the
    * ambiguous-self-join detector when its input contains joins
    * (Expand duplicates the grouping attributes); the SQL path analyzes
    * cleanly and produces the identical plan. The dimension joins are
    * auto-broadcast (all under the broadcast threshold at any SF).
    */
  def revenueRollup(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.registerAll(spark, sfDir)
    spark.sql(
      """SELECT coalesce(r_name, 'ALL') AS region, coalesce(n_name, 'ALL') AS nation,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation   ON s_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name)
        |ORDER BY region, nation""".stripMargin)
  }

  val revenueRollupSql: String =
    """SELECT coalesce(r_name, 'ALL') AS region, coalesce(n_name, 'ALL') AS nation,
      |  round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS revenue,
      |  count(*) AS n_items
      |FROM lineitem
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation   ON s_nationkey = n_nationkey
      |JOIN region   ON n_regionkey = r_regionkey
      |GROUP BY ROLLUP (r_name, n_name)
      |ORDER BY region, nation""".stripMargin

  /** Explicit GROUPING SETS (A5, distinct from rollup/cube): the
    * ragged-granularity report — totals by (status), by (priority), and
    * overall, but NOT by the cross product.
    */
  def orderGroupingSets(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.registerAll(spark, sfDir)
    spark.sql(
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        |  coalesce(o_orderpriority, 'ALL') AS priority,
        |  count(*) AS n_orders, round(sum(o_totalprice), 4) AS revenue
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY status, priority""".stripMargin)
  }

  val orderGroupingSetsSql: String =
    """SELECT coalesce(o_orderstatus, 'ALL') AS status,
      |  coalesce(o_orderpriority, 'ALL') AS priority,
      |  count(*) AS n_orders, round(sum(o_totalprice), 4) AS revenue
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
      |ORDER BY status, priority""".stripMargin

  /** CUBE over order status×priority (A5). */
  def ordersCube(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .cube("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n_orders"), round(avg("o_totalprice"), 4).as("avg_price"))
      .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
              coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
              col("n_orders"), col("avg_price"))
      .orderBy("status", "priority")

  val ordersCubeSql: String =
    """SELECT coalesce(o_orderstatus, 'ALL') AS status, coalesce(o_orderpriority, 'ALL') AS priority,
      |  count(*) AS n_orders, round(avg(o_totalprice), 4) AS avg_price
      |FROM orders
      |GROUP BY CUBE (o_orderstatus, o_orderpriority)
      |ORDER BY status, priority""".stripMargin

  /** Pivot (A6): event_type counts per user-id bucket. Pivot values are
    * pinned explicitly — at scale an unpinned pivot needs an extra pass
    * to discover the domain.
    */
  def eventPivot(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .withColumn("user_bucket", col("user_id") % 10)
      .groupBy("user_bucket")
      .pivot("event_type", Seq("view", "click", "purchase", "signup", "error"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy("user_bucket")

  val eventPivotSql: String =
    """SELECT user_id % 10 AS user_bucket,
      |  count(*) FILTER (event_type = 'view')     AS "view",
      |  count(*) FILTER (event_type = 'click')    AS "click",
      |  count(*) FILTER (event_type = 'purchase') AS "purchase",
      |  count(*) FILTER (event_type = 'signup')   AS "signup",
      |  count(*) FILTER (event_type = 'error')    AS "error"
      |FROM events
      |GROUP BY 1
      |ORDER BY user_bucket""".stripMargin

  /** Per-group top-k via row_number (W1) — the most load-bearing window
    * shape in the engine (also used by every recommender top-N). Unique
    * tie-break (revenue desc, partkey asc) keeps it deterministic.
    */
  def topPartsPerBrand(spark: SparkSession, sfDir: String): DataFrame = {
    val l = Tables.lineitem(spark, sfDir).select("l_partkey", "l_extendedprice", "l_discount")
    val p = Tables.part(spark, sfDir).select("p_partkey", "p_brand", "p_name")
    val rev = l.groupBy("l_partkey")
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4).as("revenue"))
      .join(broadcast(p), col("l_partkey") === p("p_partkey"))
    val w = Window.partitionBy(col("p_brand")).orderBy(col("revenue").desc, col("p_partkey").asc)
    rev.withColumn("rk", row_number().over(w))
      .where(col("rk") <= 3)
      .select(col("p_brand"), col("rk"), col("p_partkey"), col("p_name"), col("revenue"))
      .orderBy("p_brand", "rk")
  }

  val topPartsPerBrandSql: String =
    """WITH rev AS (
      |  SELECT p_brand, p_partkey, p_name,
      |    round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS revenue
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  GROUP BY 1, 2, 3
      |), ranked AS (
      |  SELECT p_brand, p_partkey, p_name, revenue,
      |    row_number() OVER (PARTITION BY p_brand ORDER BY revenue DESC, p_partkey ASC) AS rk
      |  FROM rev
      |)
      |SELECT p_brand, rk, p_partkey, p_name, revenue
      |FROM ranked WHERE rk <= 3
      |ORDER BY p_brand, rk""".stripMargin

  /** Running/frame aggregate (W4): cumulative spend per customer in
    * order-date order. Emits the date as a string (no raw timestamps in
    * results — see file header). Restricted to one mktsegment to keep
    * the verify dump small; the window itself scales per-customer.
    */
  def runningRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.customer(spark, sfDir)
      .where(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val o = Tables.orders(spark, sfDir)
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    o.join(broadcast(c), o("o_custkey") === c("c_custkey"), "left_semi")
      .withColumn("running_spend", round(sum(col("o_totalprice")).over(w), 4))
      .select(col("o_custkey"), col("o_orderkey"),
              date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
              col("running_spend"))
      .orderBy("o_custkey", "o_orderkey")
  }

  val runningRevenueSql: String =
    """SELECT o_custkey, o_orderkey,
      |  strftime(o_orderdate, '%Y-%m-%d') AS order_date,
      |  round(sum(o_totalprice) OVER (
      |    PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running_spend
      |FROM orders
      |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  /** lag() inter-event gaps (W3): average seconds between consecutive
    * events per user. Deterministic window order via (ts, event_id).
    */
  def eventGaps(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.events(spark, sfDir)
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
    e.withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("gap_us", unix_micros(col("ts")) - unix_micros(col("prev_ts")))
      .groupBy("user_id")
      .agg(count(col("gap_us")).as("n_gaps"),
           round(avg(col("gap_us") / lit(1000000.0)), 4).as("avg_gap_sec"),
           max(col("gap_us")).as("max_gap_us"))
      .where(col("n_gaps") > 0)
      .orderBy("user_id")
  }

  val eventGapsSql: String =
    """WITH g AS (
      |  SELECT user_id,
      |    epoch_us(ts) - epoch_us(lag(ts, 1) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)) AS gap_us
      |  FROM events
      |)
      |SELECT user_id, count(gap_us) AS n_gaps,
      |  round(avg(gap_us / 1000000.0), 4) AS avg_gap_sec, max(gap_us) AS max_gap_us
      |FROM g
      |GROUP BY user_id
      |HAVING count(gap_us) > 0
      |ORDER BY user_id""".stripMargin

  /** Batch sessionization (W5): gap > 30 min opens a new session;
    * cumulative-sum-of-boundaries assigns ids, then sessions are
    * profiled per user. One shuffle on user_id serves both windows.
    */
  def sessionStats(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.events(spark, sfDir)
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
    val withGap = e
      .withColumn("gap_us", unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w)))
      .withColumn("is_new", when(col("gap_us").isNull || col("gap_us") > 1800L * 1000000L, 1).otherwise(0))
      .withColumn("session_id", sum(col("is_new")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    withGap.groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"),
           round(avg(col("n_events")), 4).as("avg_events_per_session"),
           max(col("n_events")).as("max_session_events"))
      .orderBy("user_id")
  }

  val sessionStatsSql: String =
    """WITH g AS (
      |  SELECT user_id, event_id, ts,
      |    epoch_us(ts) - epoch_us(lag(ts, 1) OVER w) AS gap_us
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
      |), s AS (
      |  SELECT user_id,
      |    sum(CASE WHEN gap_us IS NULL OR gap_us > 1800000000 THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM g
      |), per_session AS (
      |  SELECT user_id, session_id, count(*) AS n_events
      |  FROM s GROUP BY user_id, session_id
      |)
      |SELECT user_id, count(*) AS n_sessions,
      |  round(avg(n_events), 4) AS avg_events_per_session,
      |  max(n_events) AS max_session_events
      |FROM per_session
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  /** RANGE-frame window (W4b): per event, the count and mean value of
    * the same user's events in the PRECEDING HOUR — a range frame over
    * µs-epoch event time (rows frames count rows; range frames cover a
    * value interval, the moving-aggregate shape).
    */
  def rangeFrameStats(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.events(spark, sfDir)
      .withColumn("t_us", unix_micros(col("ts")))
    val w = Window.partitionBy(col("user_id")).orderBy(col("t_us"))
      .rangeBetween(-3600L * 1000000L, Window.currentRow)
    e.withColumn("n_last_hour", count(lit(1)).over(w))
      .withColumn("avg_last_hour", round(avg(col("value")).over(w), 4))
      .groupBy("user_id")
      .agg(max(col("n_last_hour")).as("max_burst"),
           round(avg(col("n_last_hour")), 4).as("avg_window_size"),
           round(max(col("avg_last_hour")), 4).as("max_hourly_avg"))
      .orderBy("user_id")
  }

  val rangeFrameStatsSql: String =
    """WITH x AS (
      |  SELECT user_id,
      |    count(*) OVER w AS n_last_hour,
      |    round(avg(value) OVER w, 4) AS avg_last_hour
      |  FROM (SELECT user_id, value, epoch_us(ts::TIMESTAMP) AS t_us FROM events)
      |  WINDOW w AS (PARTITION BY user_id ORDER BY t_us
      |               RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
      |)
      |SELECT user_id, max(n_last_hour) AS max_burst,
      |  round(avg(n_last_hour), 4) AS avg_window_size,
      |  round(max(avg_last_hour), 4) AS max_hourly_avg
      |FROM x
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  /** rank/dense_rank/ntile coverage (W2) over nation revenue. */
  def nationRevenueRanks(spark: SparkSession, sfDir: String): DataFrame = {
    val base = revenueByNation(spark, sfDir).select("r_name", "n_name", "revenue")
    val w = Window.orderBy(col("revenue").desc, col("n_name").asc)
    base
      .withColumn("rnk", rank().over(w))
      .withColumn("drnk", dense_rank().over(w))
      .withColumn("quartile", ntile(4).over(w))
      .select(col("n_name"), col("revenue"), col("rnk"), col("drnk"), col("quartile"))
      .orderBy("rnk", "n_name")
  }

  val nationRevenueRanksSql: String =
    """WITH base AS (
      |  SELECT r_name, n_name,
      |    round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS revenue
      |  FROM lineitem
      |  JOIN orders   ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation   ON c_nationkey = n_nationkey
      |  JOIN region   ON n_regionkey = r_regionkey
      |  GROUP BY r_name, n_name
      |)
      |SELECT n_name, revenue,
      |  rank()       OVER w AS rnk,
      |  dense_rank() OVER w AS drnk,
      |  ntile(4)     OVER w AS quartile
      |FROM base
      |WINDOW w AS (ORDER BY revenue DESC, n_name ASC)
      |ORDER BY rnk, n_name""".stripMargin

  /** Set operations (U1–U3): users who viewed AND purchased (intersect),
    * viewed but never purchased (except), unioned with a label column.
    */
  def setOpsUsers(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.events(spark, sfDir)
    val viewers    = e.where(col("event_type") === "view").select("user_id")
    val purchasers = e.where(col("event_type") === "purchase").select("user_id")
    val both    = viewers.intersect(purchasers).withColumn("cohort", lit("view_and_purchase"))
    val viewOnly = viewers.except(purchasers).withColumn("cohort", lit("view_only"))
    both.unionByName(viewOnly)
      .groupBy("cohort").agg(count(lit(1)).as("n_users"))
      .orderBy("cohort")
  }

  val setOpsUsersSql: String =
    """WITH both_c AS (
      |  SELECT user_id FROM events WHERE event_type = 'view'
      |  INTERSECT
      |  SELECT user_id FROM events WHERE event_type = 'purchase'
      |), view_only AS (
      |  SELECT user_id FROM events WHERE event_type = 'view'
      |  EXCEPT
      |  SELECT user_id FROM events WHERE event_type = 'purchase'
      |), u AS (
      |  SELECT user_id, 'view_and_purchase' AS cohort FROM both_c
      |  UNION ALL
      |  SELECT user_id, 'view_only' AS cohort FROM view_only
      |)
      |SELECT cohort, count(*) AS n_users FROM u GROUP BY cohort ORDER BY cohort""".stripMargin

  /** Exact + distinct aggregation per event type (A1/A2). */
  def eventTypeStats(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
           countDistinct(col("user_id")).as("n_users"),
           round(sum("value"), 4).as("sum_value"),
           round(avg("value"), 4).as("avg_value"))
      .orderBy("event_type")

  val eventTypeStatsSql: String =
    """SELECT event_type, count(*) AS n_events, count(DISTINCT user_id) AS n_users,
      |  round(sum(value), 4) AS sum_value, round(avg(value), 4) AS avg_value
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** Sketch bitmap size for linear counting. */
  val SketchM = 4096

  /** Deterministic cardinality sketch — linear counting on the
    * portable 32-bit hash: per group, V = occupied buckets of
    * h mod $SketchM, estimate = −m·ln((m−V)/m). Unlike HLL++
    * (engine-specific, rows-only check) this sketch is exactly
    * reproducible in DuckDB, so the ORACLE verifies the sketch
    * pipeline itself. Scale story: per-group state is a fixed m-bit
    * bitmap that partial-aggregates map-side (here expressed as
    * countDistinct over ≤m bucket ids — shuffle bounded by m per
    * group regardless of input size); linear counting is the standard
    * choice below ~m/30 cardinalities, HLL above.
    */
  def sketchDistinct(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .withColumn("bucket",
        expr("cast(conv(substring(md5(cast(user_id AS string)), 1, 8), 16, 10) AS bigint)") % SketchM)
      .groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("n_exact"),
           countDistinct(col("bucket")).as("n_buckets"))
      // saturated bitmap (V = m) has no linear-counting estimate:
      // emit NULL rather than ln(0) (Spark would yield null anyway but
      // DuckDB's ln(0) ERRORS — guard both engines explicitly)
      .withColumn("n_est", when(col("n_buckets") >= SketchM, lit(null))
        .otherwise(round(-lit(SketchM.toDouble)
          * log((lit(SketchM) - col("n_buckets")) / lit(SketchM.toDouble))).cast("long")))
      .withColumn("err_pct",
        round(abs(col("n_est") - col("n_exact")) * 100.0 / col("n_exact"), 4))
      .orderBy("event_type")

  val sketchDistinctSql: String =
    s"""WITH b AS (
       |  SELECT event_type, user_id,
       |    ('0x' || substr(md5(user_id::VARCHAR), 1, 8))::BIGINT % $SketchM AS bucket
       |  FROM events
       |), g AS (
       |  SELECT event_type,
       |    count(DISTINCT user_id) AS n_exact,
       |    count(DISTINCT bucket) AS n_buckets
       |  FROM b GROUP BY event_type
       |)
       |, est AS (
       |  SELECT event_type, n_exact, n_buckets,
       |    CASE WHEN n_buckets >= $SketchM THEN NULL
       |         ELSE round(-${SketchM.toDouble} * ln(($SketchM - n_buckets) / ${SketchM.toDouble}))::BIGINT
       |    END AS n_est
       |  FROM g
       |)
       |SELECT event_type, n_exact, n_buckets, n_est,
       |  round(abs(n_est - n_exact) * 100.0 / n_exact, 4) AS err_pct
       |FROM est
       |ORDER BY event_type""".stripMargin

  /** approx_count_distinct (A3, HLL++). Estimates are engine-specific so
    * there is deliberately no oracle entry — the driver records a
    * rows-only check; the exact twin is eventTypeStats and the
    * oracle-verifiable sketch tier is [[sketchDistinct]].
    */
  def approxDistinctUsers(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy("event_type")
      .agg(approx_count_distinct(col("user_id"), 0.02).as("approx_users"),
           countDistinct(col("user_id")).as("exact_users"))
      .orderBy("event_type")

  /** Date/time function coverage (F2): monthly order rollup. */
  def ordersByMonth(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .withColumn("month", date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM"))
      .groupBy("month")
      .agg(count(lit(1)).as("n_orders"),
           round(sum("o_totalprice"), 4).as("revenue"),
           countDistinct(col("o_custkey")).as("n_customers"))
      .orderBy("month")

  val ordersByMonthSql: String =
    """SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
      |  count(*) AS n_orders, round(sum(o_totalprice), 4) AS revenue,
      |  count(DISTINCT o_custkey) AS n_customers
      |FROM orders
      |GROUP BY 1
      |ORDER BY month""".stripMargin

  /** JSON extraction (F5) from the events.props string column. */
  def jsonPropsStats(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy("event_type")
      .agg(count(col("k")).as("n_with_k"),
           round(avg(col("k")), 4).as("avg_k"),
           min(col("k")).as("min_k"),
           max(col("k")).as("max_k"))
      .orderBy("event_type")

  val jsonPropsStatsSql: String =
    """SELECT event_type,
      |  count(k) AS n_with_k, round(avg(k), 4) AS avg_k, min(k) AS min_k, max(k) AS max_k
      |FROM (SELECT event_type, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events)
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** Spark 4 VARIANT (F5b): the modern semi-structured path beside
    * [[jsonPropsStats]]'s string-JSON functions. `parse_json` lifts
    * events.props into a VariantType value; `variant_get` does TYPED
    * extraction (long for the k counter, string through a NESTED path
    * on a constructed variant), a missing path yields NULL (counted to
    * prove the null semantics), and `schema_of_variant` introspects
    * the per-row shape (the fixture's uniform {"k": int} must collapse
    * to ONE distinct schema). The oracle mirrors every output with
    * DuckDB's json_extract/json_structure over the same strings —
    * where variant typing and JSON typing could diverge, the
    * EXTRACTION columns stick to lossless long/string paths so they
    * cannot. The `n_schemas` column is the one deliberate exception:
    * schema_of_variant and json_structure use different integer-type
    * lattices (DuckDB types non-negative ints UBIGINT and negatives
    * BIGINT, so a mixed-sign k would count 2 structures where Spark
    * sees 1 BIGINT schema) — its parity is pinned by the fixture's
    * uniformly non-negative k, documented here so a future fixture
    * with mixed-sign props reads as a known typing split, not a bug.
    *
    * Scale: variants are parsed map-side from the scanned column; the
    * only shuffle is the final event_type aggregate. At 100 TB the
    * parse cost is the scan's (VariantType is Spark's columnar-
    * friendly answer to exactly this), and nothing here widens rows.
    */
  def variantProps(spark: SparkSession, sfDir: String): DataFrame =
    // spread: per-row JSON parse + variant extraction otherwise runs
    // on the small file's single scan task (r13, Tables.spread)
    Tables.spread(Tables.events(spark, sfDir), "event_id")
      .withColumn("v", expr("parse_json(props)"))
      .withColumn("k", expr("variant_get(v, '$.k', 'long')"))
      // to_json(named_struct(...)) builds the nested document — JSON
      // escaping of event_type comes from the serializer (the r8 form
      // spliced the raw value into a JSON literal, so any quote or
      // backslash in an event type would have broken parse_json)
      .withColumn("nested", expr(
        """parse_json(to_json(named_struct(
          |'meta', named_struct('t', event_type),
          |'val', coalesce(k, 0L))))""".stripMargin.replace("\n", " ")))
      .groupBy(expr("variant_get(nested, '$.meta.t', 'string')").as("event_type"))
      .agg(count(lit(1)).as("n_events"),
           count(col("k")).as("n_with_k"),
           sum(col("k")).as("sum_k"),
           round(avg(col("k")), 4).as("avg_k"),
           sum(expr("variant_get(nested, '$.val', 'long')")).as("sum_val"),
           count(expr("variant_get(v, '$.missing', 'string')")).as("n_missing"),
           countDistinct(expr("schema_of_variant(v)")).as("n_schemas"))
      .orderBy("event_type")

  val variantPropsSql: String =
    """WITH e AS (
      |  SELECT event_type,
      |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS k, props
      |  FROM events
      |)
      |SELECT event_type, count(*) AS n_events, count(k) AS n_with_k,
      |  sum(k)::BIGINT AS sum_k, round(avg(k), 4) AS avg_k,
      |  sum(coalesce(k, 0))::BIGINT AS sum_val,
      |  count(json_extract_string(props, '$.missing')) AS n_missing,
      |  count(DISTINCT json_structure(props)) AS n_schemas
      |FROM e
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** Conditional expressions (P3): implicit-feedback weighting of event
    * types into a per-user preference score.
    */
  def implicitPreference(spark: SparkSession, sfDir: String): DataFrame = {
    val weight = when(col("event_type") === "purchase", 5.0)
      .when(col("event_type") === "click", 2.0)
      .when(col("event_type") === "signup", 3.0)
      .when(col("event_type") === "view", 1.0)
      .otherwise(0.0)
    Tables.events(spark, sfDir)
      .withColumn("w", weight)
      .groupBy("user_id")
      .agg(round(sum(col("w") * col("value")), 4).as("pref_score"),
           count(lit(1)).as("n_events"))
      .orderBy(col("pref_score").desc, col("user_id").asc)
      .limit(100)
  }

  val implicitPreferenceSql: String =
    """SELECT user_id,
      |  round(sum((CASE event_type WHEN 'purchase' THEN 5.0 WHEN 'click' THEN 2.0
      |             WHEN 'signup' THEN 3.0 WHEN 'view' THEN 1.0 ELSE 0.0 END) * value), 4) AS pref_score,
      |  count(*) AS n_events
      |FROM events
      |GROUP BY user_id
      |ORDER BY pref_score DESC, user_id ASC
      |LIMIT 100""".stripMargin

  /** Null handling (P4): nullif/coalesce round-trip over event values. */
  def nullHandling(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .withColumn("v", expr("nullif(value, 0.0)"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_rows"),
           count(col("v")).as("n_nonzero"),
           round(avg(coalesce(col("v"), lit(0.0))), 4).as("avg_zero_filled"),
           round(avg(col("v")), 4).as("avg_nonzero"))
      .orderBy("event_type")

  val nullHandlingSql: String =
    """SELECT event_type, count(*) AS n_rows, count(v) AS n_nonzero,
      |  round(avg(coalesce(v, 0.0)), 4) AS avg_zero_filled,
      |  round(avg(v), 4) AS avg_nonzero
      |FROM (SELECT event_type, nullif(value, 0.0) AS v FROM events)
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** Map-typed columns (F5b): build a map from grouped key/value
    * arrays, read it back with element_at. Exercises MapType through
    * aggregation and projection; DuckDB's MAP mirrors the semantics.
    */
  def mapColumnStats(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy("user_id", "event_type")
      .agg(round(sum("value"), 4).as("tv")) // unique keys: map_from_arrays rejects dups
      .groupBy("user_id")
      .agg(map_from_arrays(collect_list(col("event_type")), collect_list(col("tv"))).as("m"))
      .select(col("user_id"),
        size(col("m")).as("n_types"),
        coalesce(element_at(col("m"), "view"), lit(0.0)).as("view_value"),
        coalesce(element_at(col("m"), "purchase"), lit(0.0)).as("purchase_value"))
      .where(col("user_id") < 50)
      .orderBy("user_id")

  val mapColumnStatsSql: String =
    """SELECT user_id, count(DISTINCT event_type) AS n_types,
      |  round(coalesce(sum(value) FILTER (event_type = 'view'), 0.0), 4) AS view_value,
      |  round(coalesce(sum(value) FILTER (event_type = 'purchase'), 0.0), 4) AS purchase_value
      |FROM events
      |GROUP BY user_id
      |HAVING user_id < 50
      |ORDER BY user_id""".stripMargin

  /** Global top-k (O3): TakeOrderedAndProject, no full sort. */
  def topLineitems(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_linenumber"),
              round(col("l_extendedprice"), 4).as("price"), col("l_quantity"))
      .orderBy(col("price").desc, col("l_orderkey").asc, col("l_linenumber").asc)
      .limit(20)

  val topLineitemsSql: String =
    """SELECT l_orderkey, l_linenumber, round(l_extendedprice, 4) AS price, l_quantity
      |FROM lineitem
      |ORDER BY price DESC, l_orderkey ASC, l_linenumber ASC
      |LIMIT 20""".stripMargin

  /** Percentiles + min_by/max_by (F3): exact interpolated quantiles per
    * order priority (Spark `percentile` ↔ DuckDB `quantile_cont`, both
    * linear interpolation over the exact sorted values) and first/last
    * order price keyed on the UNIQUE o_orderkey — arg-extremes on a
    * non-unique key would be nondeterministic in both engines.
    */
  def pricePercentiles(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
           round(expr("percentile(o_totalprice, 0.5)"), 4).as("median_price"),
           round(expr("percentile(o_totalprice, 0.9)"), 4).as("p90_price"),
           round(expr("min_by(o_totalprice, o_orderkey)"), 4).as("first_order_price"),
           round(expr("max_by(o_totalprice, o_orderkey)"), 4).as("last_order_price"))
      .orderBy("o_orderpriority")

  val pricePercentilesSql: String =
    """SELECT o_orderpriority, count(*) AS n_orders,
      |  round(quantile_cont(o_totalprice, 0.5), 4) AS median_price,
      |  round(quantile_cont(o_totalprice, 0.9), 4) AS p90_price,
      |  round(arg_min(o_totalprice, o_orderkey), 4) AS first_order_price,
      |  round(arg_max(o_totalprice, o_orderkey), 4) AS last_order_price
      |FROM orders
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** Two-phase salted aggregation — the skew-mitigation pattern for hot
    * grouping keys (event_type has 5 values over the whole table: the
    * worst case for a direct shuffle at 100 TB). Phase 1 aggregates on
    * (key, salt) spreading each hot key over 16 reducers; phase 2 merges
    * the 16 partials per key. Counts/sums/maxes compose losslessly, so
    * the result — and the oracle — is identical to the direct groupBy.
    */
  val SaltBuckets = 16

  def saltedEventStats(spark: SparkSession, sfDir: String): DataFrame = {
    val partial = Tables.events(spark, sfDir)
      .withColumn("salt", pmod(col("user_id"), lit(SaltBuckets)))
      .groupBy("event_type", "salt")
      .agg(count(lit(1)).as("pn"), sum("value").as("psum"), max("value").as("pmax"))
    partial.groupBy("event_type")
      .agg(sum("pn").as("n_events"),
           round(sum("psum"), 4).as("sum_value"),
           round(max("pmax"), 4).as("max_value"))
      .orderBy("event_type")
  }

  val saltedEventStatsSql: String =
    """SELECT event_type, count(*) AS n_events,
      |  round(sum(value), 4) AS sum_value, round(max(value), 4) AS max_value
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** Correlated scalar subquery (SURVEY.md §4 "subquery decorrelation"):
    * orders priced above their customer's average order value. Written
    * as the correlated form on purpose — Catalyst's
    * RewriteCorrelatedScalarSubquery turns it into the aggregate+join
    * a hand-decorrelated version would be, which `.explain` confirms
    * (no per-row subquery execution survives; at scale it is one
    * shuffle on o_custkey). The subquery's avg is rounded to 4 dp
    * before the comparison (house rule: never compare floats computed
    * independently by each engine at full precision — summation-order
    * ulps could flip the predicate on a price that ties the average).
    */
  def ordersAboveCustAvg(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.orders(spark, sfDir).createOrReplaceTempView("orders")
    spark.sql(
      """SELECT o_custkey, count(*) AS n_above,
        |  round(max(o_totalprice), 4) AS max_above
        |FROM orders o
        |WHERE o_totalprice > (SELECT round(avg(o2.o_totalprice), 4)
        |                      FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
        |GROUP BY o_custkey
        |ORDER BY n_above DESC, o_custkey ASC
        |LIMIT 100""".stripMargin)
  }

  val ordersAboveCustAvgSql: String =
    """SELECT o_custkey, count(*) AS n_above,
      |  round(max(o_totalprice), 4) AS max_above
      |FROM orders o
      |WHERE o_totalprice > (SELECT round(avg(o2.o_totalprice), 4)
      |                      FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
      |GROUP BY o_custkey
      |ORDER BY n_above DESC, o_custkey ASC
      |LIMIT 100""".stripMargin

  /** 0-based dense index of a frame of long keys under key-ASC order
    * — `row_number() OVER (ORDER BY key) - 1` semantics over the
    * DISTINCT keys, with no global window: the groupBy collapses
    * duplicates to one slot of weight 1, so the prefix from
    * [[RankPrefix.before]] IS the key's dense index even on a dirty
    * input (the r8 form fed real counts, so a duplicate key silently
    * opened gaps in the index — a hash draw mapped into a gap matched
    * nothing and a negative-sample slot vanished without a trace).
    * This is the scale-safe item-catalog indexer
    * ([[graft.operators.Training.negativeSample]] maps hash draws into
    * it): the catalog is the one "dimension" that genuinely grows into
    * the billions at 100 TB, so its index must never funnel through
    * one task. Worst case per task: one coarse cell's keys
    * (≤ catalog/1024 under an even key domain).
    */
  private[graft] def denseIndexOf(keys: DataFrame, keyName: String,
      idxName: String): DataFrame =
    RankPrefix.before(
      keys.select(col(keyName).cast("long").as("__k"))
        .groupBy("__k").agg(lit(1L).as("__cnt")), Nil, "__k", "__cnt")
      .select(col("__k").as(keyName), col("__cnt_before").as(idxName))

  /** SQL-exact ntile(`buckets`) of every row under (key ASC, tie ASC)
    * — computed WITHOUT a single-partition global sort. The
    * [[RankPrefix.before]] rank intervals of [[Stats.equidepthHist]],
    * extended to per-ROW assignment (a value that straddles a quartile
    * boundary is split among its customers by the custkey tie-break):
    *
    *  1. aggregate to (key, cnt) — one parallel shuffle on key —
    *     and rank intervals via [[RankPrefix.before]];
    *  2. each key's global rank interval [lo, lo+cnt) joins back
    *     (broadcastable offsets, key-partitioned ranks), a row's exact
    *     rank is lo + row_number within its key ordered by the tie
    *     column (partitioned window — worst case one task sorts one
    *     tied key's rows), and the score is the closed-form ntile
    *     bucket (first n mod B buckets take the extra row), with
    *     n = the input's row count attached as a broadcast 1-row
    *     aggregate (no driver count, no implicit column contract).
    */
  private[graft] def quartileScore(df: DataFrame, keyCol: Column, scoreName: String,
      tieCol: Column = col("o_custkey"), buckets: Int = 4): DataFrame = {
    val keyed = df.withColumn("__k", keyCol)
    val byVal = keyed.groupBy("__k").agg(count(lit(1)).as("__cnt"))
    val ranks = RankPrefix.before(byVal, Nil, "__k", "__cnt").select("__k", "__cnt_before")
    val nDf = byVal.agg(sum("__cnt").as("__n"))
    val wTie = Window.partitionBy("__k").orderBy(tieCol)
    keyed.join(ranks, Seq("__k"))
      .crossJoin(broadcast(nDf))
      .withColumn("__q", expr(s"__n DIV $buckets"))
      .withColumn("__rem", expr(s"__n % $buckets"))
      .withColumn("__rank", col("__cnt_before") + row_number().over(wTie))
      .withColumn(scoreName,
        RankPrefix.ntileBucket(col("__rank"), col("__q"), col("__rem")).cast("int"))
      .drop("__k", "__cnt_before", "__rank", "__n", "__q", "__rem")
  }

  /** RFM customer segmentation — the classic recsys-companion
    * analysis: per-customer Recency (days since last order, from the
    * corpus max date — deterministic "now"), Frequency (order count),
    * Monetary (total spend), each quartile-scored with exact SQL
    * ntile(4) semantics over a fully tie-broken order (scores are then
    * engine-independent row positions), rolled up to segment sizes.
    * The scoring goes through [[quartileScore]]'s distributed exact
    * rank — the naive formulation (three ntile windows with no
    * PARTITION BY) funnels the whole customer dimension through one
    * task three times, the one plan shape this suite bans at 100 TB.
    * Monetary ranks on the integer fixed-point of the already-rounded
    * spend (house rule: never order on an unrounded float), descending
    * dims negate their keys so every dimension ranks ascending.
    */
  def rfmSegments(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
    val nowDf = o.agg(max(to_date(col("o_orderdate"))).as("now_d"))
    val rfm = o.groupBy("o_custkey")
      .agg(max(to_date(col("o_orderdate"))).as("last_d"),
           count(lit(1)).as("f"),
           round(sum("o_totalprice"), 4).as("m"))
      .crossJoin(broadcast(nowDf))
      .withColumn("r_days", datediff(col("now_d"), col("last_d")))
      // severed once: three quartileScores reference this frame ~5×
      // each plus the score joins — without the checkpoint the orders
      // aggregate re-plans ~15× (r9s2 rescan sweep: orders×50 prints)
      .localCheckpoint()
    // one slim (custkey, score) frame per dimension, all derived from
    // the SAME base frame and joined back on the customer key. The
    // r7-original foldLeft CHAINED the layers, so layer k's rank
    // aggregates re-embedded layers 1..k-1 — ~5 subtree references per
    // layer compounding to a 467-exchange plan and a 14 s sf0.1 query;
    // independent derivation keeps the plan linear (0.7 s) and the
    // three custkey-keyed joins reuse one shuffle partitioning.
    val scored = Seq[(Column, String)](
      (col("r_days").cast("long"), "r_score"),
      (-col("f"), "f_score"),
      (-round(col("m") * 10000).cast("long"), "m_score"))
      .map { case (k, name) =>
        quartileScore(rfm, k, name).select(col("o_custkey"), col(name))
      }
      .foldLeft(rfm)((acc, s) => acc.join(s, "o_custkey"))
    scored.groupBy("r_score", "f_score", "m_score")
      .agg(count(lit(1)).as("n_customers"),
           round(avg("m"), 4).as("avg_monetary"),
           round(avg("f"), 4).as("avg_frequency"))
      .orderBy("r_score", "f_score", "m_score")
  }

  val rfmSegmentsSql: String =
    """WITH nowd AS (
      |  SELECT max(o_orderdate::DATE) AS now_d FROM orders
      |), rfm AS (
      |  SELECT o_custkey,
      |    datediff('day', max(o_orderdate::DATE), (SELECT now_d FROM nowd)) AS r_days,
      |    count(*) AS f,
      |    round(sum(o_totalprice), 4) AS m
      |  FROM orders GROUP BY o_custkey
      |), scored AS (
      |  SELECT o_custkey,
      |    ntile(4) OVER (ORDER BY r_days ASC, o_custkey ASC) AS r_score,
      |    ntile(4) OVER (ORDER BY f DESC, o_custkey ASC) AS f_score,
      |    ntile(4) OVER (ORDER BY m DESC, o_custkey ASC) AS m_score,
      |    m, f
      |  FROM rfm
      |)
      |SELECT r_score, f_score, m_score, count(*) AS n_customers,
      |  round(avg(m), 4) AS avg_monetary,
      |  round(avg(f), 4) AS avg_frequency
      |FROM scored
      |GROUP BY 1, 2, 3
      |ORDER BY 1, 2, 3""".stripMargin

  /** Full outer join (the one join shape the suite lacked): reconcile
    * monthly order revenue against monthly event activity — the
    * classic two-ledger comparison where EITHER side may have months
    * the other lacks (the fixtures' order dates and event timestamps
    * cover different eras, so both unmatched directions actually
    * occur). Shuffles both sides on month once; at scale both inputs
    * are pre-aggregated (tiny) before the join — never full-outer on
    * raw facts.
    */
  def fullOuterReconcile(spark: SparkSession, sfDir: String): DataFrame = {
    val om = Tables.orders(spark, sfDir)
      .withColumn("month", date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM"))
      .groupBy("month")
      .agg(count(lit(1)).as("n_orders"), round(sum("o_totalprice"), 4).as("revenue"))
    val em = Tables.events(spark, sfDir)
      .withColumn("month", date_format(date_trunc("month", col("ts")), "yyyy-MM"))
      .groupBy("month")
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 4).as("event_value"))
    om.join(em, Seq("month"), "full_outer")
      .select(col("month"),
              coalesce(col("n_orders"), lit(0L)).as("n_orders"),
              coalesce(col("revenue"), lit(0.0)).as("revenue"),
              coalesce(col("n_events"), lit(0L)).as("n_events"),
              coalesce(col("event_value"), lit(0.0)).as("event_value"),
              when(col("n_orders").isNotNull && col("n_events").isNotNull, "both")
                .when(col("n_orders").isNotNull, "orders_only")
                .otherwise("events_only").as("presence"))
      .orderBy("month")
  }

  val fullOuterReconcileSql: String =
    """WITH om AS (
      |  SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
      |    count(*) AS n_orders, round(sum(o_totalprice), 4) AS revenue
      |  FROM orders GROUP BY 1
      |), em AS (
      |  SELECT strftime(date_trunc('month', ts::TIMESTAMP), '%Y-%m') AS month,
      |    count(*) AS n_events, round(sum(value), 4) AS event_value
      |  FROM events GROUP BY 1
      |)
      |SELECT coalesce(om.month, em.month) AS month,
      |  coalesce(n_orders, 0) AS n_orders,
      |  coalesce(revenue, 0.0) AS revenue,
      |  coalesce(n_events, 0) AS n_events,
      |  coalesce(event_value, 0.0) AS event_value,
      |  CASE WHEN om.month IS NOT NULL AND em.month IS NOT NULL THEN 'both'
      |       WHEN om.month IS NOT NULL THEN 'orders_only'
      |       ELSE 'events_only' END AS presence
      |FROM om FULL OUTER JOIN em ON om.month = em.month
      |ORDER BY month""".stripMargin

  /** 1-in-N customer sample for the navigation-window query (bounds
    * output rows; the sample is keyed, so it is deterministic and the
    * oracle applies the identical predicate).
    */
  val NavSampleMod = 100

  /** Value-navigation window functions (W2 completion): first_value /
    * last_value / nth_value over the FULL partition frame (the default
    * running frame would make last_value ≡ current row), plus
    * percent_rank and cume_dist — per-customer order history, sampled
    * 1-in-[[NavSampleMod]] by key. One window spec, one sort shuffle.
    */
  def windowNavigation(spark: SparkSession, sfDir: String): DataFrame = {
    // navigation values need the whole partition visible; rank-fractions
    // use the default frame (they ignore frames by definition)
    val full = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val wPrice = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").asc, col("o_orderkey").asc)
    Tables.orders(spark, sfDir)
      .where(col("o_custkey") % NavSampleMod === 0)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
      .withColumn("first_price", first_value(col("o_totalprice")).over(full))
      .withColumn("last_price", last_value(col("o_totalprice")).over(full))
      .withColumn("second_price", nth_value(col("o_totalprice"), 2).over(full))
      .withColumn("pr", round(percent_rank().over(wPrice), 6))
      .withColumn("cd", round(cume_dist().over(wPrice), 6))
      .select("o_custkey", "o_orderkey", "o_totalprice",
              "first_price", "last_price", "second_price", "pr", "cd")
      .orderBy("o_custkey", "o_orderkey")
  }

  val windowNavigationSql: String =
    s"""SELECT o_custkey, o_orderkey, o_totalprice,
       |  first_value(o_totalprice) OVER wf AS first_price,
       |  last_value(o_totalprice)  OVER wf AS last_price,
       |  nth_value(o_totalprice, 2) OVER wf AS second_price,
       |  round(percent_rank() OVER wp, 6) AS pr,
       |  round(cume_dist()    OVER wp, 6) AS cd
       |FROM orders
       |WHERE o_custkey % $NavSampleMod = 0
       |WINDOW
       |  wf AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
       |         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING),
       |  wp AS (PARTITION BY o_custkey ORDER BY o_totalprice ASC, o_orderkey ASC)
       |ORDER BY o_custkey, o_orderkey""".stripMargin

  /** UNPIVOT / melt (the inverse of q_pivot_events): a wide per-nation
    * aggregate unpivoted to (nation, metric, value) rows via the
    * `stack` generator — Spark's native UNPIVOT surface. The oracle
    * spells it as UNION ALL, the dialect-portable equivalent.
    */
  def unpivotMetrics(spark: SparkSession, sfDir: String): DataFrame = {
    val wide = Tables.lineitem(spark, sfDir)
      .join(Tables.orders(spark, sfDir), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(spark, sfDir)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, sfDir)), col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(round(sum("l_quantity"), 4).as("sum_qty"),
           round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4).as("sum_revenue"),
           countDistinct(col("o_orderkey")).cast("double").as("n_orders"))
    wide.select(col("n_name"), expr(
        "stack(3, 'sum_qty', sum_qty, 'sum_revenue', sum_revenue, 'n_orders', n_orders) AS (metric, value)"))
      .orderBy("n_name", "metric")
  }

  val unpivotMetricsSql: String =
    """WITH wide AS (
      |  SELECT n_name,
      |    round(sum(l_quantity), 4) AS sum_qty,
      |    round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS sum_revenue,
      |    count(DISTINCT o_orderkey)::DOUBLE AS n_orders
      |  FROM lineitem
      |  JOIN orders   ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation   ON c_nationkey = n_nationkey
      |  GROUP BY n_name
      |)
      |SELECT n_name, metric, value FROM (
      |  SELECT n_name, 'sum_qty' AS metric, sum_qty AS value FROM wide
      |  UNION ALL
      |  SELECT n_name, 'sum_revenue', sum_revenue FROM wide
      |  UNION ALL
      |  SELECT n_name, 'n_orders', n_orders FROM wide
      |)
      |ORDER BY n_name, metric""".stripMargin

  /** Data-quality audit — the dbt-test-style assertion battery a
    * production pipeline runs before publishing a snapshot, as one
    * query: row counts, primary-key duplicate counts, referential-
    * integrity orphans across the star schema's join spine, null
    * counts on required measures, and domain-range violations. Every
    * metric is an exact integer. On these fixtures every check except
    * dup_lineitem_pk comes back 0 — the synthetic generator reuses
    * line numbers within an order, and surfacing that is exactly the
    * audit's job. Each check is a narrow aggregate or
    * broadcast/shuffle anti-join; at 100 TB the checks share the same
    * scans a real audit would batch together.
    */
  def dataQuality(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    val o = Tables.orders(spark, sfDir)
    val c = Tables.customer(spark, sfDir)
    val ev = Tables.events(spark, sfDir)
    // r10 rescan sever: the r9 form ran one scan PER CHECK (lineitem
    // ×6, orders ×3). Every lineitem check now rides ONE PK-grouped
    // pass — row totals and the value predicates as conditional sums,
    // duplicate keys as n > 1 groups, orphans as the null side of a
    // left join against the distinct order keys — and the orders
    // checks ride one (orderkey, custkey)-grouped pass the same way.
    // Identical values, one corpus scan per fact table.
    val liG = li.select("l_orderkey", "l_linenumber", "l_quantity", "l_discount")
      .groupBy("l_orderkey", "l_linenumber")
      .agg(count(lit(1)).as("n"),
           sum(when(col("l_quantity").isNull, 1L).otherwise(0L)).as("nullq"),
           sum(when(col("l_discount") < 0 || col("l_discount") > 1, 1L)
             .otherwise(0L)).as("badd"),
           sum(when(col("l_quantity") <= 0, 1L).otherwise(0L)).as("npq"))
    val liA = liG.join(o.select("o_orderkey").distinct(),
        liG("l_orderkey") === col("o_orderkey"), "left")
      .agg(sum("n").as("rows_lineitem"),
           sum(when(col("n") > 1, 1L).otherwise(0L)).as("dup_lineitem_pk"),
           sum(when(col("o_orderkey").isNull, col("n")).otherwise(0L)).as("orphan_lineitems"),
           sum("nullq").as("null_quantity"),
           sum("badd").as("discount_out_of_range"),
           sum("npq").as("nonpositive_quantity"))
    val oG = o.select("o_orderkey", "o_custkey")
      .groupBy("o_orderkey", "o_custkey").agg(count(lit(1)).as("n"))
      .join(c.select("c_custkey").distinct(),
        col("o_custkey") === col("c_custkey"), "left")
      .groupBy("o_orderkey")
      .agg(sum("n").as("n"),
           sum(when(col("c_custkey").isNull, col("n")).otherwise(0L)).as("orph"))
    val oA = oG.agg(sum("n").as("rows_orders"),
           sum(when(col("n") > 1, 1L).otherwise(0L)).as("dup_orders_pk"),
           sum("orph").as("orphan_orders"))
    val evA = ev.agg(sum(when(col("value").isNull, 1L).otherwise(0L))
      .as("null_event_value"))
    liA.crossJoin(oA).crossJoin(evA)
      .select(expr(
        """stack(10,
          |  'rows_lineitem', rows_lineitem,
          |  'rows_orders', rows_orders,
          |  'dup_orders_pk', dup_orders_pk,
          |  'dup_lineitem_pk', dup_lineitem_pk,
          |  'orphan_lineitems', orphan_lineitems,
          |  'orphan_orders', orphan_orders,
          |  'null_quantity', null_quantity,
          |  'null_event_value', null_event_value,
          |  'discount_out_of_range', discount_out_of_range,
          |  'nonpositive_quantity', nonpositive_quantity
          |) AS (check_name, value)""".stripMargin))
      .select(col("check_name"), coalesce(col("value"), lit(0L)).as("value"))
      .orderBy("check_name")
  }

  val dataQualitySql: String =
    """SELECT check_name, value FROM (
      |  SELECT 'rows_lineitem' AS check_name, count(*)::BIGINT AS value FROM lineitem
      |  UNION ALL SELECT 'rows_orders', count(*) FROM orders
      |  UNION ALL SELECT 'dup_orders_pk', count(*) FROM (
      |    SELECT o_orderkey FROM orders GROUP BY o_orderkey HAVING count(*) > 1)
      |  UNION ALL SELECT 'dup_lineitem_pk', count(*) FROM (
      |    SELECT l_orderkey, l_linenumber FROM lineitem
      |    GROUP BY l_orderkey, l_linenumber HAVING count(*) > 1)
      |  UNION ALL SELECT 'orphan_lineitems', count(*) FROM lineitem l
      |    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
      |  UNION ALL SELECT 'orphan_orders', count(*) FROM orders o
      |    WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
      |  UNION ALL SELECT 'null_quantity', count(*) FROM lineitem WHERE l_quantity IS NULL
      |  UNION ALL SELECT 'null_event_value', count(*) FROM events WHERE value IS NULL
      |  UNION ALL SELECT 'discount_out_of_range', count(*) FROM lineitem
      |    WHERE l_discount < 0 OR l_discount > 1
      |  UNION ALL SELECT 'nonpositive_quantity', count(*) FROM lineitem WHERE l_quantity <= 0
      |)
      |ORDER BY check_name""".stripMargin

  /** Days after order date beyond which a shipment counts as late. */
  val LateDays = 60

  /** Late-shipment SLA report (the TPC-H Q4 shape on this schema):
    * orders counted by priority when AT LEAST ONE lineitem shipped
    * more than [[LateDays]] days after the order date — an existence
    * predicate, so the lineitem side enters through a LEFT SEMI join
    * (never multiplying order rows by their line count), with the
    * date residual evaluated inside the join. Share is late orders
    * over all orders of the priority.
    */
  def lateShipments(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_orderdate"))
    val l = Tables.lineitem(spark, sfDir).select(col("l_orderkey"), col("l_shipdate"))
    val late = o.join(l,
        o("o_orderkey") === l("l_orderkey") &&
          l("l_shipdate") > o("o_orderdate") + expr(s"interval $LateDays days"),
        "left_semi")
      .groupBy("o_orderpriority").agg(count(lit(1)).as("n_late"))
    val all = o.groupBy("o_orderpriority").agg(count(lit(1)).as("n_orders"))
    all.join(late, Seq("o_orderpriority"), "left")
      .withColumn("n_late", coalesce(col("n_late"), lit(0L)))
      .withColumn("late_share", round(col("n_late") / col("n_orders"), 6))
      .orderBy("o_orderpriority")
  }

  val lateShipmentsSql: String =
    s"""WITH late AS (
       |  SELECT o_orderpriority, count(*) AS n_late
       |  FROM orders o
       |  WHERE EXISTS (
       |    SELECT 1 FROM lineitem l
       |    WHERE l.l_orderkey = o.o_orderkey
       |      AND l.l_shipdate > o.o_orderdate + INTERVAL $LateDays DAY)
       |  GROUP BY o_orderpriority
       |), alls AS (
       |  SELECT o_orderpriority, count(*) AS n_orders FROM orders GROUP BY o_orderpriority
       |)
       |SELECT a.o_orderpriority, a.n_orders,
       |  coalesce(late.n_late, 0)::BIGINT AS n_late,
       |  round(coalesce(late.n_late, 0) / a.n_orders::DOUBLE, 6) AS late_share
       |FROM alls a LEFT JOIN late ON late.o_orderpriority = a.o_orderpriority
       |ORDER BY a.o_orderpriority""".stripMargin

  /** Suppliers reported per part by the market-share query. */
  val ShareTopSuppliers = 3

  /** Supplier market share within part — the ratio-to-report window
    * idiom: per (part, supplier) revenue, each supplier's share of the
    * part's total via a partition-total window (no self-join back to
    * the aggregate), top [[ShareTopSuppliers]] suppliers per part for
    * the first 25 parts. Revenue sums are rounded BEFORE the share
    * division, so both engines divide identical numerators.
    */
  def supplierShare(spark: SparkSession, sfDir: String): DataFrame = {
    val rev = Tables.lineitem(spark, sfDir)
      .where(col("l_partkey") < 25)
      .groupBy("l_partkey", "l_suppkey")
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4).as("revenue"))
    val w = Window.partitionBy("l_partkey")
    val wr = Window.partitionBy("l_partkey").orderBy(col("revenue").desc, col("l_suppkey").asc)
    rev.withColumn("part_total", round(sum("revenue").over(w), 4))
      .withColumn("share", round(col("revenue") / col("part_total"), 6))
      .withColumn("rk", row_number().over(wr))
      .where(col("rk") <= ShareTopSuppliers)
      .select("l_partkey", "rk", "l_suppkey", "revenue", "part_total", "share")
      .orderBy("l_partkey", "rk")
  }

  val supplierShareSql: String =
    s"""WITH rev AS (
       |  SELECT l_partkey, l_suppkey,
       |    round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS revenue
       |  FROM lineitem WHERE l_partkey < 25
       |  GROUP BY l_partkey, l_suppkey
       |), shared AS (
       |  SELECT l_partkey, l_suppkey, revenue,
       |    round(sum(revenue) OVER (PARTITION BY l_partkey), 4) AS part_total,
       |    row_number() OVER (PARTITION BY l_partkey
       |                       ORDER BY revenue DESC, l_suppkey ASC) AS rk
       |  FROM rev
       |)
       |SELECT l_partkey, rk, l_suppkey, revenue, part_total,
       |  round(revenue / part_total, 6) AS share
       |FROM shared WHERE rk <= $ShareTopSuppliers
       |ORDER BY l_partkey, rk""".stripMargin

  /** LATERAL join top-N: for each nation, its top-2 customers by
    * account balance through a correlated LATERAL subquery with ORDER
    * BY + LIMIT — the planner surface (Catalyst's LateralJoin +
    * decorrelation) that per-key lookup queries use, distinct from the
    * window-function formulation of W1. DuckDB runs the identical SQL.
    */
  def lateralTopN(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.nation(spark, sfDir).createOrReplaceTempView("nation")
    Tables.customer(spark, sfDir).createOrReplaceTempView("customer")
    spark.sql(
      s"""SELECT n.n_name, t.c_name, t.c_acctbal
         |FROM nation n
         |JOIN LATERAL (
         |  SELECT c_name, round(c_acctbal, 2) AS c_acctbal
         |  FROM customer c
         |  WHERE c.c_nationkey = n.n_nationkey
         |  ORDER BY c_acctbal DESC, c_name ASC
         |  LIMIT 2
         |) t
         |ORDER BY n.n_name, t.c_acctbal DESC, t.c_name""".stripMargin)
  }

  val lateralTopNSql: String =
    """SELECT n.n_name, t.c_name, t.c_acctbal
      |FROM nation n
      |JOIN LATERAL (
      |  SELECT c_name, round(c_acctbal, 2) AS c_acctbal
      |  FROM customer c
      |  WHERE c.c_nationkey = n.n_nationkey
      |  ORDER BY c_acctbal DESC, c_name ASC
      |  LIMIT 2
      |) t ON true
      |ORDER BY n.n_name, t.c_acctbal DESC, t.c_name""".stripMargin

  /** Multiset set ops (U2/U3 ALL-variants): each user's view events
    * EXCEPT ALL their click events — bag semantics, so a user with 7
    * views and 3 clicks keeps 4 rows (the DISTINCT variants in
    * q_setops_users can't express "how many more"). Summarized as
    * per-user surplus buckets.
    */
  def setopsAll(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val views = ev.where(col("event_type") === "view").select("user_id")
    val clicks = ev.where(col("event_type") === "click").select("user_id")
    views.exceptAll(clicks)
      .groupBy("user_id").agg(count(lit(1)).as("surplus"))
      .groupBy("surplus").agg(count(lit(1)).as("n_users"), sum("user_id").as("user_checksum"))
      .orderBy("surplus")
  }

  val setopsAllSql: String =
    """WITH surplus AS (
      |  SELECT user_id, count(*) AS surplus FROM (
      |    SELECT user_id FROM events WHERE event_type = 'view'
      |    EXCEPT ALL
      |    SELECT user_id FROM events WHERE event_type = 'click'
      |  )
      |  GROUP BY user_id
      |)
      |SELECT surplus, count(*) AS n_users, sum(user_id)::BIGINT AS user_checksum
      |FROM surplus
      |GROUP BY surplus
      |ORDER BY surplus""".stripMargin

  /** Month-over-month growth: monthly order revenue with lag-based
    * deltas and growth rates — the standard trend-report shape (lag
    * over an already-aggregated series, so the window runs on ~months
    * rows, not the fact table). Revenue is rounded BEFORE the delta
    * and ratio so both engines difference identical numbers; first
    * month's growth is null by construction.
    */
  def momGrowth(spark: SparkSession, sfDir: String): DataFrame = {
    val monthly = Tables.orders(spark, sfDir)
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg(count(lit(1)).as("n_orders"), round(sum("o_totalprice"), 2).as("revenue"))
    val w = Window.orderBy("month")
    monthly
      .withColumn("prev_revenue", lag("revenue", 1).over(w))
      .withColumn("delta", round(col("revenue") - col("prev_revenue"), 2))
      .withColumn("growth_pct",
        round((col("revenue") - col("prev_revenue")) / col("prev_revenue") * 100, 4))
      .select("month", "n_orders", "revenue", "delta", "growth_pct")
      .orderBy("month")
  }

  val momGrowthSql: String =
    """WITH monthly AS (
      |  SELECT strftime(o_orderdate, '%Y-%m') AS month,
      |    count(*) AS n_orders, round(sum(o_totalprice), 2) AS revenue
      |  FROM orders GROUP BY 1
      |)
      |SELECT month, n_orders, revenue,
      |  round(revenue - lag(revenue, 1) OVER (ORDER BY month), 2) AS delta,
      |  round((revenue - lag(revenue, 1) OVER (ORDER BY month))
      |        / lag(revenue, 1) OVER (ORDER BY month) * 100, 4) AS growth_pct
      |FROM monthly
      |ORDER BY month""".stripMargin

  /** Day-of-week seasonality profile: order volume and revenue by ISO
    * weekday (1 = Monday), with each day's share of the total — the
    * staffing/capacity report. ISO numbering because the engines'
    * default dow functions disagree on week start (Spark `weekday` is
    * 0-Monday, DuckDB `dow` is 0-Sunday; `weekday+1` = `isodow` on
    * both sides of the oracle).
    */
  def dowProfile(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.orders(spark, sfDir)
      .groupBy((weekday(col("o_orderdate")) + 1).as("iso_dow"))
      .agg(count(lit(1)).as("n_orders"), round(sum("o_totalprice"), 2).as("revenue"))
    val total = daily.agg(sum("n_orders").as("total_orders"))
    daily.crossJoin(broadcast(total))
      .withColumn("order_share", round(col("n_orders") / col("total_orders"), 6))
      .select("iso_dow", "n_orders", "revenue", "order_share")
      .orderBy("iso_dow")
  }

  val dowProfileSql: String =
    """WITH daily AS (
      |  SELECT isodow(o_orderdate)::INT AS iso_dow,
      |    count(*) AS n_orders, round(sum(o_totalprice), 2) AS revenue
      |  FROM orders GROUP BY 1
      |)
      |SELECT iso_dow, n_orders, revenue,
      |  round(n_orders / (SELECT sum(n_orders)::DOUBLE FROM daily), 6) AS order_share
      |FROM daily
      |ORDER BY iso_dow""".stripMargin

  /** Floor on item buyers for the reorder report. */
  val ReorderMinUsers = 5
  /** Items reported. */
  val ReorderTop = 25

  /** Item reorder rate — share of an item's buyers who purchased it in
    * MORE THAN ONE distinct order (the Instacart-style repeat-purchase
    * signal that separates staples from one-off buys; a strong feature
    * for any recommend ranker). Two exact aggregates over the
    * interaction join, support-floored at [[ReorderMinUsers]] buyers.
    */
  def reorderRate(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir).select("o_orderkey", "o_custkey")
    val l = Tables.lineitem(spark, sfDir).select("l_orderkey", "l_partkey")
    val perUserItem = l.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey").as("user_id"), col("l_partkey").as("item_id"))
      .agg(countDistinct(col("o_orderkey")).as("n_orders"))
    val top = perUserItem.groupBy("item_id")
      .agg(count(lit(1)).as("n_users"),
           sum((col("n_orders") >= 2).cast("long")).as("n_repeat_users"))
      .where(col("n_users") >= ReorderMinUsers)
      .withColumn("reorder_rate", round(col("n_repeat_users") / col("n_users"), 6))
      .orderBy(col("reorder_rate").desc, col("item_id").asc)
      .limit(ReorderTop)
    top.withColumn("rk", row_number().over(
        Window.orderBy(col("reorder_rate").desc, col("item_id").asc)))
      .select("rk", "item_id", "n_users", "n_repeat_users", "reorder_rate")
      .orderBy("rk")
  }

  val reorderRateSql: String =
    s"""WITH per_user_item AS (
       |  SELECT o_custkey AS user_id, l_partkey AS item_id,
       |    count(DISTINCT o_orderkey) AS n_orders
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  GROUP BY 1, 2
       |), items AS (
       |  SELECT item_id, count(*) AS n_users,
       |    sum(CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_repeat_users
       |  FROM per_user_item GROUP BY item_id
       |  HAVING count(*) >= $ReorderMinUsers
       |)
       |SELECT rk, item_id, n_users, n_repeat_users, reorder_rate FROM (
       |  SELECT item_id, n_users, n_repeat_users,
       |    round(n_repeat_users / n_users::DOUBLE, 6) AS reorder_rate,
       |    row_number() OVER (ORDER BY round(n_repeat_users / n_users::DOUBLE, 6) DESC,
       |                       item_id ASC) AS rk
       |  FROM items
       |) WHERE rk <= $ReorderTop
       |ORDER BY rk""".stripMargin

  /** Dead-stock report: catalog parts never purchased (anti join from
    * the dim side against the fact), profiled by brand — the inverse
    * of every popularity query, and the inventory question "what do we
    * carry that nobody buys". Share is dead parts over the brand's
    * catalog size.
    */
  def deadStock(spark: SparkSession, sfDir: String): DataFrame = {
    val p = Tables.part(spark, sfDir).select("p_partkey", "p_brand", "p_retailprice")
    val sold = Tables.lineitem(spark, sfDir).select(col("l_partkey").as("p_partkey")).distinct()
    val dead = p.join(sold, Seq("p_partkey"), "left_anti")
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n_dead"),
           round(avg("p_retailprice"), 4).as("avg_dead_price"))
    val catalog = p.groupBy("p_brand").agg(count(lit(1)).as("n_catalog"))
    catalog.join(dead, Seq("p_brand"), "left")
      .withColumn("n_dead", coalesce(col("n_dead"), lit(0L)))
      .withColumn("dead_share", round(col("n_dead") / col("n_catalog"), 6))
      .select("p_brand", "n_catalog", "n_dead", "avg_dead_price", "dead_share")
      .orderBy("p_brand")
  }

  val deadStockSql: String =
    """WITH sold AS (
      |  SELECT DISTINCT l_partkey FROM lineitem
      |), dead AS (
      |  SELECT p_brand, count(*) AS n_dead,
      |    round(avg(p_retailprice), 4) AS avg_dead_price
      |  FROM part p
      |  WHERE NOT EXISTS (SELECT 1 FROM sold s WHERE s.l_partkey = p.p_partkey)
      |  GROUP BY p_brand
      |), catalog AS (
      |  SELECT p_brand, count(*) AS n_catalog FROM part GROUP BY p_brand
      |)
      |SELECT c.p_brand, c.n_catalog,
      |  coalesce(d.n_dead, 0)::BIGINT AS n_dead,
      |  d.avg_dead_price,
      |  round(coalesce(d.n_dead, 0) / c.n_catalog::DOUBLE, 6) AS dead_share
      |FROM catalog c LEFT JOIN dead d ON d.p_brand = c.p_brand
      |ORDER BY c.p_brand""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_dead_stock", deadStock _, Some(deadStockSql)),
    QuerySpec("q_dow_profile", dowProfile _, Some(dowProfileSql)),
    QuerySpec("q_reorder_rate", reorderRate _, Some(reorderRateSql)),
    QuerySpec("q_mom_growth", momGrowth _, Some(momGrowthSql)),
    QuerySpec("q_lateral_topn", lateralTopN _, Some(lateralTopNSql)),
    QuerySpec("q_setops_all", setopsAll _, Some(setopsAllSql)),
    QuerySpec("q_late_shipments", lateShipments _, Some(lateShipmentsSql)),
    QuerySpec("q_supplier_share", supplierShare _, Some(supplierShareSql)),
    QuerySpec("q_data_quality", dataQuality _, Some(dataQualitySql)),
    QuerySpec("q_window_navigation", windowNavigation _, Some(windowNavigationSql)),
    QuerySpec("q_unpivot_metrics", unpivotMetrics _, Some(unpivotMetricsSql)),
    QuerySpec("q_full_outer_reconcile", fullOuterReconcile _, Some(fullOuterReconcileSql)),
    QuerySpec("q_rfm_segments", rfmSegments _, Some(rfmSegmentsSql)),
    QuerySpec("q_scalar_subquery", ordersAboveCustAvg _, Some(ordersAboveCustAvgSql)),
    QuerySpec("q_percentiles", pricePercentiles _, Some(pricePercentilesSql)),
    QuerySpec("q_salted_agg", saltedEventStats _, Some(saltedEventStatsSql)),
    QuerySpec("q_pricing_summary", pricingSummary _, Some(pricingSummarySql)),
    QuerySpec("q_revenue_by_nation", revenueByNation _, Some(revenueByNationSql)),
    QuerySpec("q_top_customers", topCustomers _, Some(topCustomersSql)),
    QuerySpec("q_customer_order_counts", customerOrderCounts _, Some(customerOrderCountsSql)),
    QuerySpec("q_semi_big_spenders", bigSpenders _, Some(bigSpendersSql)),
    QuerySpec("q_anti_parts_not_shipped", partsNotShipped1998 _, Some(partsNotShipped1998Sql)),
    QuerySpec("q_range_event_attribution", eventOrderAttribution _, Some(eventOrderAttributionSql)),
    QuerySpec("q_cross_nation_event_grid", nationEventGrid _, Some(nationEventGridSql)),
    QuerySpec("q_rollup_revenue", revenueRollup _, Some(revenueRollupSql)),
    QuerySpec("q_grouping_sets", orderGroupingSets _, Some(orderGroupingSetsSql)),
    QuerySpec("q_cube_orders", ordersCube _, Some(ordersCubeSql)),
    QuerySpec("q_pivot_events", eventPivot _, Some(eventPivotSql)),
    QuerySpec("q_window_top_parts", topPartsPerBrand _, Some(topPartsPerBrandSql)),
    QuerySpec("q_window_running_revenue", runningRevenue _, Some(runningRevenueSql)),
    QuerySpec("q_window_event_gaps", eventGaps _, Some(eventGapsSql)),
    QuerySpec("q_window_range_frame", rangeFrameStats _, Some(rangeFrameStatsSql)),
    QuerySpec("q_window_sessions", sessionStats _, Some(sessionStatsSql)),
    QuerySpec("q_window_ranks", nationRevenueRanks _, Some(nationRevenueRanksSql)),
    QuerySpec("q_setops_users", setOpsUsers _, Some(setOpsUsersSql)),
    QuerySpec("q_event_type_stats", eventTypeStats _, Some(eventTypeStatsSql)),
    // no oracle by design (HLL estimates are engine-specific)
    QuerySpec("q_approx_distinct", approxDistinctUsers _, None),
    QuerySpec("q_sketch_distinct", sketchDistinct _, Some(sketchDistinctSql)),
    QuerySpec("q_orders_by_month", ordersByMonth _, Some(ordersByMonthSql)),
    QuerySpec("q_json_props", jsonPropsStats _, Some(jsonPropsStatsSql)),
    QuerySpec("q_variant_props", variantProps _, Some(variantPropsSql)),
    QuerySpec("q_implicit_preference", implicitPreference _, Some(implicitPreferenceSql)),
    QuerySpec("q_null_handling", nullHandling _, Some(nullHandlingSql)),
    QuerySpec("q_map_column", mapColumnStats _, Some(mapColumnStatsSql)),
    QuerySpec("q_top_lineitems", topLineitems _, Some(topLineitemsSql)),
  )
}
