package graft.operators

import graft.{QueryFamily, QuerySpec, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of (point-in-time) join — the classic operator relational engines
  * bolt on for time-series enrichment: each left row picks the most
  * recent right row with right.time <= left.time for the same key.
  *
  * Spark-first design (SURVEY.md custom-operator preference order,
  * tier (a) compose): the scalable formulation is NOT a join at all but
  * a tagged UNION + one window pass —
  *
  *   union(right tagged 0, left tagged 1)
  *     sorted within key by (time, tag)
  *     carry forward the last non-null right payload
  *     keep left rows
  *
  * One shuffle on the key, no pair blowup, no range-join nested loop;
  * skew follows the key distribution exactly like any window. This is
  * how a 100 TB backfill does point-in-time correctness (a custom
  * SparkPlan would re-implement precisely this sort-merge).
  *
  * Determinism: right rows are expected unique per (key, time) —
  * deduplicate first (the query below keeps max orderkey per tie), or
  * ties would be resolved arbitrarily in ANY engine. At equal
  * timestamps the right row sorts before the left row (tag order), so
  * the match condition is the inclusive right.time <= left.time —
  * matching DuckDB's `ASOF JOIN ... ON l.t >= r.t` oracle exactly.
  */
object AsOf extends QueryFamily {

  /** Generic as-of join.
    *
    * @param left         rows to enrich
    * @param right        versioned reference rows (unique per key+time)
    * @param leftKey      join key column in `left`
    * @param rightKey     join key column in `right`
    * @param leftTimeUs   µs-epoch time column in `left`
    * @param rightTimeUs  µs-epoch time column in `right`
    * @param toleranceUs  optional max age: matches further away than
    *                     this (in the match direction) are nulled
    * @param direction    "backward" (default): most recent right row
    *                     with right.time <= left.time — or "forward":
    *                     earliest right row with right.time >=
    *                     left.time (pandas merge_asof parity; both
    *                     inclusive). Same tagged-union single-window
    *                     plan either way, only the sort order flips.
    * @return all `left` columns plus `right`'s non-key payload columns
    *         (null where no right row is at or before/after the left time)
    */
  def asofJoin(left: DataFrame, right: DataFrame,
               leftKey: String, rightKey: String,
               leftTimeUs: String, rightTimeUs: String,
               toleranceUs: Option[Long] = None,
               direction: String = "backward"): DataFrame = {
    require(direction == "backward" || direction == "forward",
      s"asofJoin direction must be backward|forward, got $direction")
    val backward = direction == "backward"
    val rightPayloadCols = right.columns.filterNot(c => c == rightKey).toSeq
    val rightStruct = struct(rightPayloadCols.map(col): _*)
    val rightStructType = right.select(rightStruct).schema.head.dataType
    val leftStructType = left.select(struct(left.columns.toIndexedSeq.map(col): _*)).schema.head.dataType

    val taggedRight = right.select(
      col(rightKey).as("__k"), col(rightTimeUs).cast("long").as("__t"),
      lit(0).as("__tag"),
      lit(null).cast(leftStructType).as("__left_row"),
      rightStruct.as("__right_row"))
    val taggedLeft = left.select(
      col(leftKey).as("__k"), col(leftTimeUs).cast("long").as("__t"),
      lit(1).as("__tag"), struct(left.columns.toIndexedSeq.map(col): _*).as("__left_row"),
      lit(null).cast(rightStructType).as("__right_row"))

    // backward: sweep times ascending, carry the last right row seen;
    // forward: sweep descending, so "last seen" is the nearest FUTURE
    // right row. Tag order keeps equal-time right rows visible to the
    // left row in both directions (inclusive match).
    val w = Window.partitionBy(col("__k"))
      .orderBy(if (backward) col("__t").asc else col("__t").desc, col("__tag").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val matched = taggedRight.unionByName(taggedLeft)
      .withColumn("__match", last(col("__right_row"), ignoreNulls = true).over(w))
      .where(col("__tag") === 1)

    val aged = toleranceUs match {
      case Some(tol) =>
        val age =
          if (backward) col("__t") - col("__match")(rightTimeUs).cast("long")
          else col("__match")(rightTimeUs).cast("long") - col("__t")
        matched.withColumn("__match", when(age <= tol, col("__match")))
      case None => matched
    }
    val leftCols = left.columns.toSeq.map(c => col(s"__left_row.$c").as(c))
    val rightCols = rightPayloadCols.map(c => col(s"__match.$c").as(c))
    aged.select(leftCols ++ rightCols: _*)
  }

  /** Point-in-time enrichment query: each purchase event gets the most
    * recent order (by orderdate, inclusive) of the same customer, plus
    * the age of that order in whole days. Ties (several orders on the
    * same date) are pre-resolved to the max orderkey, which is what
    * makes the as-of deterministic in both engines.
    */
  def asofEventOrder(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.events(spark, sfDir)
      .where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("e_us"))
    val r = Tables.orders(spark, sfDir)
      .groupBy(col("o_custkey"), col("o_orderdate"))
      .agg(max("o_orderkey").as("o_orderkey"))
      .select(col("o_custkey"), col("o_orderkey"), unix_micros(col("o_orderdate").cast("timestamp")).as("o_us"))
    asofJoin(e, r, leftKey = "user_id", rightKey = "o_custkey",
             leftTimeUs = "e_us", rightTimeUs = "o_us")
      .select(col("event_id"), col("user_id"), col("o_orderkey"),
              expr("CASE WHEN o_orderkey IS NULL THEN NULL ELSE (e_us - o_us) div 86400000000 END").as("gap_days"))
      .orderBy("event_id")
  }

  val asofEventOrderSql: String =
    """WITH r AS (
      |  SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey,
      |    epoch_us(o_orderdate) AS o_us
      |  FROM orders GROUP BY o_custkey, o_orderdate
      |), e AS (
      |  SELECT event_id, user_id, ts::TIMESTAMP AS ts, epoch_us(ts::TIMESTAMP) AS e_us
      |  FROM events WHERE event_type = 'purchase'
      |)
      |SELECT e.event_id, e.user_id, r.o_orderkey,
      |  CASE WHEN r.o_orderkey IS NULL THEN NULL
      |       ELSE (e.e_us - r.o_us) // 86400000000 END AS gap_days
      |FROM e ASOF LEFT JOIN r ON e.user_id = r.o_custkey AND e.ts >= r.o_orderdate
      |ORDER BY event_id""".stripMargin

  /** Forward as-of: each purchase event picks the customer's EARLIEST
    * order at-or-after the event — the "next fulfillment" lookup, the
    * mirror of [[asofEventOrder]] (same tie pre-resolution, same
    * single-window plan with the sweep reversed). Gap is days from
    * event to that order.
    */
  def asofNextOrder(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.events(spark, sfDir)
      .where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("e_us"))
    val r = Tables.orders(spark, sfDir)
      .groupBy(col("o_custkey"), col("o_orderdate"))
      .agg(max("o_orderkey").as("o_orderkey"))
      .select(col("o_custkey"), col("o_orderkey"),
              unix_micros(col("o_orderdate").cast("timestamp")).as("o_us"))
    asofJoin(e, r, leftKey = "user_id", rightKey = "o_custkey",
             leftTimeUs = "e_us", rightTimeUs = "o_us", direction = "forward")
      .select(col("event_id"), col("user_id"), col("o_orderkey"),
              expr("CASE WHEN o_orderkey IS NULL THEN NULL ELSE (o_us - e_us) div 86400000000 END").as("gap_days"))
      .orderBy("event_id")
  }

  val asofNextOrderSql: String =
    """WITH r AS (
      |  SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey,
      |    epoch_us(o_orderdate) AS o_us
      |  FROM orders GROUP BY o_custkey, o_orderdate
      |), e AS (
      |  SELECT event_id, user_id, ts::TIMESTAMP AS ts, epoch_us(ts::TIMESTAMP) AS e_us
      |  FROM events WHERE event_type = 'purchase'
      |)
      |SELECT e.event_id, e.user_id, r.o_orderkey,
      |  CASE WHEN r.o_orderkey IS NULL THEN NULL
      |       ELSE (r.o_us - e.e_us) // 86400000000 END AS gap_days
      |FROM e ASOF LEFT JOIN r ON e.user_id = r.o_custkey AND e.ts <= r.o_orderdate
      |ORDER BY event_id""".stripMargin

  /** SCD2 history construction: turn a change log into type-2
    * slowly-changing-dimension rows — the warehouse operator every
    * dimension load runs. Source: each customer's order-priority
    * signal over time (the max-orderkey order wins a same-day tie,
    * the as-of determinism idiom above). Steps, all window passes over
    * one customer-partitioned sort:
    *   1. compress consecutive duplicates (a "change" row survives only
    *      if the attribute differs from the previous one — without this
    *      the dimension bloats with no-op versions);
    *   2. validity intervals: valid_from = change date,
    *      valid_to = next change's date (NULL = open);
    *   3. version numbers and the is_current flag.
    *
    * Scale shape: ONE shuffle on custkey serves all three window steps
    * (same partitioning, Catalyst collapses them into a single sort);
    * no join, no self-join against the snapshot — the change log never
    * leaves its partition. At 100 TB this is the difference between an
    * SCD2 load that runs and one that cross-joins history.
    */
  def scd2History(spark: SparkSession, sfDir: String): DataFrame = {
    // the day-tiebreak ALSO rides the custkey-only partitioning: within
    // a (change_date, orderkey)-sorted custkey window, the last row of
    // each day IS the max-orderkey row — partitioning by (custkey, day)
    // instead would cost a second shuffle the later windows can't reuse
    val byCustDay = Window.partitionBy("custkey")
      .orderBy(col("change_date").asc, col("okey").asc)
    val byCust = Window.partitionBy("custkey").orderBy("change_date")
    val daily = Tables.orders(spark, sfDir)
      .select(col("o_custkey").as("custkey"),
              col("o_orderdate").as("change_date"),
              col("o_orderpriority").as("priority"),
              col("o_orderkey").as("okey"))
      .withColumn("nxt", lead("change_date", 1).over(byCustDay))
      .where(col("nxt").isNull || col("nxt") =!= col("change_date"))
    daily
      .withColumn("prev", lag("priority", 1).over(byCust))
      .where(col("prev").isNull || col("prev") =!= col("priority"))
      .withColumn("version", row_number().over(byCust))
      .withColumn("valid_to_d", lead("change_date", 1).over(byCust))
      .select(col("custkey"), col("version"), col("priority"),
              date_format(col("change_date"), "yyyy-MM-dd").as("valid_from"),
              date_format(col("valid_to_d"), "yyyy-MM-dd").as("valid_to"),
              when(col("valid_to_d").isNull, 1L).otherwise(0L).as("is_current"))
      .orderBy("custkey", "version")
  }

  val scd2HistorySql: String =
    """WITH daily AS (
      |  SELECT o_custkey AS custkey, o_orderdate AS change_date,
      |    o_orderpriority AS priority
      |  FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey, o_orderdate
      |                                     ORDER BY o_orderkey DESC) AS rn
      |        FROM orders)
      |  WHERE rn = 1
      |), chg AS (
      |  SELECT custkey, change_date, priority,
      |    lag(priority) OVER (PARTITION BY custkey ORDER BY change_date) AS prev
      |  FROM daily
      |  QUALIFY prev IS NULL OR prev <> priority
      |), v AS (
      |  SELECT custkey, priority, change_date,
      |    row_number() OVER w AS version,
      |    lead(change_date) OVER w AS valid_to_d
      |  FROM chg
      |  WINDOW w AS (PARTITION BY custkey ORDER BY change_date)
      |)
      |SELECT custkey, version, priority,
      |  strftime(change_date, '%Y-%m-%d') AS valid_from,
      |  strftime(valid_to_d, '%Y-%m-%d') AS valid_to,
      |  CASE WHEN valid_to_d IS NULL THEN 1 ELSE 0 END AS is_current
      |FROM v
      |ORDER BY custkey, version""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_asof_event_order", asofEventOrder _, Some(asofEventOrderSql)),
    QuerySpec("q_asof_next_order", asofNextOrder _, Some(asofNextOrderSql)),
    QuerySpec("q_scd2_history", scd2History _, Some(scd2HistorySql)),
  )
}
