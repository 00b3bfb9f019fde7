package graft.streaming

import graft.{QueryFamily, QuerySpec, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Streaming-shaped operators over `events` (SURVEY.md §2.11 T1–T10).
  *
  * Each transform is declared ONCE over a plain DataFrame and used by
  * two runners:
  *   - the batch queries below (driver-verifiable against DuckDB);
  *   - Structured Streaming twins in StreamingSpec, which feed the same
  *     transform from a MemoryStream with a watermark and assert the
  *     final state equals the batch result on identical input.
  * That single-plan/two-runners split is exactly how Structured
  * Streaming is meant to be deployed at scale: the batch plan IS the
  * backfill job, the stream the incremental one, and neither can drift
  * because there is one transform definition.
  *
  * Scale notes: tumbling/sliding aggregation is per-(window,key) state
  * with watermark-bounded retention; session windows keep one open
  * session per user; dedup state is bounded by the watermark horizon.
  * All shuffles key on (window/user) — the same partitioning a
  * 1000-executor stream would use.
  */
object Streams extends QueryFamily {

  /** T1 tumbling 1-hour window aggregate per event_type. */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 4).as("sum_value"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
              col("event_type"), col("n_events"), col("sum_value"))

  def tumblingQuery(spark: SparkSession, sfDir: String): DataFrame =
    tumblingCounts(Tables.events(spark, sfDir))
      .orderBy("window_start", "event_type")

  val tumblingSql: String =
    """SELECT strftime(time_bucket(INTERVAL '1 hour', ts::TIMESTAMP, TIMESTAMP '1970-01-01 00:00:00'), '%Y-%m-%d %H:%M:%S') AS window_start,
      |  event_type, count(*) AS n_events, round(sum(value), 4) AS sum_value
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY window_start, event_type""".stripMargin

  /** T1b tumbling distinct users: per 6-hour window, the distinct
    * active users and their event volume — the windowed-cardinality
    * report a live dashboard serves. Batch uses exact countDistinct;
    * the STREAMING twin of this shape must switch to
    * approx_count_distinct (exact distinct aggregation is unsupported
    * on streams — the scaladoc'd trade every streaming pipeline makes),
    * so only the batch form carries an oracle.
    */
  def tumblingUsers(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "6 hours").as("w"))
      .agg(countDistinct(col("user_id")).as("n_users"),
           count(lit(1)).as("n_events"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
              col("n_users"), col("n_events"))

  def tumblingUsersQuery(spark: SparkSession, sfDir: String): DataFrame =
    tumblingUsers(Tables.events(spark, sfDir))
      .orderBy("window_start")

  // explicit epoch origin: Spark's window() anchors buckets at the
  // epoch while time_bucket's default origin is 2000-01-03, so without
  // it the two align only for widths that evenly divide 24h
  val tumblingUsersSql: String =
    """SELECT strftime(time_bucket(INTERVAL '6 hours', ts::TIMESTAMP, TIMESTAMP '1970-01-01 00:00:00'), '%Y-%m-%d %H:%M:%S') AS window_start,
      |  count(DISTINCT user_id) AS n_users, count(*) AS n_events
      |FROM events
      |GROUP BY 1
      |ORDER BY window_start""".stripMargin

  /** T2 sliding window: 1-hour windows advancing every 15 minutes —
    * every event lands in 4 overlapping windows.
    */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"),
           round(sum("value"), 4).as("sum_value")) // no countDistinct: unsupported on streams
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
              col("n_events"), col("sum_value"))

  def slidingQuery(spark: SparkSession, sfDir: String): DataFrame =
    slidingCounts(Tables.events(spark, sfDir))
      .orderBy("window_start")

  /** The DuckDB twin assigns each event to its 4 overlapping windows by
    * generating slide offsets 0..3 back from the event's 15-min bucket.
    */
  val slidingSql: String =
    """WITH assigned AS (
      |  SELECT time_bucket(INTERVAL '15 minutes', ts::TIMESTAMP, TIMESTAMP '1970-01-01 00:00:00') - (k * INTERVAL '15 minutes') AS w_start,
      |    value
      |  FROM events CROSS JOIN (SELECT unnest(range(0, 4)) AS k)
      |)
      |SELECT strftime(w_start, '%Y-%m-%d %H:%M:%S') AS window_start,
      |  count(*) AS n_events, round(sum(value), 4) AS sum_value
      |FROM assigned
      |GROUP BY 1
      |ORDER BY window_start""".stripMargin

  /** T3 session windows (30-minute gap) per user. In batch this is
    * `session_window`; the oracle reproduces it with the cumulative
    * gap-boundary idiom. Boundary semantics (verified empirically in
    * StreamingSpec): session_window MERGES an event at exactly
    * last_event + gap, so a new session opens iff gap > 30 min.
    */
  def sessionWindows(events: DataFrame): DataFrame =
    events
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 4).as("sum_value"))
      .select(col("user_id"),
              date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
              col("n_events"), col("sum_value"))

  def sessionQuery(spark: SparkSession, sfDir: String): DataFrame =
    sessionWindows(Tables.events(spark, sfDir))
      .orderBy("user_id", "session_start")

  val sessionSql: String =
    """WITH g AS (
      |  SELECT user_id, ts, value, event_id,
      |    CASE WHEN epoch_us(ts::TIMESTAMP) - epoch_us(lag(ts::TIMESTAMP, 1) OVER w) > 1800000000
      |         OR lag(ts, 1) OVER w IS NULL THEN 1 ELSE 0 END AS is_new
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
      |), s AS (
      |  SELECT user_id, ts, value,
      |    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
      |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM g
      |)
      |SELECT user_id,
      |  strftime(min(ts::TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS session_start,
      |  count(*) AS n_events, round(sum(value), 4) AS sum_value
      |FROM s
      |GROUP BY user_id, sid
      |ORDER BY user_id, session_start""".stripMargin

  /** T5 deduplication: first event per (user_id, event_type) by
    * (ts, event_id). Deterministic batch form via row_number; the
    * streaming twin is `dropDuplicates` under a watermark (state
    * bounded by the watermark horizon).
    */
  def firstEventPerType(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts").asc, col("event_id").asc)
    events
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("user_id"), col("event_type"), col("event_id").as("first_event_id"),
              date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("first_ts"))
  }

  def dedupQuery(spark: SparkSession, sfDir: String): DataFrame =
    firstEventPerType(Tables.events(spark, sfDir))
      .orderBy("user_id", "event_type")

  val dedupSql: String =
    """SELECT user_id, event_type, event_id AS first_event_id,
      |  strftime(ts::TIMESTAMP, '%Y-%m-%d %H:%M:%S') AS first_ts
      |FROM (
      |  SELECT user_id, event_type, event_id, ts,
      |    row_number() OVER (PARTITION BY user_id, event_type
      |                       ORDER BY ts ASC, event_id ASC) AS rn
      |  FROM events
      |)
      |WHERE rn = 1
      |ORDER BY user_id, event_type""".stripMargin

  /** T4 watermark horizon: lateness tolerance, seconds. */
  val LateHorizonSec = 600L
  /** Simulated ingest-delay ceiling, seconds (the fixture's events
    * arrive in perfect ts order, so arrival jitter is synthesized
    * deterministically from the portable 32-bit hash backbone). */
  val LateMaxDelaySec = 1800L
  /** Micro-batch trigger interval on the arrival clock, seconds. */
  val LateTriggerSec = 600L
  private val HourUs = 3600L * 1000000L

  /** T4 late-data policy, batch form: replays Structured Streaming's
    * watermark semantics over a log whose ARRIVAL order differs from
    * event time. Arrival time = ts + h32(event_id) % $LateMaxDelaySec
    * seconds of simulated ingest delay; micro-batches cut every
    * $LateTriggerSec s of arrival time; within batch k the watermark is
    * frozen at max(event time over batches < k) − $LateHorizonSec —
    * exactly the between-batches watermark update rule the streaming
    * engine applies. An event is DROPPED iff its 1-hour tumbling
    * window closed before it arrived (watermark >= window end — the
    * non-strict boundary pinned by the StreamingSpec twin). Output: per window,
    * kept/dropped counts and the kept value sum — the "how much data
    * does this horizon lose" audit every watermark choice needs.
    *
    * Scale shape: per-batch max is an aggregate; the running max runs
    * over the tiny |batches| table (one row per trigger interval);
    * the policy join broadcasts that table back — the corpus never
    * shuffles except for the final per-window aggregate. All lateness
    * math is integer µs on the portable hash, so DuckDB reproduces it
    * bit-for-bit.
    */
  def lateDataAudit(events: DataFrame): DataFrame =
    lateAuditFromBatches(events.select(
        col("event_id"), col("value"),
        expr("unix_micros(timestamp(ts))").as("ev_us"))
      .withColumn("arr_us", col("ev_us") +
        expr(s"(cast(conv(substring(md5(cast(event_id AS string)), 1, 8), 16, 10) AS bigint) % $LateMaxDelaySec) * 1000000L"))
      .withColumn("batch_id", expr(s"arr_us div (${LateTriggerSec}L * 1000000L)")))

  /** Policy core over an explicit (ev_us, value, batch_id) assignment —
    * split out so the StreamingSpec twin can feed hand-built arrival
    * batches (incl. exact watermark==window-end boundaries) through
    * BOTH this and a real watermarked stream and assert drop parity.
    */
  private[graft] def lateAuditFromBatches(e: DataFrame): DataFrame = {
    val wmWin = Window.orderBy("batch_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wm = e.groupBy("batch_id").agg(max("ev_us").as("bmax"))
      .withColumn("wm_us", max("bmax").over(wmWin) - LateHorizonSec * 1000000L)
      .select("batch_id", "wm_us")
    e.join(broadcast(wm), "batch_id")
      .withColumn("wend_us", (expr(s"ev_us div ${HourUs}L") + 1L) * HourUs)
      // non-strict: the StreamingSpec twin pinned that Spark closes a
      // window when the watermark REACHES its end (wm == wend drops)
      .withColumn("is_late", col("wm_us").isNotNull && col("wm_us") >= col("wend_us"))
      .groupBy(date_format(timestamp_micros(col("wend_us") - HourUs),
        "yyyy-MM-dd HH:mm:ss").as("window_start"))
      .agg(sum(when(!col("is_late"), 1L).otherwise(0L)).as("n_kept"),
           sum(when(col("is_late"), 1L).otherwise(0L)).as("n_dropped"),
           round(sum(when(!col("is_late"), col("value")).otherwise(0.0)), 4).as("sum_value_kept"))
  }

  def lateQuery(spark: SparkSession, sfDir: String): DataFrame =
    lateDataAudit(Tables.events(spark, sfDir))
      .orderBy("window_start")

  val lateSql: String =
    s"""WITH e AS (
       |  SELECT event_id, value, epoch_us(ts::TIMESTAMP) AS ev_us,
       |    epoch_us(ts::TIMESTAMP)
       |      + (('0x' || substr(md5(event_id::VARCHAR), 1, 8))::BIGINT % $LateMaxDelaySec) * 1000000 AS arr_us
       |  FROM events
       |), b AS (
       |  SELECT *, arr_us // (${LateTriggerSec} * 1000000) AS batch_id FROM e
       |), wm AS (
       |  SELECT batch_id,
       |    max(bmax) OVER (ORDER BY batch_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
       |      - $LateHorizonSec * 1000000 AS wm_us
       |  FROM (SELECT batch_id, max(ev_us) AS bmax FROM b GROUP BY batch_id)
       |), j AS (
       |  SELECT b.*, (b.ev_us // ${HourUs} + 1) * ${HourUs} AS wend_us, wm.wm_us,
       |    (wm.wm_us IS NOT NULL AND wm.wm_us >= (b.ev_us // ${HourUs} + 1) * ${HourUs}) AS is_late
       |  FROM b JOIN wm USING (batch_id)
       |)
       |SELECT strftime(make_timestamp(wend_us - ${HourUs}), '%Y-%m-%d %H:%M:%S') AS window_start,
       |  sum(CASE WHEN is_late THEN 0 ELSE 1 END)::BIGINT AS n_kept,
       |  sum(CASE WHEN is_late THEN 1 ELSE 0 END)::BIGINT AS n_dropped,
       |  round(sum(CASE WHEN is_late THEN 0.0 ELSE value END), 4) AS sum_value_kept
       |FROM j
       |GROUP BY 1
       |ORDER BY window_start""".stripMargin

  /** T7 stream-stream join horizon: a purchase attributes to a click
    * at most this many minutes earlier.
    */
  val JoinHorizonMin = 30

  /** T7 stream-stream interval join: click→purchase conversion pairs.
    * Declared over two frames so both runners share one plan: the
    * batch query below feeds static splits of `events`; the
    * StreamingSpec twin feeds two watermarked MemoryStreams and gets
    * Spark's StreamingSymmetricHashJoin. The join is an equi-join on
    * user_id with an event-time range residual (purchase within
    * [click, click+$JoinHorizonMin min]) — exactly the condition shape
    * Structured Streaming REQUIRES on a stream-stream inner join,
    * because the time bounds are what let the engine evict buffered
    * state: a click unmatched once the purchase-side watermark passes
    * click_ts+horizon can never match and is dropped; symmetric for
    * purchases. Without the range residual the join state grows
    * without bound — the #1 production stream-join mistake.
    *
    * Scale shape (batch AND stream): both sides hash-partition on
    * user_id — one shuffle each, no broadcast (both sides are
    * event-volume); per-task state is the watermark-bounded horizon
    * window of one user-hash slice.
    *
    * @param joinType "inner" (default) or "left_outer". On streams the
    * outer form is the stricter discipline: an unmatched click can only
    * be emitted (null-padded) once the purchase-side watermark proves
    * no match can still arrive — i.e. passes click_ts + horizon — so
    * outer results trail the watermark by design. The twin pins that.
    */
  def clickPurchaseJoin(clicks: DataFrame, buys: DataFrame,
                        joinType: String = "inner"): DataFrame = {
    val c = clicks.select(col("event_id").as("click_id"), col("user_id"),
                          col("ts").as("click_ts"))
    val b = buys.select(col("event_id").as("buy_id"), col("user_id").as("buy_user"),
                        col("ts").as("buy_ts"))
    c.join(b,
        col("user_id") === col("buy_user") &&
        col("buy_ts") >= col("click_ts") &&
        col("buy_ts") <= col("click_ts") + expr(s"INTERVAL $JoinHorizonMin MINUTES"),
        joinType)
      .select(col("click_id"), col("buy_id"), col("user_id"),
              col("click_ts"), col("buy_ts"),
              (unix_micros(col("buy_ts")) - unix_micros(col("click_ts")))
                .as("latency_us"))
  }

  /** Batch form of T7, aggregated per click-hour. Integer-only output
    * (pair/user counts, µs latency sums) so the oracle hashes
    * bit-for-bit with no float-rounding hazard.
    */
  def streamJoinQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.events(spark, sfDir)
    clickPurchaseJoin(e.where(col("event_type") === "click"),
                      e.where(col("event_type") === "purchase"))
      .groupBy(window(col("click_ts"), "1 hour").as("w"))
      .agg(count(lit(1)).as("n_pairs"),
           countDistinct(col("user_id")).as("n_users"),
           sum("latency_us").as("sum_latency_us"),
           max("latency_us").as("max_latency_us"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
              col("n_pairs"), col("n_users"), col("sum_latency_us"), col("max_latency_us"))
      .orderBy("window_start")
  }

  val streamJoinSql: String =
    s"""WITH c AS (
       |  SELECT event_id AS click_id, user_id, ts::TIMESTAMP AS click_ts
       |  FROM events WHERE event_type = 'click'
       |), b AS (
       |  SELECT event_id AS buy_id, user_id, ts::TIMESTAMP AS buy_ts
       |  FROM events WHERE event_type = 'purchase'
       |)
       |SELECT strftime(time_bucket(INTERVAL '1 hour', click_ts, TIMESTAMP '1970-01-01 00:00:00'), '%Y-%m-%d %H:%M:%S') AS window_start,
       |  count(*) AS n_pairs,
       |  count(DISTINCT c.user_id) AS n_users,
       |  sum(epoch_us(buy_ts) - epoch_us(click_ts))::BIGINT AS sum_latency_us,
       |  max(epoch_us(buy_ts) - epoch_us(click_ts))::BIGINT AS max_latency_us
       |FROM c JOIN b
       |  ON c.user_id = b.user_id
       | AND buy_ts >= click_ts
       | AND buy_ts <= click_ts + INTERVAL '$JoinHorizonMin minutes'
       |GROUP BY 1
       |ORDER BY window_start""".stripMargin

  /** Ranked users per window in the top-K stage. */
  val StreamTopK = 3

  /** T8 stage 1 — per-(window, user) counts: the streaming-safe
    * aggregation (single stateful aggregate, watermark-bounded). */
  def windowUserCounts(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "6 hours").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n"))

  /** T8 stage 2 — top-[[StreamTopK]] users per window via the BOUNDED
    * TopKByScore aggregate (k entries per window survive the partial
    * phase — no per-window sort, no full ranking state). Split from
    * stage 1 because chained streaming aggregations don't exist in
    * append mode: production runs this ranking per micro-batch in
    * foreachBatch over stage 1's state — exactly how the StreamingSpec
    * twin drives it. Ties break (count desc, user_id asc) in both
    * engines.
    */
  def rankTopUsers(counts: DataFrame): DataFrame =
    counts
      .groupBy(col("w"))
      .agg(graft.functions.TopKByScore.topK(StreamTopK,
        col("n").cast("double"), col("user_id"), col("n")).as("top"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
              posexplode(col("top")))
      .select(col("window_start"), (col("pos") + 1).as("rk"),
              col("col.id").as("user_id"), col("col.extra").as("n_events"))

  def topUsersQuery(spark: SparkSession, sfDir: String): DataFrame =
    rankTopUsers(windowUserCounts(Tables.events(spark, sfDir)))
      .orderBy("window_start", "rk")

  val topUsersSql: String =
    s"""WITH c AS (
       |  SELECT time_bucket(INTERVAL '6 hours', ts::TIMESTAMP, TIMESTAMP '1970-01-01 00:00:00') AS wb,
       |    user_id, count(*) AS n
       |  FROM events GROUP BY 1, 2
       |), r AS (
       |  SELECT wb, user_id, n,
       |    row_number() OVER (PARTITION BY wb ORDER BY n DESC, user_id ASC) AS rk
       |  FROM c
       |)
       |SELECT strftime(wb, '%Y-%m-%d %H:%M:%S') AS window_start, rk, user_id, n AS n_events
       |FROM r WHERE rk <= $StreamTopK
       |ORDER BY window_start, rk""".stripMargin

  /** T9 drift-monitor knobs: window width, reference decile edges,
    * Laplace pseudo-count (the q_psi_drift smoothing, reused so empty
    * window buckets read honestly). */
  val DriftWindow = "6 hours"
  val DriftQuantiles: Seq[Double] = (1 to 9).map(_ / 10.0)
  val DriftAlpha = 0.5
  val DriftBuckets: Int = DriftQuantiles.size + 1

  /** T9 stage 1 — bucket every event against STATIC reference
    * breakpoints (a literal array: the deployed monitor ships its
    * reference config, it does not recompute it mid-stream) and count
    * per (window, bucket). One watermark-bounded streaming aggregate —
    * the append-safe stage.
    */
  def driftBucketCounts(events: DataFrame, bks: Seq[Double]): DataFrame = {
    val arr = bks.mkString("array(", ", ", ")")
    events
      .withColumn("bucket",
        expr(s"aggregate($arr, 0, (acc, b) -> acc + IF(value > b, 1, 0))"))
      .groupBy(window(col("ts"), DriftWindow).as("w"), col("bucket"))
      .agg(count(lit(1)).as("n"))
  }

  /** T9 stage 2 — per-window PSI against the reference shares
    * (bucket, pr): complete the window×reference-bucket grid (a
    * missing bucket is real drift evidence, not a skippable row),
    * Laplace-smooth the window shares, and roll up. Runs per
    * micro-batch over stage 1's state in production (foreachBatch —
    * the same split as T8; chained streaming aggs don't exist in
    * append mode).
    */
  def driftPsi(counts: DataFrame, ref: DataFrame): DataFrame =
    // ONE pass over the counts (no tot⋈counts self-join — that plan
    // trips conflicting-reference resolution on a MemorySink view):
    // fold each window's buckets into a tiny map, then expand the
    // static reference list against it so absent buckets surface as 0
    counts.groupBy("w")
      .agg(sum("n").as("tot"),
           map_from_entries(collect_list(struct(col("bucket"), col("n")))).as("m"))
      .crossJoin(broadcast(ref))
      .withColumn("nb", coalesce(expr("m[bucket]"), lit(0L)))
      .withColumn("pc",
        (col("nb") + lit(DriftAlpha)) / (col("tot") + lit(DriftBuckets * DriftAlpha)))
      .groupBy("w")
      .agg(max("tot").as("n_events"),
           round(sum((col("pc") - col("pr")) * log(col("pc") / col("pr"))), 4).as("psi"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
              col("n_events"), col("psi"))

  /** Reference share table (bucket, pr) for a batch corpus, smoothed
    * like the window shares. */
  def driftReference(events: DataFrame, bks: Seq[Double]): DataFrame = {
    val arr = bks.mkString("array(", ", ", ")")
    val cnt = events
      .withColumn("bucket",
        expr(s"aggregate($arr, 0, (acc, b) -> acc + IF(value > b, 1, 0))"))
      .groupBy("bucket").agg(count(lit(1)).as("rn"))
    cnt.crossJoin(broadcast(cnt.agg(sum("rn").as("rtot"))))
      .select(col("bucket"),
        ((col("rn") + lit(DriftAlpha)) / (col("rtot") + lit(DriftBuckets * DriftAlpha))).as("pr"))
  }

  /** T9 batch form: windowed PSI of the value distribution against the
    * whole-corpus reference — what the monitor reports when replayed
    * over its own history. The 9 rounded breakpoints are collected
    * once as static monitor config (the deployed stream ships them as
    * literals — this is configuration, not a data-path collect).
    */
  def driftQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val qs = DriftQuantiles.mkString("array(", ", ", ")")
    val bks = ev
      .agg(expr(s"transform(percentile(value, $qs), b -> round(b, 4))").as("b"))
      .head.getSeq[Double](0)
    driftPsi(driftBucketCounts(ev, bks), driftReference(ev, bks))
      .orderBy("window_start")
  }

  val driftSql: String = {
    val qs = DriftQuantiles.mkString("[", ", ", "]")
    val denom = DriftBuckets * DriftAlpha
    s"""WITH bks AS (
       |  SELECT list_transform(quantile_cont(value, $qs), x -> round(x, 4)) AS b
       |  FROM events
       |), ev AS (
       |  SELECT ts, len(list_filter((SELECT b FROM bks), x -> value > x)) AS bucket
       |  FROM events
       |), refc AS (
       |  SELECT bucket, count(*) AS rn FROM ev GROUP BY 1
       |), ref AS (
       |  SELECT bucket,
       |    (rn + $DriftAlpha) / ((SELECT sum(rn) FROM refc) + $denom) AS pr
       |  FROM refc
       |), wc AS (
       |  SELECT time_bucket(INTERVAL '$DriftWindow', ts::TIMESTAMP, TIMESTAMP '1970-01-01 00:00:00') AS wb,
       |    bucket, count(*) AS n
       |  FROM ev GROUP BY 1, 2
       |), tot AS (SELECT wb, sum(n) AS tot FROM wc GROUP BY 1),
       |grid AS (
       |  SELECT t.wb, t.tot, r.bucket, r.pr, coalesce(w.n, 0) AS n
       |  FROM tot t CROSS JOIN ref r
       |  LEFT JOIN wc w ON w.wb = t.wb AND w.bucket = r.bucket
       |), p AS (
       |  SELECT wb, tot, pr, (n + $DriftAlpha) / (tot + $denom) AS pc FROM grid
       |)
       |SELECT strftime(wb, '%Y-%m-%d %H:%M:%S') AS window_start,
       |  max(tot)::BIGINT AS n_events,
       |  round(sum((pc - pr) * ln(pc / pr)), 4) AS psi
       |FROM p GROUP BY wb ORDER BY window_start""".stripMargin
  }

  /** T10 batch-twin micro-batch count. */
  val UpsertBatches = 4

  /** T10 per-key state: the LATEST event row per user under
    * (ts, event_id) order — the argmax struct idiom, one keyed
    * map-side-combinable aggregate, no window. */
  def latestPerKey(e: DataFrame): DataFrame =
    e.groupBy("user_id")
      .agg(max(struct(col("ts"), col("event_id"), col("event_type"), col("value")))
        .as("__s"))
      .select(col("user_id"), col("__s.ts").as("ts"),
        col("__s.event_id").as("event_id"), col("__s.event_type").as("event_type"),
        col("__s.value").as("value"))

  /** T10 replay-idempotent streaming upsert — the merge a foreachBatch
    * sink must apply to survive AT-LEAST-ONCE delivery: after a crash
    * between the sink write and the checkpoint commit, Structured
    * Streaming re-delivers the SAME micro-batch, so the merge has to
    * be an absolute last-writer-wins upsert (per key, the row with
    * the greatest (ts, event_id) survives), never an additive delta —
    * `+=` double-counts every replayed batch. LWW-by-version is a
    * join-semilattice: max is idempotent (replaying a batch is a
    * fixpoint), commutative and associative (out-of-ORDER redelivery
    * converges to the same state too). [[upsertQuery]] proves it
    * through the driver gate: the fold below applies one micro-batch
    * TWICE, and the oracle — a flat latest-per-user over all events,
    * knowing nothing about batching or replay — still hash-matches.
    *
    * Scale: each merge is one keyed aggregate over target ∪ batch; in
    * production the target is a bucketed keyed table so the merge is
    * co-partitioned (shuffle-free on the target side) and state is
    * |keys|, not |events|. The batch split below keys on event_id mod
    * [[UpsertBatches]] — deliberately NOT time-ordered, exercising
    * the out-of-order-delivery leg of the convergence claim.
    */
  def upsertMerge(target: DataFrame, batch: DataFrame): DataFrame =
    latestPerKey(target.unionByName(batch))

  def upsertQuery(spark: SparkSession, sfDir: String): DataFrame = {
    // severed once: the four differently-filtered batch splits would
    // otherwise each re-scan events (r9s2 rescan sweep) — a stream
    // reads its source once per row too, so the checkpoint also keeps
    // the simulation honest
    val e = Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"), col("value"))
      .localCheckpoint()
    val batches = (0 until UpsertBatches).map { i =>
      e.where(pmod(col("event_id"), lit(UpsertBatches)) === i)
    }
    // at-least-once simulation: batch 1 is delivered twice
    val delivered = batches.head +: batches(1) +: batches.tail
    val state = delivered.tail.foldLeft(latestPerKey(delivered.head))(upsertMerge)
    state.groupBy("event_type")
      .agg(count(lit(1)).as("n_users"),
           sum("event_id").as("id_checksum"),
           max(expr("unix_micros(ts)")).as("max_ts_us"))
      .orderBy("event_type")
  }

  /** Oracle: flat latest-per-user — batching, replay and delivery
    * order must all be invisible in the converged state. */
  val upsertSql: String =
    """WITH latest AS (
      |  SELECT user_id, ts, event_id, event_type FROM (
      |    SELECT user_id, ts, event_id, event_type,
      |      row_number() OVER (PARTITION BY user_id
      |        ORDER BY ts DESC, event_id DESC) AS rk
      |    FROM events) WHERE rk = 1
      |)
      |SELECT event_type, count(*) AS n_users,
      |  sum(event_id)::BIGINT AS id_checksum,
      |  max(epoch_us(ts))::BIGINT AS max_ts_us
      |FROM latest GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** T11: windowed KMV distinct-user ESTIMATE. `countDistinct` is
    * unsupported in streaming aggregations (q_stream_users' exact
    * count only works because its batch runner sees the whole input),
    * so the mergeable KMV sketch IS the streamable distinct: the
    * [[graft.functions.KmvMins]] partial buffers serialize into the
    * state store and merge exactly across micro-batches (sketch union
    * — KmvScaleSpec), and the estimate is pure SQL over the final
    * minima array. State per window: k longs + a count, independent of
    * traffic. At the gate SF the per-window user count straddles k=64,
    * so BOTH estimator branches (under-fill exact / (k−1)M/h_(k))
    * run under the same hash gate. StreamingSpec's T11 twin feeds the
    * identical transform from a MemoryStream and matches batch. An
    * all-NULL-user window yields sketch_n = 0 / est 0.0 (KmvMins skips
    * nulls; the oracle LEFT JOINs its sketch CTE for the same row).
    */
  def kmvWindowUsers(events: DataFrame): DataFrame = {
    val k = graft.operators.Advanced.KmvK
    events
      .withColumn("h", expr(
        "cast(conv(substring(md5(cast(user_id AS string)), 1, 12), 16, 10) AS bigint)"))
      .groupBy(window(col("ts"), "6 hours").as("w"))
      .agg(graft.functions.KmvMins.kmvMins(k, col("h")).as("mins"),
           count(lit(1)).as("n_events"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
              col("n_events"),
              size(col("mins")).cast("long").as("sketch_n"),
              expr(s"try_element_at(mins, $k)").as("kth"))
      .withColumn("est_users",
        round(when(col("sketch_n") < k, col("sketch_n").cast("double"))
          .otherwise(lit((k - 1).toDouble) * lit(graft.operators.Advanced.KmvM)
            / col("kth").cast("double")), 4))
      .drop("kth")
  }

  def kmvWindowUsersQuery(spark: SparkSession, sfDir: String): DataFrame =
    kmvWindowUsers(Tables.events(spark, sfDir))
      .orderBy("window_start")

  val kmvWindowUsersSql: String = {
    val k = graft.operators.Advanced.KmvK
    s"""WITH ev AS (
       |  SELECT strftime(time_bucket(INTERVAL '6 hours', ts::TIMESTAMP, TIMESTAMP '1970-01-01 00:00:00'), '%Y-%m-%d %H:%M:%S') AS window_start,
       |    ('0x' || substr(md5(user_id::VARCHAR), 1, 12))::BIGINT AS h
       |  FROM events
       |), n AS (
       |  SELECT window_start, count(*) AS n_events FROM ev GROUP BY 1
       |), hs AS (
       |  SELECT DISTINCT window_start, h FROM ev WHERE h IS NOT NULL
       |), r AS (
       |  SELECT window_start, h,
       |    row_number() OVER (PARTITION BY window_start ORDER BY h) AS rk
       |  FROM hs
       |), s AS (
       |  SELECT window_start, count(*) AS sketch_n, max(h) AS kth
       |  FROM r WHERE rk <= $k GROUP BY window_start
       |)
       |SELECT n.window_start, n.n_events,
       |  coalesce(s.sketch_n, 0)::BIGINT AS sketch_n,
       |  round(CASE WHEN coalesce(s.sketch_n, 0) < $k THEN coalesce(s.sketch_n, 0)::DOUBLE
       |        ELSE ${k - 1}e0 * 281474976710656e0 / s.kth::DOUBLE END, 4) AS est_users
       |FROM n LEFT JOIN s USING (window_start)
       |ORDER BY window_start""".stripMargin
  }

  /** T12 stream-scoring cutoff: interactions arriving on/after this
    * date are "the stream" the serve twin scores (the tail ~4% of the
    * order history — a live window, not a backfill). Declared before
    * the SQL val that interpolates it (object-init-order discipline). */
  val StreamScoreFrom = "2001-05-01"

  /** T12 stream-static model scoring — the ONLINE half of the CF serve
    * story (r11 verdict #8): each arriving interaction (user, item,
    * strength) joins the PERSISTED ItemCF neighbor table
    * ([[graft.operators.Recsys.ensureCfModel]]'s bucketed catalog
    * table — the static side of a stream-static join) and emits its
    * item's top-K neighbors as scored candidates, score =
    * round(sim · strength, 6). Stateless per row, so the batch plan IS
    * the streaming plan — StreamingSpec's twin feeds the identical
    * transform from a MemoryStream against the same reloaded model
    * table and asserts set equality.
    *
    * Scale: the canonical low-latency serving join — the model
    * broadcasts (K·|items| rows) at fixture scale and bucket-joins on
    * item_i at a 10⁸-item catalog; the stream side never shuffles; no
    * state, no watermark (stateless projection), so throughput is
    * bounded by the join alone.
    */
  def cfStreamScore(arrivals: DataFrame, model: DataFrame): DataFrame =
    arrivals.join(model, arrivals("item_id") === model("item_i"))
      .select(col("user_id"), col("item_id"), col("rk"),
              col("item_j").as("rec"),
              round(col("sim") * col("strength"), 6).as("score"))

  /** The arriving interactions: orders on/after [[StreamScoreFrom]]
    * (the orders scan carries the pushed filter), collapsed to
    * (user, item, strength). */
  private[graft] def streamArrivals(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.Recsys.deltaBetween(spark, sfDir, StreamScoreFrom, None)

  /** The reloaded serving model, broadcast-hinted (K·|items| rows). */
  private[graft] def cfServingModel(spark: SparkSession, sfDir: String): DataFrame = {
    graft.operators.Recsys.ensureCfModel(spark, sfDir)
    broadcast(spark.table(graft.operators.Recsys.cfModelName(sfDir))
      .select("item_i", "rk", "item_j", "sim"))
  }

  def cfStreamScoreQuery(spark: SparkSession, sfDir: String): DataFrame =
    cfStreamScore(streamArrivals(spark, sfDir), cfServingModel(spark, sfDir))
      .orderBy("user_id", "item_id", "rk")

  /** Oracle: the full-corpus ItemCF model chain (what the persisted
    * table holds — its own oracle) joined by the arrival window. */
  val cfStreamScoreSql: String =
    s"""WITH model AS MATERIALIZED (
       |${graft.operators.Recsys.itemcfSimilaritySql}
       |), arrivals AS (
       |  SELECT o_custkey AS user_id, l_partkey AS item_id, sum(l_quantity) AS strength
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  WHERE o_orderdate >= TIMESTAMP '$StreamScoreFrom'
       |  GROUP BY 1, 2
       |)
       |SELECT a.user_id, a.item_id, m.rk, m.item_j AS rec,
       |  round(m.sim * a.strength, 6) AS score
       |FROM arrivals a JOIN model m ON m.item_i = a.item_id
       |ORDER BY a.user_id, a.item_id, m.rk""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_stream_kmv", kmvWindowUsersQuery _, Some(kmvWindowUsersSql)),
    QuerySpec("q_stream_upsert", upsertQuery _, Some(upsertSql)),
    QuerySpec("q_stream_drift", driftQuery _, Some(driftSql)),
    QuerySpec("q_stream_topk", topUsersQuery _, Some(topUsersSql)),
    QuerySpec("q_stream_tumbling", tumblingQuery _, Some(tumblingSql)),
    QuerySpec("q_stream_users", tumblingUsersQuery _, Some(tumblingUsersSql)),
    QuerySpec("q_stream_sliding", slidingQuery _, Some(slidingSql)),
    QuerySpec("q_stream_sessions", sessionQuery _, Some(sessionSql)),
    QuerySpec("q_stream_dedup", dedupQuery _, Some(dedupSql)),
    QuerySpec("q_stream_late", lateQuery _, Some(lateSql)),
    QuerySpec("q_stream_join", streamJoinQuery _, Some(streamJoinSql)),
    QuerySpec("q_stream_cf_score", cfStreamScoreQuery _, Some(cfStreamScoreSql)),
  )
}
