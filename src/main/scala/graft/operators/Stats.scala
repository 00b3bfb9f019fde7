package graft.operators

import graft.{QueryFamily, QuerySpec, Tables}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.apache.spark.unsafe.types.UTF8String

/** Advanced OLAP / optimizer-statistics operators: skyline (Pareto
  * front), exact equi-depth histogram, differentially-private release
  * counts, and sliding-window distinct users.
  *
  * Scale designs (the whole point of this file):
  *
  *  - Skyline uses the classic two-phase pruning: a LOCAL skyline per
  *    hash bucket (any subset-dominance implies global dominance, so
  *    bucket-local filtering is sound) shrinks n points to ~buckets ×
  *    |skyline| survivors, and only that tiny set flows through the
  *    global single-task pass. The O(n²) NOT-EXISTS formulation (the
  *    DuckDB oracle) never runs on Spark.
  *
  *  - The equi-depth histogram is EXACT yet fully distributed: instead
  *    of a global ntile sort over all rows, it aggregates to distinct
  *    values, takes each value's global rank interval from
  *    [[RankPrefix.before]]'s two-level prefix sum, and assigns the
  *    interval to ntile buckets in closed form. Every exact rank,
  *    quantile and running sum in this file rides the same kernel.
  *
  *  - Sliding distinct-users turns the per-day range self-join
  *    (days × events) into a 7× explode of deduplicated (user, day)
  *    pairs followed by one narrow shuffle — the standard rewrite that
  *    keeps sliding DAU linear in input size.
  */
object Stats extends QueryFamily {

  /** Local-skyline pruning buckets. More buckets = more parallelism in
    * phase 1 and more survivors into phase 2; survivors ≈ buckets ×
    * E|skyline| ≈ buckets × ln(n) for random points — thousands at
    * most, so phase 2's single task is never the bottleneck. */
  val SkylineBuckets = 32

  /** Pareto front over parts: minimize p_retailprice, maximize p_size
    * (cheapest part at every size level). A point is dominated iff
    * another point is ≤ on price AND ≥ on size and strictly better on
    * at least one. Emits the non-dominated (price, size) points with
    * the number of parts at each.
    *
    * Phase shape: groupBy to distinct points → window per hash bucket
    * (sorted by price asc, size desc, a point survives iff its size
    * exceeds every preceding size — sound and complete for strict
    * 2-D dominance over distinct points) → identical window globally
    * over the few survivors.
    */
  def paretoFront(spark: SparkSession, sfDir: String): DataFrame = {
    val pts = Tables.part(spark, sfDir)
      .groupBy(col("p_retailprice").as("price"), col("p_size").as("size"))
      .agg(count(lit(1)).as("n_parts"))
    def skyline(df: DataFrame, w: org.apache.spark.sql.expressions.WindowSpec): DataFrame =
      df.withColumn("mx", max("size").over(w.orderBy(col("price").asc, col("size").desc)
          .rowsBetween(Window.unboundedPreceding, -1)))
        .where(col("mx").isNull || col("size") > col("mx"))
        .drop("mx")
    val local = skyline(
      pts.withColumn("bkt", pmod(hash(col("price"), col("size")), lit(SkylineBuckets))),
      Window.partitionBy("bkt")).drop("bkt")
    skyline(local, Window.partitionBy())
      .select("price", "size", "n_parts")
      .orderBy("price", "size")
  }

  val paretoFrontSql: String =
    """WITH pts AS (
      |  SELECT p_retailprice AS price, p_size AS size, count(*) AS n_parts
      |  FROM part GROUP BY 1, 2
      |)
      |SELECT price, size, n_parts FROM pts p
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM pts q
      |  WHERE q.price <= p.price AND q.size >= p.size
      |    AND (q.price < p.price OR q.size > p.size))
      |ORDER BY price, size""".stripMargin

  /** Equi-depth histogram buckets (the optimizer-statistics default). */
  val HistBuckets = 10

  /** Exact equi-depth histogram of l_extendedprice in [[HistBuckets]]
    * buckets with SQL ntile semantics (first n%B buckets take the
    * extra row), computed WITHOUT a global row sort:
    *
    *  1. aggregate to (value, cnt) — bounded by the value domain, not
    *     row count;
    *  2. global rank intervals from [[RankPrefix.before]]'s two-level
    *     prefix sum (a coarse cell of the value itself, within-cell
    *     running counts in parallel windows, broadcast cell offsets).
    *     No spark_partition_id, no collect — re-execution of any
    *     subtree cannot change an assignment;
    *  3. closed-form ntile: with q = n div B, rem = n mod B, bucket
    *     boundaries E(b) = b·q + min(b, rem); a value's rows land in
    *     buckets bucket(lo)..bucket(hi) with exact per-bucket counts
    *     — independent of any tie-break, since equal values occupy a
    *     contiguous rank range.
    *
    * Per-bucket stats: row count, min/max value, mean (exact weighted
    * sum).
    */
  def equidepthHist(spark: SparkSession, sfDir: String): DataFrame =
    equidepthHistOf(
      Tables.lineitem(spark, sfDir).select(col("l_extendedprice").as("v")),
      HistBuckets)

  /** Frame-parameterized core of [[equidepthHist]]: equi-depth buckets
    * of `vals.v` (any numeric) over [[RankPrefix.before]]. Exposed so
    * the scale spec can drive it with a synthetic ≥10⁶-row,
    * wide-domain corpus the fixtures can't provide. */
  private[graft] def equidepthHistOf(
      vals: DataFrame, buckets: Int): DataFrame = {
    val byVal = vals.groupBy(col("v")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint() // severed once — the prefix and n both read it (r9s2)
    val nDf = byVal.agg(sum("cnt").as("n"))
    val ranked = RankPrefix.before(byVal, Nil, "v", "cnt")
      .crossJoin(broadcast(nDf))
      .withColumn("q", expr(s"n DIV $buckets"))
      .withColumn("rem", expr(s"n % $buckets"))
      .withColumn("hi", col("cnt_before") + col("cnt"))
      .withColumn("lo", col("cnt_before") + 1)
      .withColumn("b_lo", RankPrefix.ntileBucket(col("lo"), col("q"), col("rem")))
      .withColumn("b_hi", RankPrefix.ntileBucket(col("hi"), col("q"), col("rem")))
      .withColumn("bucket", explode(expr("sequence(b_lo, b_hi)")))
      // E(b) = b*q + least(b, rem); rows of v in bucket b is the
      // overlap of [lo, hi] with (E(b-1), E(b)].
      .withColumn("e_b", col("bucket") * col("q") + least(col("bucket"), col("rem")))
      .withColumn("e_prev",
        (col("bucket") - 1) * col("q") + least(col("bucket") - 1, col("rem")))
      .withColumn("rows_in",
        least(col("hi"), col("e_b")) - greatest(col("lo"), col("e_prev") + 1) + 1)
    ranked.groupBy("bucket")
      .agg(sum("rows_in").as("n_rows"),
           min("v").as("min_v"),
           max("v").as("max_v"),
           round(sum(col("v") * col("rows_in")) / sum("rows_in"), 4).as("avg_v"))
      .orderBy("bucket")
  }

  val equidepthHistSql: String =
    s"""WITH r AS (
       |  SELECT l_extendedprice AS v,
       |    ntile($HistBuckets) OVER (ORDER BY l_extendedprice) AS bucket
       |  FROM lineitem
       |)
       |SELECT bucket, count(*) AS n_rows,
       |  min(v) AS min_v, max(v) AS max_v,
       |  round(sum(v) / count(*), 4) AS avg_v
       |FROM r
       |GROUP BY bucket
       |ORDER BY bucket""".stripMargin

  /** Privacy budget for the DP release (Laplace scale = 1/ε). */
  val DpEps = 1.0

  /** Differentially-private release of the daily event-type counts:
    * true count plus Laplace(1/ε) noise via inverse-CDF sampling of a
    * DETERMINISTIC hash-derived uniform (u = md5(key)/2³² − ½, noise =
    * −(1/ε)·sign(u)·ln(1−2|u|)) — the production shape of a DP count
    * release (sensitivity 1 per (type, day) cell), made replayable so
    * the oracle can reproduce it bit-for-bit. Companion to the
    * k-anonymity audit (PipelineOps.kAnonymity): that one measures
    * re-identification risk, this one bounds it by mechanism.
    *
    * Scale: one narrow groupBy on a low-cardinality composite key; the
    * noise is a per-row scalar expression — no extra pass.
    */
  def dpCounts(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n_events"))
      .withColumn("h", expr(
        "cast(conv(substring(md5(concat_ws('|', event_type, cast(day AS string), 'dp')), 1, 8), 16, 10) AS bigint)"))
      // (h + .5)/2³² keeps u strictly inside (−.5, .5): ln(1−2|u|)
      // stays finite for every key.
      .withColumn("u", (col("h") + 0.5) / 4294967296.0 - 0.5)
      .withColumn("noise",
        lit(-1.0 / DpEps) * signum(col("u")) * log(lit(1.0) - lit(2.0) * abs(col("u"))))
      .withColumn("noisy_n", round(col("n_events") + col("noise"), 4))
      .select("day", "event_type", "n_events", "noisy_n")
      .orderBy("day", "event_type")

  val dpCountsSql: String =
    s"""WITH c AS (
       |  SELECT event_type, ts::TIMESTAMP::DATE AS day, count(*) AS n_events
       |  FROM events GROUP BY 1, 2
       |), u AS (
       |  SELECT *,
       |    (('0x' || substr(md5(event_type || '|' || day::VARCHAR || '|' || 'dp'), 1, 8))::BIGINT + 0.5)
       |      / 4294967296.0 - 0.5 AS uu
       |  FROM c
       |)
       |SELECT day, event_type, n_events,
       |  round(n_events + (-1.0 / $DpEps) * sign(uu) * ln(1.0 - 2.0 * abs(uu)), 4) AS noisy_n
       |FROM u
       |ORDER BY day, event_type""".stripMargin

  /** Trailing window of the sliding distinct-user count, in days. */
  val DauWindowDays = 7

  /** 7-day sliding distinct active users per day. Each deduplicated
    * (user, day) pair is exploded into the [[DauWindowDays]] window-end
    * days it contributes to (capped at the corpus max day), then one
    * groupBy counts distinct users per window end — linear in input,
    * no range self-join, no per-day rescan.
    */
  def slidingDau(spark: SparkSession, sfDir: String): DataFrame = {
    val ud = Tables.events(spark, sfDir)
      .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
    val maxDay = ud.agg(max("d").as("max_d"))
    ud.crossJoin(broadcast(maxDay))
      .withColumn("day", explode(expr(s"sequence(d, least(date_add(d, ${DauWindowDays - 1}), max_d))")))
      .groupBy("day")
      .agg(countDistinct("user_id").as("users_7d"))
      .orderBy("day")
  }

  val slidingDauSql: String =
    s"""WITH ud AS (
       |  SELECT DISTINCT user_id, ts::TIMESTAMP::DATE AS d FROM events
       |), wins AS (
       |  SELECT DISTINCT d + i::INTEGER AS day
       |  FROM (SELECT DISTINCT d FROM ud), range(0, $DauWindowDays) t(i)
       |  WHERE d + i::INTEGER <= (SELECT max(d) FROM ud)
       |)
       |SELECT w.day, count(DISTINCT u.user_id) AS users_7d
       |FROM wins w JOIN ud u
       |  ON u.d BETWEEN w.day - ${DauWindowDays - 1} AND w.day
       |GROUP BY w.day
       |ORDER BY w.day""".stripMargin

  /** Bootstrap replicas. */
  val BootB = 50
  /** Laplace-free uniform → Poisson(1) inverse-CDF thresholds
    * (cumulative e⁻¹·Σ1/k!): literal doubles, identical both engines. */
  val PoissonCdf: Seq[Double] = Seq(
    0.36787944117144233, 0.7357588823428847, 0.9196986029286058,
    0.9810118431238462, 0.9963401531726563, 0.9994058151824183,
    0.9999167588507119, 0.9999897508033253)

  /** Poisson bootstrap CI for the mean purchase value — THE scalable
    * bootstrap (Chamandy et al.): instead of resampling n rows with
    * replacement per replica (a shuffle per replica), each row draws an
    * independent Poisson(1) weight per replica — one map-side explode,
    * one narrow aggregate, B replica means. Weights come from a
    * DETERMINISTIC hash uniform through the Poisson inverse CDF, so
    * the whole CI is replayable and oracle-backed. CI bounds are exact
    * order statistics of the replica means (2nd / 49th of 50) — no
    * quantile interpolation to disagree on.
    *
    * Scale: input × B rows flow through codegen (no shuffle until the
    * B-row replica aggregate); B controls cost linearly and the final
    * stats are over B values regardless of corpus size.
    */
  def bootstrapCi(spark: SparkSession, sfDir: String): DataFrame = {
    val w = PoissonCdf.zipWithIndex
      .foldRight("8") { case ((c, k), e) => s"CASE WHEN u < $c THEN $k ELSE $e END" }
    val rep = Tables.events(spark, sfDir)
      .where(col("event_type") === "purchase")
      .select(col("event_id"), col("value"))
      .withColumn("b", explode(expr(s"sequence(1, $BootB)")))
      .withColumn("h", expr(
        "cast(conv(substring(md5(concat_ws(':', cast(event_id AS string), cast(b AS string), 'boot')), 1, 8), 16, 10) AS bigint)"))
      .withColumn("u", (col("h") + 0.5) / 4294967296.0)
      .withColumn("w", expr(w))
      .groupBy("b")
      .agg((sum(col("w") * col("value")) / sum("w")).as("mean_b"))
    val ranked = rep
      .withColumn("rk", row_number().over(Window.orderBy(col("mean_b").asc, col("b").asc)))
    val point = Tables.events(spark, sfDir)
      .where(col("event_type") === "purchase")
      .agg(count(lit(1)).as("n_obs"), round(avg("value"), 4).as("mean_value"))
    point.crossJoin(broadcast(ranked.agg(
        round(min(when(col("rk") === 2, col("mean_b"))), 4).as("ci_lo"),
        round(min(when(col("rk") === BootB - 1, col("mean_b"))), 4).as("ci_hi"),
        round(stddev_samp(col("mean_b")), 4).as("se_boot"))))
      .select("n_obs", "mean_value", "ci_lo", "ci_hi", "se_boot")
  }

  val bootstrapCiSql: String = {
    val w = PoissonCdf.zipWithIndex
      .foldRight("8") { case ((c, k), e) => s"CASE WHEN u < $c THEN $k ELSE $e END" }
    s"""WITH src AS (
       |  SELECT event_id, value FROM events WHERE event_type = 'purchase'
       |), expanded AS (
       |  SELECT s.value, t.b,
       |    (('0x' || substr(md5(s.event_id || ':' || t.b || ':' || 'boot'), 1, 8))::BIGINT + 0.5)
       |      / 4294967296.0 AS u
       |  FROM src s CROSS JOIN (SELECT unnest(range(1, $BootB + 1)) AS b) t
       |), weighted AS (
       |  SELECT value, b, $w AS w FROM expanded
       |), rep AS (
       |  SELECT b, sum(w * value) / sum(w) AS mean_b FROM weighted GROUP BY b
       |), ranked AS (
       |  SELECT mean_b, row_number() OVER (ORDER BY mean_b ASC, b ASC) AS rk FROM rep
       |), ci AS (
       |  SELECT
       |    round(min(CASE WHEN rk = 2 THEN mean_b END), 4) AS ci_lo,
       |    round(min(CASE WHEN rk = ${BootB - 1} THEN mean_b END), 4) AS ci_hi,
       |    round(stddev_samp(mean_b), 4) AS se_boot
       |  FROM ranked
       |)
       |SELECT (SELECT count(*) FROM src) AS n_obs,
       |  (SELECT round(avg(value), 4) FROM src) AS mean_value,
       |  ci_lo, ci_hi, se_boot
       |FROM ci""".stripMargin
  }

  /** Trailing frame (rows) for the rolling median. */
  val MedianWindow = 7

  /** 7-point rolling EXACT median of the daily value total per event
    * type — the robust-trend smoother (EWMA's outlier-immune
    * companion, see q_ewma_smooth). `percentile(v, 0.5)` over a ROWS
    * frame interpolates exactly like DuckDB's windowed `median`, so
    * the query is fully oracle-backed; daily totals are rounded
    * BEFORE the median so both engines rank identical doubles.
    *
    * Scale: the frame is bounded (7 rows) and the series is bounded
    * by calendar days × event types, so the window state is O(1) per
    * row and the partition count is fixed — a 100 TB corpus changes
    * only the one narrow daily pre-aggregate.
    */
  def rollingMedian(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.events(spark, sfDir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(round(sum("value"), 4).as("v"))
    val w = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(-(MedianWindow - 1), Window.currentRow)
    daily
      .withColumn("med_7d", round(expr("percentile(v, 0.5)").over(w), 4))
      .withColumn("n_win", count(lit(1)).over(w))
      .select("event_type", "day", "v", "med_7d", "n_win")
      .orderBy("event_type", "day")
  }

  val rollingMedianSql: String =
    s"""WITH daily AS (
       |  SELECT event_type, ts::TIMESTAMP::DATE AS day, round(sum(value), 4) AS v
       |  FROM events GROUP BY 1, 2
       |)
       |SELECT event_type, day, v,
       |  round(median(v) OVER (PARTITION BY event_type ORDER BY day
       |    ROWS BETWEEN ${MedianWindow - 1} PRECEDING AND CURRENT ROW), 4) AS med_7d,
       |  count(*) OVER (PARTITION BY event_type ORDER BY day
       |    ROWS BETWEEN ${MedianWindow - 1} PRECEDING AND CURRENT ROW) AS n_win
       |FROM daily ORDER BY event_type, day""".stripMargin

  /** Trailing frame (rows = days) for the rolling correlation. */
  val CorrWindow = 14

  /** 14-day rolling Pearson correlation between daily purchase revenue
    * and daily total event activity — the feature-engineering signal
    * behind "is monetization tracking engagement this fortnight?".
    * Emitted only for full frames, and NULL-guarded on zero variance
    * (Spark yields NaN, DuckDB NULL — the guard makes both NULL).
    *
    * Scale: like [[rollingMedian]], everything after the first daily
    * aggregate is calendar-bounded; the global single-partition window
    * holds ≤ days rows regardless of corpus size.
    */
  def rollingCorr(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.events(spark, sfDir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(
        round(sum(when(col("event_type") === "purchase", col("value")).otherwise(0.0)), 4).as("rev"),
        count(lit(1)).cast("double").as("acts"))
    val w = Window.orderBy("day").rowsBetween(-(CorrWindow - 1), Window.currentRow)
    daily
      .withColumn("rn", row_number().over(Window.orderBy("day")))
      .withColumn("sd_r", stddev_samp(col("rev")).over(w))
      .withColumn("sd_a", stddev_samp(col("acts")).over(w))
      .withColumn("corr_14d",
        when(col("sd_r") > 0 && col("sd_a") > 0,
          round(corr(col("rev"), col("acts")).over(w), 4)))
      .where(col("rn") >= CorrWindow)
      .select("day", "rev", "acts", "corr_14d")
      .orderBy("day")
  }

  val rollingCorrSql: String =
    s"""WITH daily AS (
       |  SELECT ts::TIMESTAMP::DATE AS day,
       |    round(sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0 END), 4) AS rev,
       |    count(*)::DOUBLE AS acts
       |  FROM events GROUP BY 1
       |), win AS (
       |  SELECT day, rev, acts,
       |    row_number() OVER (ORDER BY day) AS rn,
       |    stddev_samp(rev) OVER w AS sd_r,
       |    stddev_samp(acts) OVER w AS sd_a,
       |    corr(rev, acts) OVER w AS c
       |  FROM daily
       |  WINDOW w AS (ORDER BY day ROWS BETWEEN ${CorrWindow - 1} PRECEDING AND CURRENT ROW)
       |)
       |SELECT day, rev, acts,
       |  CASE WHEN sd_r > 0 AND sd_a > 0 THEN round(c, 4) END AS corr_14d
       |FROM win WHERE rn >= $CorrWindow ORDER BY day""".stripMargin

  /** Decile edges for the PSI buckets. */
  val PsiQuantiles: Seq[Double] = (1 to 9).map(_ / 10.0)
  /** Laplace pseudo-count per bucket: shares are (n+α)/(tot+B·α), so an
    * empty bucket contributes its honest ~p·ln(p/p̃) instead of the
    * pathological p·ln(p/ε) a hard epsilon clamp produces (one empty
    * decile under a 1e-6 clamp reads as PSI ≈ 1.1 on its own). */
  val PsiAlpha = 0.5
  /** Bucket count (decile edges + 1). */
  val PsiBuckets: Int = PsiQuantiles.size + 1

  /** Population Stability Index of the `value` distribution per event
    * type, current half of the corpus vs the reference (first) half —
    * the standard production drift monitor for ML feature inputs
    * (PSI < 0.1 stable, 0.1–0.25 drifting, > 0.25 retrain).
    *
    * Decile breakpoints come from the REFERENCE period only (that is
    * the definition: fixed expected bins), are rounded to 4 decimals
    * on both engines before bucketing, and both halves are bucketed
    * with one `aggregate` HOF pass — a missing bucket on either side
    * shows up as a zero count Laplace-smoothed by [[PsiAlpha]].
    *
    * Scale: one exact percentile per event type over the reference
    * half (at 100 TB this becomes approx_percentile — the mechanism
    * is unchanged), a broadcast of the |types|×9 breakpoint table,
    * then one narrow conditional aggregate. No self-joins.
    */
  def psiDrift(spark: SparkSession, sfDir: String): DataFrame = {
    val qs = PsiQuantiles.mkString("array(", ", ", ")")
    val ev = Tables.events(spark, sfDir)
      .select(col("event_type"), to_date(col("ts")).as("day"), col("value"))
    val bounds = ev.agg(min("day").as("min_d"), max("day").as("max_d"))
    val tagged = ev.crossJoin(broadcast(bounds))
      .withColumn("is_ref",
        datediff(col("day"), col("min_d")) * 2 < datediff(col("max_d"), col("min_d")))
    val bks = tagged.where(col("is_ref"))
      .groupBy("event_type")
      .agg(expr(s"transform(percentile(value, $qs), b -> round(b, 4))").as("bks"))
    val counted = tagged.join(broadcast(bks), "event_type")
      .withColumn("bucket",
        expr("aggregate(bks, 0, (acc, b) -> acc + IF(value > b, 1, 0))"))
      .groupBy("event_type", "bucket")
      .agg(
        sum(when(col("is_ref"), 1).otherwise(0)).as("ref_n"),
        sum(when(!col("is_ref"), 1).otherwise(0)).as("cur_n"))
    val wT = Window.partitionBy("event_type")
    counted
      .withColumn("ref_tot", sum("ref_n").over(wT))
      .withColumn("cur_tot", sum("cur_n").over(wT))
      .withColumn("pr",
        (col("ref_n") + lit(PsiAlpha)) / (col("ref_tot") + lit(PsiBuckets * PsiAlpha)))
      .withColumn("pc",
        (col("cur_n") + lit(PsiAlpha)) / (col("cur_tot") + lit(PsiBuckets * PsiAlpha)))
      .groupBy("event_type")
      .agg(
        round(sum((col("pc") - col("pr")) * log(col("pc") / col("pr"))), 4).as("psi"),
        max("ref_tot").as("n_ref"),
        max("cur_tot").as("n_cur"))
      .orderBy("event_type")
  }

  val psiDriftSql: String = {
    val qs = PsiQuantiles.mkString("[", ", ", "]")
    s"""WITH ev AS (
       |  SELECT event_type, ts::TIMESTAMP::DATE AS day, value FROM events
       |), b AS (
       |  SELECT min(day) AS min_d, max(day) AS max_d FROM ev
       |), tagged AS (
       |  SELECT e.*, (day - min_d) * 2 < (max_d - min_d) AS is_ref
       |  FROM ev e CROSS JOIN b
       |), bks AS (
       |  SELECT event_type,
       |    list_transform(quantile_cont(value, $qs), x -> round(x, 4)) AS bks
       |  FROM tagged WHERE is_ref GROUP BY event_type
       |), counted AS (
       |  SELECT t.event_type,
       |    len(list_filter(k.bks, b -> t.value > b)) AS bucket,
       |    sum(CASE WHEN t.is_ref THEN 1 ELSE 0 END) AS ref_n,
       |    sum(CASE WHEN t.is_ref THEN 0 ELSE 1 END) AS cur_n
       |  FROM tagged t JOIN bks k USING (event_type)
       |  GROUP BY 1, 2
       |), tot AS (
       |  SELECT *,
       |    sum(ref_n) OVER (PARTITION BY event_type) AS ref_tot,
       |    sum(cur_n) OVER (PARTITION BY event_type) AS cur_tot
       |  FROM counted
       |), p AS (
       |  SELECT event_type, ref_tot, cur_tot,
       |    (ref_n + $PsiAlpha) / (ref_tot + ${PsiBuckets * PsiAlpha}) AS pr,
       |    (cur_n + $PsiAlpha) / (cur_tot + ${PsiBuckets * PsiAlpha}) AS pc
       |  FROM tot
       |)
       |SELECT event_type,
       |  round(sum((pc - pr) * ln(pc / pr)), 4) AS psi,
       |  max(ref_tot)::BIGINT AS n_ref, max(cur_tot)::BIGINT AS n_cur
       |FROM p GROUP BY event_type ORDER BY event_type""".stripMargin
  }

  /** Pseudo-count mass of the global prior (Beta-Binomial m). */
  val SmoothM = 20.0
  /** Ranked output size. */
  val SmoothTopN = 20

  /** Empirical-Bayes smoothed per-user purchase rate: shrink each
    * user's raw purchase share toward the global rate with prior mass
    * [[SmoothM]] — the standard fix for "2/2 events beats 180/200" in
    * CTR/popularity ranking (Beta(m·p₀, m·(1−p₀)) posterior mean).
    * Top [[SmoothTopN]] users by the smoothed rate, rate ties broken
    * by user id so the cut is total-ordered on both engines.
    *
    * Scale: one per-user aggregate, a 1-row global prior broadcast,
    * and a TakeOrderedAndProject head — no shuffle beyond the agg.
    */
  def bayesRate(spark: SparkSession, sfDir: String): DataFrame = {
    val per = Tables.events(spark, sfDir)
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_events"),
        sum(when(col("event_type") === "purchase", 1).otherwise(0)).as("n_purchases"))
    val prior = per.agg(
      (sum("n_purchases").cast("double") / sum("n_events")).as("p0"))
    per.crossJoin(broadcast(prior))
      .withColumn("raw_rate",
        round(col("n_purchases").cast("double") / col("n_events"), 4))
      .withColumn("smoothed_rate",
        round((col("n_purchases") + lit(SmoothM) * col("p0")) / (col("n_events") + lit(SmoothM)), 4))
      .select("user_id", "n_events", "n_purchases", "raw_rate", "smoothed_rate")
      .orderBy(col("smoothed_rate").desc, col("user_id").asc)
      .limit(SmoothTopN)
  }

  val bayesRateSql: String =
    s"""WITH per AS (
       |  SELECT user_id, count(*) AS n_events,
       |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS n_purchases
       |  FROM events GROUP BY 1
       |), prior AS (
       |  SELECT sum(n_purchases)::DOUBLE / sum(n_events) AS p0 FROM per
       |)
       |SELECT user_id, n_events, n_purchases,
       |  round(n_purchases::DOUBLE / n_events, 4) AS raw_rate,
       |  round((n_purchases + $SmoothM * p0) / (n_events + $SmoothM), 4) AS smoothed_rate
       |FROM per CROSS JOIN prior
       |ORDER BY smoothed_rate DESC, user_id ASC
       |LIMIT $SmoothTopN""".stripMargin

  /** Benford first-digit audit of order totals — the forensic
    * data-quality screen for fabricated or truncated monetary columns:
    * observed leading-digit shares vs the Benford expectation
    * log₁₀(1+1/d), with each digit's χ² contribution. The digit comes
    * from the floor()ed integer part (never a double→int cast, whose
    * rounding mode differs across engines).
    *
    * Scale: a 9-group aggregate over one projected column; the digit
    * is a codegen scalar expression.
    */
  def benford(spark: SparkSession, sfDir: String): DataFrame = {
    val byDigit = Tables.orders(spark, sfDir)
      .withColumn("digit",
        substring(floor(col("o_totalprice")).cast("string"), 1, 1).cast("int"))
      .groupBy("digit").agg(count(lit(1)).as("n"))
    val total = byDigit.agg(sum("n").as("tot"))
    byDigit.crossJoin(broadcast(total))
      .withColumn("p_exp", log10(lit(1.0) + lit(1.0) / col("digit")))
      .withColumn("obs_pct", round(col("n").cast("double") / col("tot"), 4))
      .withColumn("benford_pct", round(col("p_exp"), 4))
      .withColumn("chi2_term",
        round(pow(col("n") - col("tot") * col("p_exp"), 2) / (col("tot") * col("p_exp")), 4))
      .select("digit", "n", "obs_pct", "benford_pct", "chi2_term")
      .orderBy("digit")
  }

  val benfordSql: String =
    """WITH d AS (
      |  SELECT substr(floor(o_totalprice)::BIGINT::VARCHAR, 1, 1)::INT AS digit,
      |    count(*) AS n
      |  FROM orders GROUP BY 1
      |), t AS (SELECT sum(n) AS tot FROM d)
      |SELECT digit, n,
      |  round(n::DOUBLE / tot, 4) AS obs_pct,
      |  round(log10(1.0 + 1.0 / digit), 4) AS benford_pct,
      |  round(pow(n - tot * log10(1.0 + 1.0 / digit), 2)
      |        / (tot * log10(1.0 + 1.0 / digit)), 4) AS chi2_term
      |FROM d CROSS JOIN t
      |ORDER BY digit""".stripMargin

  /** KS significance threshold: c(α=0.05) for the two-sample statistic. */
  val KsAlpha05 = 1.358

  /** Two-sample Kolmogorov–Smirnov drift test per event type, current
    * half vs reference half (same split as [[psiDrift]] — the two are
    * companions: PSI quantifies binned share drift, KS tests the full
    * CDF with a distribution-free critical value). D = max |F_ref −
    * F_cur| over the pooled value support; ECDFs use the default RANGE
    * window frame so ties (peers) are absorbed identically on both
    * engines. Also emits the scaled statistic c = D·√(n₁n₂/(n₁+n₂))
    * and the α=0.05 reject flag (c > 1.358).
    *
    * Scale: values pre-aggregate to (type, value, side-counts) —
    * bounded by the distinct-value domain, not row count; one window
    * pass per type over that compacted table.
    */
  def ksTest(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_type"), to_date(col("ts")).as("day"), col("value"))
    val bounds = ev.agg(min("day").as("min_d"), max("day").as("max_d"))
    val byVal = ev.crossJoin(broadcast(bounds))
      .withColumn("is_ref",
        datediff(col("day"), col("min_d")) * 2 < datediff(col("max_d"), col("min_d")))
      .groupBy("event_type", "value")
      .agg(
        sum(when(col("is_ref"), 1).otherwise(0)).as("ref_c"),
        sum(when(!col("is_ref"), 1).otherwise(0)).as("cur_c"))
      // the (type, value) histogram feeds the totals and the prefix's
      // min/max, cell totals and running sums — severed once so the
      // corpus scan doesn't re-plan per consumer (r9s2 sweep)
      .localCheckpoint()
    // CDF prefixes ride RankPrefix.before keyed by type (the r7
    // mann-whitney treatment, applied per type): the running sums
    // partition by (type, coarse cell) and the cell offsets come from a
    // per-type broadcast triangle join — no task ever sorts a whole
    // type's value histogram, which at 100 TB of continuous values
    // grows with the corpus. Totals come from a slim aggregate join,
    // not a whole-partition window. byVal is distinct per (type,
    // value), so prefix + own count equals the old RANGE-with-peers
    // frame.
    val tots = byVal.groupBy("event_type")
      .agg(sum("ref_c").as("ref_tot"), sum("cur_c").as("cur_tot"))
    RankPrefix.before(byVal, Seq("event_type"), "value", "ref_c", "cur_c")
      .join(broadcast(tots), "event_type")
      .withColumn("d", abs(
        (col("ref_c_before") + col("ref_c")).cast("double") / col("ref_tot") -
        (col("cur_c_before") + col("cur_c")).cast("double") / col("cur_tot")))
      .groupBy("event_type")
      .agg(
        max("ref_tot").as("n_ref"),
        max("cur_tot").as("n_cur"),
        round(max("d"), 4).as("ks_d"),
        // double math before the product: n1*n2 as integers overflows
        // long once the corpus passes ~3e9 rows/side
        round(max("d") * sqrt(max("ref_tot").cast("double") * max("cur_tot") /
          (max("ref_tot") + max("cur_tot")).cast("double")), 4).as("ks_stat"))
      .withColumn("reject_05", col("ks_stat") > KsAlpha05)
      .orderBy("event_type")
  }

  val ksTestSql: String =
    s"""WITH ev AS (
       |  SELECT event_type, ts::TIMESTAMP::DATE AS day, value FROM events
       |), b AS (
       |  SELECT min(day) AS min_d, max(day) AS max_d FROM ev
       |), byval AS (
       |  SELECT event_type, value,
       |    sum(CASE WHEN (day - min_d) * 2 < (max_d - min_d) THEN 1 ELSE 0 END) AS ref_c,
       |    sum(CASE WHEN (day - min_d) * 2 < (max_d - min_d) THEN 0 ELSE 1 END) AS cur_c
       |  FROM ev CROSS JOIN b
       |  GROUP BY 1, 2
       |), cum AS (
       |  SELECT event_type,
       |    sum(ref_c) OVER (PARTITION BY event_type) AS ref_tot,
       |    sum(cur_c) OVER (PARTITION BY event_type) AS cur_tot,
       |    abs(sum(ref_c) OVER (PARTITION BY event_type ORDER BY value)::DOUBLE
       |          / sum(ref_c) OVER (PARTITION BY event_type)
       |        - sum(cur_c) OVER (PARTITION BY event_type ORDER BY value)::DOUBLE
       |          / sum(cur_c) OVER (PARTITION BY event_type)) AS d
       |  FROM byval
       |), agg AS (
       |  SELECT event_type,
       |    max(ref_tot)::BIGINT AS n_ref, max(cur_tot)::BIGINT AS n_cur,
       |    round(max(d), 4) AS ks_d,
       |    round(max(d) * sqrt(max(ref_tot)::DOUBLE * max(cur_tot)
       |          / (max(ref_tot) + max(cur_tot))::DOUBLE), 4) AS ks_stat
       |  FROM cum GROUP BY event_type
       |)
       |SELECT event_type, n_ref, n_cur, ks_d, ks_stat,
       |  ks_stat > $KsAlpha05 AS reject_05
       |FROM agg ORDER BY event_type""".stripMargin

  /** Items ranked for the Kendall-tau agreement audit. */
  val TauTopN = 100

  /** Kendall rank correlation (tau-a over tie-broken total orders)
    * between two item rankers — order count vs revenue — on the top
    * [[TauTopN]] items by count. The eval-side answer to "do my two
    * rankers agree enough that the cheap one can gate the expensive
    * one?"; complements q_eval_ranking's NDCG (position-weighted vs
    * pair-order agreement). Ranks are made total orders by an item-id
    * tiebreak, so C + D = N(N−1)/2 exactly and both engines count
    * identical pairs.
    *
    * Scale: the pair space is the top-N² / 2 (4,950 pairs at N=100) —
    * a broadcast self-join over a bounded head table, never the
    * catalog.
    */
  def kendallTau(spark: SparkSession, sfDir: String): DataFrame = {
    val items = Tables.lineitem(spark, sfDir)
      .groupBy(col("l_partkey").as("item_id"))
      .agg(count(lit(1)).as("n_orders"),
           round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("revenue"))
      .orderBy(col("n_orders").desc, col("item_id").asc)
      .limit(TauTopN)
      .withColumn("rank_cnt", row_number().over(
        Window.orderBy(col("n_orders").desc, col("item_id").asc)))
      .withColumn("rank_rev", row_number().over(
        Window.orderBy(col("revenue").desc, col("item_id").asc)))
      .select("item_id", "rank_cnt", "rank_rev")
    val a = items.as("a")
    val b = items.as("b")
    val pairs = a.join(broadcast(b), col("a.item_id") < col("b.item_id"))
      .select(
        ((col("a.rank_cnt") < col("b.rank_cnt")) === (col("a.rank_rev") < col("b.rank_rev")))
          .cast("int").as("concordant"))
    pairs.agg(
        count(lit(1)).as("n_pairs"),
        sum("concordant").as("n_concordant"))
      .withColumn("n_discordant", col("n_pairs") - col("n_concordant"))
      .withColumn("tau",
        round((col("n_concordant") - col("n_discordant")).cast("double") / col("n_pairs"), 4))
      .select("n_pairs", "n_concordant", "n_discordant", "tau")
  }

  val kendallTauSql: String =
    s"""WITH items AS (
       |  SELECT l_partkey AS item_id, count(*) AS n_orders,
       |    round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
       |  FROM lineitem GROUP BY 1
       |  ORDER BY n_orders DESC, item_id ASC LIMIT $TauTopN
       |), ranked AS (
       |  SELECT item_id,
       |    row_number() OVER (ORDER BY n_orders DESC, item_id ASC) AS rank_cnt,
       |    row_number() OVER (ORDER BY revenue DESC, item_id ASC) AS rank_rev
       |  FROM items
       |), pairs AS (
       |  SELECT CASE WHEN (a.rank_cnt < b.rank_cnt) = (a.rank_rev < b.rank_rev)
       |    THEN 1 ELSE 0 END AS concordant
       |  FROM ranked a JOIN ranked b ON a.item_id < b.item_id
       |)
       |SELECT count(*) AS n_pairs,
       |  sum(concordant)::BIGINT AS n_concordant,
       |  (count(*) - sum(concordant))::BIGINT AS n_discordant,
       |  round((sum(concordant) - (count(*) - sum(concordant)))::DOUBLE / count(*), 4) AS tau
       |FROM pairs""".stripMargin

  /** Minimum days on each side of a change-point candidate. */
  val CpMinSeg = 5

  /** Single change-point detection on the daily total value series:
    * the split day maximizing the two-sample t statistic between the
    * segment means (binary segmentation, step 1 — the scalable
    * classic). Prefix sums over one bounded window give every
    * candidate's segment means and pooled variance in one pass; the
    * argmax is a 1-row head over the rounded statistic with an
    * earliest-day tiebreak, so both engines pick the same day.
    *
    * Scale: the series is calendar-bounded after the daily aggregate;
    * the scan is a window over ≤ days rows.
    */
  def changepoint(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.events(spark, sfDir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(round(sum("value"), 4).as("v"))
    val w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = daily.agg(
      count(lit(1)).as("n"), sum("v").as("s"), sum(col("v") * col("v")).as("ss"))
    daily
      .withColumn("n1", count(lit(1)).over(w))
      .withColumn("s1", sum("v").over(w))
      .withColumn("ss1", sum(col("v") * col("v")).over(w))
      .crossJoin(broadcast(tot))
      .withColumn("n2", col("n") - col("n1"))
      .where(col("n1") >= CpMinSeg && col("n2") >= CpMinSeg)
      .withColumn("m1", col("s1") / col("n1"))
      .withColumn("m2", (col("s") - col("s1")) / col("n2"))
      .withColumn("pooled",
        ((col("ss1") - col("n1") * col("m1") * col("m1")) +
         (col("ss") - col("ss1") - col("n2") * col("m2") * col("m2"))) / (col("n") - 2))
      // zero-variance series: every candidate's t is 0/0 and NaN
      // ORDERING differs across engines — declare "no change point"
      // (empty result) instead
      .where(col("pooled") > 0)
      .withColumn("t_stat", round(
        abs(col("m1") - col("m2")) /
        sqrt(col("pooled") * (lit(1.0) / col("n1") + lit(1.0) / col("n2"))), 4))
      .select(col("day").as("split_day"), round(col("m1"), 4).as("mean_before"),
        round(col("m2"), 4).as("mean_after"), col("t_stat"))
      .orderBy(col("t_stat").desc, col("split_day").asc)
      .limit(1)
  }

  val changepointSql: String =
    s"""WITH daily AS (
       |  SELECT ts::TIMESTAMP::DATE AS day, round(sum(value), 4) AS v
       |  FROM events GROUP BY 1
       |), pre AS (
       |  SELECT day,
       |    count(*) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n1,
       |    sum(v) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s1,
       |    sum(v * v) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ss1
       |  FROM daily
       |), tot AS (
       |  SELECT count(*) AS n, sum(v) AS s, sum(v * v) AS ss FROM daily
       |), cand AS (
       |  SELECT day, n1, s1, ss1, n, s, ss, n - n1 AS n2,
       |    s1 / n1 AS m1, (s - s1) / (n - n1) AS m2
       |  FROM pre CROSS JOIN tot
       |  WHERE n1 >= $CpMinSeg AND n - n1 >= $CpMinSeg
       |), pooledv AS (
       |  SELECT *, ((ss1 - n1 * m1 * m1) + (ss - ss1 - n2 * m2 * m2)) / (n - 2) AS pooled
       |  FROM cand
       |), scored AS (
       |  SELECT day AS split_day, round(m1, 4) AS mean_before, round(m2, 4) AS mean_after,
       |    round(abs(m1 - m2) / sqrt(pooled * (1.0 / n1 + 1.0 / n2)), 4) AS t_stat
       |  FROM pooledv WHERE pooled > 0
       |)
       |SELECT * FROM scored ORDER BY t_stat DESC, split_day ASC LIMIT 1""".stripMargin

  /** Right-censoring horizon: a user whose last event is within this
    * many days of the corpus end may still be active. */
  val KmCensorDays = 7

  /** Kaplan–Meier retention curve over user lifetimes: duration =
    * days between a user's first and last event; a lifetime is an
    * observed churn only if the last event predates the corpus end by
    * more than [[KmCensorDays]] (otherwise right-censored — the user
    * may still be active). S(t) = Π_{u ≤ t} (1 − d_u/n_u), computed
    * as exp(Σ ln) with a cumulative zero-factor guard (both engines
    * lack a product aggregate/window combination that agrees).
    *
    * The survival-analysis answer to "how long do users stay?" next
    * to q_retention_cohorts' calendar-grid rates: KM handles censored
    * users correctly instead of undercounting them as churned.
    *
    * Scale: one per-user aggregate, then everything is over distinct
    * durations (≤ days rows).
    */
  def survivalKm(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir).select(col("user_id"), to_date(col("ts")).as("day"))
    val horizon = ev.agg(max("day").as("max_d"))
    val users = ev.groupBy("user_id")
      .agg(min("day").as("first_d"), max("day").as("last_d"))
      .crossJoin(broadcast(horizon))
      .withColumn("duration", datediff(col("last_d"), col("first_d")))
      .withColumn("churned",
        (datediff(col("max_d"), col("last_d")) > KmCensorDays).cast("int"))
    // r10 rescan sever: the duration histogram is calendar-bounded —
    // checkpoint it once and derive the user total FROM it (Σ n_ending
    // = n_users), instead of a second full per-user pass (events ×4 in
    // the r9 plan)
    val byDur = users.groupBy("duration")
      .agg(count(lit(1)).as("n_ending"), sum("churned").as("n_churn"))
      .localCheckpoint()
    val wPrev = Window.orderBy("duration").rowsBetween(Window.unboundedPreceding, -1)
    val wCum = Window.orderBy("duration").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val totalDf = byDur.agg(sum("n_ending").as("n_users"))
    byDur.crossJoin(broadcast(totalDf))
      .withColumn("n_risk", col("n_users") - coalesce(sum("n_ending").over(wPrev), lit(0L)))
      .withColumn("factor",
        (col("n_risk") - col("n_churn")).cast("double") / col("n_risk"))
      .withColumn("zero_seen", min(col("n_risk") - col("n_churn")).over(wCum))
      .withColumn("survival",
        when(col("zero_seen") === 0, lit(0.0))
          .otherwise(round(exp(sum(log(col("factor"))).over(wCum)), 4)))
      .select("duration", "n_risk", "n_churn", "survival")
      .orderBy("duration")
  }

  val survivalKmSql: String =
    s"""WITH ev AS (
       |  SELECT user_id, ts::TIMESTAMP::DATE AS day FROM events
       |), h AS (SELECT max(day) AS max_d FROM ev),
       |users AS (
       |  SELECT user_id, max_d, min(day) AS first_d, max(day) AS last_d,
       |    max(day) - min(day) AS duration,
       |    CASE WHEN max_d - max(day) > $KmCensorDays THEN 1 ELSE 0 END AS churned
       |  FROM ev CROSS JOIN h GROUP BY user_id, max_d
       |), bydur AS (
       |  SELECT duration, count(*) AS n_ending, sum(churned) AS n_churn
       |  FROM users GROUP BY 1
       |), t AS (SELECT count(*) AS n_users FROM users),
       |risk AS (
       |  SELECT duration, n_churn,
       |    n_users - coalesce(sum(n_ending) OVER
       |      (ORDER BY duration ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
       |  FROM bydur CROSS JOIN t
       |)
       |SELECT duration, n_risk::BIGINT AS n_risk, n_churn::BIGINT AS n_churn,
       |  CASE WHEN min(n_risk - n_churn) OVER
       |      (ORDER BY duration ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 0
       |    THEN 0.0
       |    ELSE round(exp(sum(ln((n_risk - n_churn)::DOUBLE / n_risk)) OVER
       |      (ORDER BY duration ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 4)
       |  END AS survival
       |FROM risk ORDER BY duration""".stripMargin

  /** Winsorization clip quantiles. */
  val WinsLo = 0.05
  val WinsHi = 0.95

  /** Winsorization audit per event type: exact p05/p95 clip bounds
    * (rounded cross-engine BEFORE clipping so both engines clip the
    * same rows), clip counts, and the raw vs winsorized mean/stddev —
    * the outlier-robust preprocessing step a feature pipeline applies
    * before z-scoring (companion to q_mad_outliers, which flags rows;
    * this one conditions the column).
    *
    * Scale: one exact percentile pass per type (approx_percentile at
    * 100 TB, same shape) + one conditional aggregate; bounds join back
    * by broadcast.
    */
  def winsorize(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir).select(col("event_type"), col("value"))
    val bounds = ev.groupBy("event_type").agg(
      round(expr(s"percentile(value, $WinsLo)"), 4).as("p_lo"),
      round(expr(s"percentile(value, $WinsHi)"), 4).as("p_hi"))
    ev.join(broadcast(bounds), "event_type")
      .withColumn("w", greatest(least(col("value"), col("p_hi")), col("p_lo")))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        max("p_lo").as("p_lo"),
        max("p_hi").as("p_hi"),
        sum((col("value") < col("p_lo")).cast("long")).as("n_clip_lo"),
        sum((col("value") > col("p_hi")).cast("long")).as("n_clip_hi"),
        round(avg("value"), 4).as("mean_raw"),
        round(avg("w"), 4).as("mean_wins"),
        round(stddev_samp("w"), 4).as("std_wins"))
      .orderBy("event_type")
  }

  val winsorizeSql: String =
    s"""WITH ev AS (SELECT event_type, value FROM events),
       |b AS (
       |  SELECT event_type,
       |    round(quantile_cont(value, $WinsLo), 4) AS p_lo,
       |    round(quantile_cont(value, $WinsHi), 4) AS p_hi
       |  FROM ev GROUP BY 1
       |)
       |SELECT ev.event_type, count(*) AS n,
       |  max(p_lo) AS p_lo, max(p_hi) AS p_hi,
       |  sum(CASE WHEN value < p_lo THEN 1 ELSE 0 END)::BIGINT AS n_clip_lo,
       |  sum(CASE WHEN value > p_hi THEN 1 ELSE 0 END)::BIGINT AS n_clip_hi,
       |  round(avg(value), 4) AS mean_raw,
       |  round(avg(greatest(least(value, p_hi), p_lo)), 4) AS mean_wins,
       |  round(stddev_samp(greatest(least(value, p_hi), p_lo)), 4) AS std_wins
       |FROM ev JOIN b USING (event_type)
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Hill estimator order statistics used (top-k tail sample). */
  val HillK = 100

  /** Hill tail-index estimator per event type: α̂ = k / Σᵢ₌₁..k
    * ln(x₍ᵢ₎/x₍ₖ₊₁₎) over the k largest values — the extreme-value-
    * theory standard for "how heavy is this tail?" (α ≤ 2 means
    * infinite variance: mean-based monitoring is lying to you). The
    * rank-frequency companion q_zipf_fit measures the discrete analog;
    * Hill measures the continuous magnitude tail.
    *
    * Ties at the k/k+1 boundary are harmless by construction — equal
    * values produce identical log-ratios whichever row is selected —
    * and the per-type top-(k+1) is a bounded window head, never a
    * global sort.
    */
  def hillTail(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy(col("value").desc, col("event_id").asc)
    Tables.events(spark, sfDir)
      .select(col("event_type"), col("event_id"), col("value"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= HillK + 1)
      .groupBy("event_type")
      .agg(
        max(when(col("rn") === HillK + 1, col("value"))).as("x_k1"),
        sum(when(col("rn") <= HillK, log(col("value")))).as("sum_ln"))
      .withColumn("alpha",
        round(lit(HillK) / (col("sum_ln") - lit(HillK) * log(col("x_k1"))), 4))
      .select(col("event_type"), lit(HillK).as("k"),
        round(col("x_k1"), 4).as("x_tail"), col("alpha"))
      .orderBy("event_type")
  }

  val hillTailSql: String =
    s"""WITH ranked AS (
       |  SELECT event_type, value,
       |    row_number() OVER (PARTITION BY event_type
       |      ORDER BY value DESC, event_id ASC) AS rn
       |  FROM events
       |), agg AS (
       |  SELECT event_type,
       |    max(CASE WHEN rn = ${HillK + 1} THEN value END) AS x_k1,
       |    sum(CASE WHEN rn <= $HillK THEN ln(value) END) AS sum_ln
       |  FROM ranked WHERE rn <= ${HillK + 1} GROUP BY 1
       |)
       |SELECT event_type, $HillK AS k, round(x_k1, 4) AS x_tail,
       |  round($HillK / (sum_ln - $HillK * ln(x_k1)), 4) AS alpha
       |FROM agg ORDER BY event_type""".stripMargin

  /** Wilson interval z for 95% confidence. */
  val WilsonZ = 1.96

  /** Wilson score lower bound of the per-user purchase rate, top
    * [[SmoothTopN]] users — the OTHER canonical fix for small-sample
    * rate ranking next to [[bayesRate]]'s empirical-Bayes shrinkage
    * ("how not to sort by average rating"): a pessimistic confidence
    * bound instead of a prior. Shipping both lets a pipeline A/B the
    * two standard rankers on identical inputs.
    */
  def wilsonLb(spark: SparkSession, sfDir: String): DataFrame = {
    val z2 = WilsonZ * WilsonZ
    val per = Tables.events(spark, sfDir)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"),
           sum(when(col("event_type") === "purchase", 1).otherwise(0)).as("pos"))
      .withColumn("p", col("pos").cast("double") / col("n"))
    per
      .withColumn("wilson_lb", round(
        (col("p") + lit(z2) / (lit(2.0) * col("n")) -
          lit(WilsonZ) * sqrt(col("p") * (lit(1.0) - col("p")) / col("n") +
            lit(z2) / (lit(4.0) * col("n") * col("n")))) /
        (lit(1.0) + lit(z2) / col("n")), 4))
      .withColumn("raw_rate", round(col("p"), 4))
      .select(col("user_id"), col("n").as("n_events"), col("pos").as("n_purchases"),
        col("raw_rate"), col("wilson_lb"))
      .orderBy(col("wilson_lb").desc, col("user_id").asc)
      .limit(SmoothTopN)
  }

  val wilsonLbSql: String = {
    val z2 = WilsonZ * WilsonZ
    s"""WITH per AS (
       |  SELECT user_id, count(*) AS n,
       |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS pos
       |  FROM events GROUP BY 1
       |), p AS (SELECT *, pos::DOUBLE / n AS p FROM per)
       |SELECT user_id, n AS n_events, pos AS n_purchases,
       |  round(p, 4) AS raw_rate,
       |  round((p + $z2 / (2.0 * n) - $WilsonZ * sqrt(p * (1.0 - p) / n
       |        + $z2 / (4.0 * n * n))) / (1.0 + $z2 / n), 4) AS wilson_lb
       |FROM p
       |ORDER BY wilson_lb DESC, user_id ASC
       |LIMIT $SmoothTopN""".stripMargin
  }

  /** Overdispersion check of the daily event counts per type: the
    * variance/mean dispersion index (Poisson ⇒ 1) and the
    * method-of-moments negative-binomial size r = μ²/(σ²−μ) when
    * overdispersed — the test that decides whether Poisson-based
    * alerting thresholds (and the Poisson bootstrap's weight model)
    * are honest for this stream, or whether burstiness demands NB
    * quantiles. NULL r (var ≤ mean) means Poisson is fine.
    *
    * Scale: two nested narrow aggregates, both calendar-bounded.
    */
  def overdispersion(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
           avg("n").as("mu"),
           var_samp(col("n").cast("double")).as("v"))
      .withColumn("dispersion", round(col("v") / col("mu"), 4))
      .withColumn("nb_r",
        when(col("v") > col("mu"),
          round(col("mu") * col("mu") / (col("v") - col("mu")), 4)))
      .select(col("event_type"), col("n_days"),
        round(col("mu"), 4).as("mean_daily"),
        round(col("v"), 4).as("var_daily"),
        col("dispersion"), col("nb_r"))
      .orderBy("event_type")

  val overdispersionSql: String =
    """WITH daily AS (
      |  SELECT event_type, ts::TIMESTAMP::DATE AS day, count(*) AS n
      |  FROM events GROUP BY 1, 2
      |), agg AS (
      |  SELECT event_type, count(*) AS n_days,
      |    avg(n) AS mu, var_samp(n::DOUBLE) AS v
      |  FROM daily GROUP BY 1
      |)
      |SELECT event_type, n_days,
      |  round(mu, 4) AS mean_daily,
      |  round(v, 4) AS var_daily,
      |  round(v / mu, 4) AS dispersion,
      |  CASE WHEN v > mu THEN round(mu * mu / (v - mu), 4) END AS nb_r
      |FROM agg ORDER BY event_type""".stripMargin

  /** Mutual information / association audit between two categorical
    * features — market segment × nation over customers. Emits the MI
    * (nats), the normalized MI (MI / √(H(X)·H(Y))), and Cramér's V in
    * one row: the feature-relevance triple a training pipeline runs
    * before one-hot-encoding a high-cardinality column.
    *
    * Scale: one broadcast dim join + one groupBy to the JOINT
    * contingency table — at most |X|·|Y| cells regardless of row
    * count. Marginals are window sums over those cells (no second
    * scan), and the χ² over UNOBSERVED cells is closed-form:
    * Σ_all e = n, so their contribution is n − Σ_observed e — no
    * dense cross join of the category domains ever materializes.
    */
  def mutualInfo(spark: SparkSession, sfDir: String): DataFrame = {
    val joint = Tables.customer(spark, sfDir)
      .join(broadcast(Tables.nation(spark, sfDir)),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_mktsegment").as("x"), col("n_name").as("y"))
      .agg(count(lit(1)).cast("double").as("nxy"))
    val cells = joint
      .withColumn("nx", sum("nxy").over(Window.partitionBy("x")))
      .withColumn("ny", sum("nxy").over(Window.partitionBy("y")))
      .withColumn("n", sum("nxy").over(Window.partitionBy()))
    cells
      .agg(
        first(col("n")).as("n0"),
        countDistinct("x").as("x_card"),
        countDistinct("y").as("y_card"),
        sum(col("nxy") / col("n") *
          log(col("nxy") * col("n") / (col("nx") * col("ny")))).as("mi"),
        sum(col("nxy") / col("n") * log(col("nx") / col("n"))).as("shx"),
        sum(col("nxy") / col("n") * log(col("ny") / col("n"))).as("shy"),
        sum(pow(col("nxy") - col("nx") * col("ny") / col("n"), 2)
          / (col("nx") * col("ny") / col("n"))).as("chi_obs"),
        sum(col("nx") * col("ny") / col("n")).as("e_obs"))
      .select(
        col("n0").cast("long").as("n"),
        col("x_card"), col("y_card"),
        round(col("mi"), 6).as("mi_nats"),
        round(col("mi") / sqrt(col("shx") * col("shy")), 6).as("nmi"),
        round(sqrt((col("chi_obs") + col("n0") - col("e_obs"))
          / (col("n0") * (least(col("x_card"), col("y_card")) - 1))), 6)
          .as("cramers_v"))
  }

  val mutualInfoSql: String =
    """WITH joint AS (
      |  SELECT c_mktsegment AS x, n_name AS y, count(*)::DOUBLE AS nxy
      |  FROM customer JOIN nation ON c_nationkey = n_nationkey
      |  GROUP BY 1, 2
      |), cells AS (
      |  SELECT nxy,
      |    sum(nxy) OVER (PARTITION BY x) AS nx,
      |    sum(nxy) OVER (PARTITION BY y) AS ny,
      |    sum(nxy) OVER () AS n,
      |    x, y
      |  FROM joint
      |), agg AS (
      |  SELECT first(n) AS n0,
      |    count(DISTINCT x) AS x_card, count(DISTINCT y) AS y_card,
      |    sum(nxy / n * ln(nxy * n / (nx * ny))) AS mi,
      |    sum(nxy / n * ln(nx / n)) AS shx,
      |    sum(nxy / n * ln(ny / n)) AS shy,
      |    sum(pow(nxy - nx * ny / n, 2) / (nx * ny / n)) AS chi_obs,
      |    sum(nx * ny / n) AS e_obs
      |  FROM cells
      |)
      |SELECT n0::BIGINT AS n, x_card::BIGINT AS x_card, y_card::BIGINT AS y_card,
      |  round(mi, 6) AS mi_nats,
      |  round(mi / sqrt(shx * shy), 6) AS nmi,
      |  round(sqrt((chi_obs + n0 - e_obs)
      |    / (n0 * (least(x_card, y_card) - 1))), 6) AS cramers_v
      |FROM agg""".stripMargin

  /** Longest ACF lag reported (days). The fixture event stream spans
    * 30 calendar days at every sf, so lag 14 still has ≥ 16 pairs. */
  val AcfMaxLag = 14

  /** Autocorrelation function of the daily total event value at lags
    * 1..[[AcfMaxLag]] — the seasonality detector that decides the
    * period for [[Analytics.seasonalDecompose]] / the naive
    * forecaster. Daily totals are exact 1e-2 fixed-point longs (the
    * house cross-engine determinism idiom); ACF(ℓ) =
    * Σ(x_t−μ)(x_{t+ℓ}−μ) / Σ(x_t−μ)² with the mean and denominator
    * over the FULL series (the standard biased estimator, so acf ≤ 1
    * and comparable across lags).
    *
    * Scale: one narrow aggregate collapses the stream to
    * calendar-bounded daily rows; everything after — the lag
    * explode, the self-join on day+ℓ, the scalar mean/denominator —
    * runs on that bounded series via broadcasts. No window over the
    * raw stream, no stream self-join.
    */
  def acf(spark: SparkSession, sfDir: String): DataFrame = {
    // severed once: the calendar-bounded daily series feeds the mean,
    // the denominator and both lag-join sides (r9s2 rescan sweep)
    val daily = Tables.events(spark, sfDir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
      .localCheckpoint()
    val mu = daily.agg(avg(col("cents").cast("double")).as("mu"))
    val centered = daily.crossJoin(broadcast(mu))
      .select(col("day"), (col("cents") - col("mu")).as("dev"))
    val denom = centered.agg(sum(col("dev") * col("dev")).as("s0"))
    val lags = spark.range(1, AcfMaxLag + 1).select(col("id").cast("int").as("lag"))
    centered
      .crossJoin(broadcast(lags))
      .withColumn("day2", date_add(col("day"), col("lag")))
      .join(broadcast(centered.select(col("day").as("day2"), col("dev").as("dev2"))),
        Seq("day2"))
      .groupBy("lag")
      .agg(count(lit(1)).as("n_pairs"), sum(col("dev") * col("dev2")).as("num"))
      .crossJoin(broadcast(denom))
      .select(col("lag"), col("n_pairs"), round(col("num") / col("s0"), 6).as("acf"))
      .orderBy("lag")
  }

  val acfSql: String =
    s"""WITH daily AS (
       |  SELECT ts::TIMESTAMP::DATE AS day,
       |    sum(CAST(round(value * 100) AS BIGINT)) AS cents
       |  FROM events GROUP BY 1
       |), c AS (
       |  SELECT day, cents::DOUBLE - (SELECT avg(cents::DOUBLE) FROM daily) AS dev
       |  FROM daily
       |), den AS (SELECT sum(dev * dev) AS s0 FROM c),
       |lags AS (SELECT range::INTEGER AS lag FROM range(1, ${AcfMaxLag + 1}))
       |SELECT l.lag, count(*)::BIGINT AS n_pairs,
       |  round(sum(a.dev * b.dev) / (SELECT s0 FROM den), 6) AS acf
       |FROM c a CROSS JOIN lags l JOIN c b ON b.day = a.day + l.lag
       |GROUP BY l.lag ORDER BY l.lag""".stripMargin

  /** Theil–Sen robust trend of the daily total event value: the
    * median of all pairwise slopes (v_j−v_i)/(t_j−t_i) over day pairs
    * plus the matching median intercept — the outlier-proof
    * alternative to OLS for "is this metric drifting" alerts (a
    * single anomalous day moves OLS, not the pairwise-slope median).
    *
    * Scale: the O(d²) pair space is over DAYS, not rows — bounded by
    * the calendar² (30 days → 435 pairs here; a decade of days →
    * ~6.7M pairs), so the theta-join over the broadcast day series is
    * sound at any corpus size. The raw stream is touched once, by the
    * daily fixed-point aggregate.
    */
  def theilSen(spark: SparkSession, sfDir: String): DataFrame = {
    // severed once: the daily series feeds the origin, both pair
    // sides and the intercept pass (r9s2 rescan sweep)
    val daily = Tables.events(spark, sfDir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
      .localCheckpoint()
    val d0 = daily.agg(min("day").as("d0"))
    val pts = daily.crossJoin(broadcast(d0))
      .select(datediff(col("day"), col("d0")).as("t"),
        col("cents").cast("double").as("v"))
    val slopes = pts.select(col("t").as("t1"), col("v").as("v1"))
      .join(broadcast(pts.select(col("t").as("t2"), col("v").as("v2"))),
        col("t2") > col("t1"))
      .select(((col("v2") - col("v1")) / (col("t2") - col("t1"))).as("slope"))
    val fit = slopes.agg(expr("percentile(slope, 0.5)").as("slope"),
      count(lit(1)).as("n_pairs"))
    pts.crossJoin(broadcast(fit))
      .groupBy("n_pairs", "slope")
      .agg(count(lit(1)).as("n_days"),
           expr("percentile(v - slope * t, 0.5)").as("intercept"))
      .select(col("n_days"), col("n_pairs"),
        round(col("slope"), 6).as("slope_cents_per_day"),
        round(col("intercept"), 4).as("intercept_cents"))
  }

  val theilSenSql: String =
    """WITH daily AS (
      |  SELECT ts::TIMESTAMP::DATE AS day,
      |    sum(CAST(round(value * 100) AS BIGINT)) AS cents
      |  FROM events GROUP BY 1
      |), pts AS (
      |  SELECT (day - (SELECT min(day) FROM daily))::INTEGER AS t, cents::DOUBLE AS v
      |  FROM daily
      |), slopes AS (
      |  SELECT (b.v - a.v) / (b.t - a.t) AS slope
      |  FROM pts a JOIN pts b ON b.t > a.t
      |), s AS (SELECT median(slope) AS slope, count(*) AS n_pairs FROM slopes)
      |SELECT count(*)::BIGINT AS n_days, (SELECT n_pairs FROM s)::BIGINT AS n_pairs,
      |  round((SELECT slope FROM s), 6) AS slope_cents_per_day,
      |  round(median(v - (SELECT slope FROM s) * t), 4) AS intercept_cents
      |FROM pts""".stripMargin

  /** Mann–Kendall trend test per event type over the daily value
    * series — the SIGNIFICANCE companion to [[theilSen]]'s slope (the
    * two are the standard pairing for monotone-trend monitoring:
    * Theil–Sen says how steep, Mann–Kendall says whether to believe
    * it). S = Σ sign(v_j − v_i) over ordered day pairs, exact BIGINT
    * on cents fixed-pointed BEFORE summation (the qte rule — float
    * daily sums would make sign() order-dependent); Var(S) uses the
    * tie-corrected closed form, kept as the integer 18·Var so the
    * only doubles are one sqrt and one division; z applies the
    * ±1 continuity correction, and the verdict thresholds the ROUNDED
    * z (never a raw float compare). All-tied series have Var = 0 →
    * NULL z, 'undefined' verdict on both engines.
    *
    * Scale: the day series is calendar-bounded, so the per-type pair
    * join is (days choose 2) — fixed by the observation span however
    * large the corpus; the only corpus-sized pass is the daily cents
    * aggregate.
    */
  def mannKendall(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.events(spark, sfDir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
      .localCheckpoint() // feeds both pair sides AND the n/tie pass
    val s = daily.as("a")
      .join(daily.as("b"),
        col("a.event_type") === col("b.event_type") && col("b.day") > col("a.day"))
      .groupBy(col("a.event_type").as("event_type"))
      .agg(sum(when(col("b.cents") > col("a.cents"), 1L)
        .when(col("b.cents") < col("a.cents"), -1L).otherwise(0L)).as("s_stat"))
    val nt = daily.groupBy("event_type", "cents").agg(count(lit(1)).as("t"))
      .groupBy("event_type")
      .agg(sum(col("t")).as("n_days"),
           sum(col("t") * (col("t") - 1) * (lit(2L) * col("t") + 5)).as("tie18"))
    s.join(nt, "event_type")
      .withColumn("var18",
        col("n_days") * (col("n_days") - 1) * (lit(2L) * col("n_days") + 5) - col("tie18"))
      .withColumn("z", round(
        when(col("var18") <= 0, lit(null).cast("double"))
          .when(col("s_stat") > 0,
            (col("s_stat") - 1).cast("double") / sqrt(col("var18") / 18.0))
          .when(col("s_stat") < 0,
            (col("s_stat") + 1).cast("double") / sqrt(col("var18") / 18.0))
          .otherwise(0.0), 4))
      .withColumn("trend",
        when(col("z").isNull, "undefined")
          .when(col("z") > 1.96, "increasing")
          .when(col("z") < -1.96, "decreasing")
          .otherwise("none"))
      .select("event_type", "n_days", "s_stat", "var18", "z", "trend")
      .orderBy("event_type")
  }

  val mannKendallSql: String =
    """WITH daily AS (
      |  SELECT event_type, ts::TIMESTAMP::DATE AS day,
      |    sum(CAST(round(value * 100) AS BIGINT)) AS cents
      |  FROM events GROUP BY 1, 2
      |), s AS (
      |  SELECT a.event_type,
      |    sum(CASE WHEN b.cents > a.cents THEN 1
      |             WHEN b.cents < a.cents THEN -1 ELSE 0 END)::BIGINT AS s_stat
      |  FROM daily a JOIN daily b
      |    ON b.event_type = a.event_type AND b.day > a.day
      |  GROUP BY a.event_type
      |), nt AS (
      |  SELECT event_type, sum(t)::BIGINT AS n_days,
      |    sum(t * (t - 1) * (2 * t + 5))::BIGINT AS tie18
      |  FROM (SELECT event_type, cents, count(*)::BIGINT AS t
      |        FROM daily GROUP BY 1, 2)
      |  GROUP BY event_type
      |), v AS (
      |  SELECT s.event_type, s.s_stat, nt.n_days,
      |    (nt.n_days * (nt.n_days - 1) * (2 * nt.n_days + 5) - nt.tie18)::BIGINT AS var18
      |  FROM s JOIN nt USING (event_type)
      |), z AS (
      |  SELECT event_type, n_days, s_stat, var18,
      |    round(CASE WHEN var18 <= 0 THEN NULL
      |          WHEN s_stat > 0 THEN (s_stat - 1)::DOUBLE / sqrt(var18 / 18.0)
      |          WHEN s_stat < 0 THEN (s_stat + 1)::DOUBLE / sqrt(var18 / 18.0)
      |          ELSE 0.0 END, 4) AS z
      |  FROM v
      |)
      |SELECT event_type, n_days, s_stat, var18, z,
      |  CASE WHEN z IS NULL THEN 'undefined'
      |       WHEN z > 1.96 THEN 'increasing'
      |       WHEN z < -1.96 THEN 'decreasing'
      |       ELSE 'none' END AS trend
      |FROM z
      |ORDER BY event_type""".stripMargin

  /** Wilcoxon signed-rank test — the NONPARAMETRIC paired member,
    * completing the within-subject trio (McNemar: binary; paired t:
    * parametric continuous; this: continuous without the normality
    * assumption). Same pairing as [[Analytics.mcnemar]]: per-user
    * H2 − H1 purchase cents (fixed-pointed before summation), zero
    * deltas dropped per the standard procedure, ranks of |d| with
    * average-rank ties via [[avgRanks2]]'s [[RankPrefix.before]]
    * prefix — DOUBLED ranks keep W⁺ exact (W2 = Σ_{d>0} r2 = 2·W⁺ is
    * a BIGINT), and the tie-corrected normal approximation
    * z = (W⁺ − n(n+1)/4) / √(n(n+1)(2n+1)/24 − Σ(t³−t)/48) is one
    * IEEE expression over exact integers (the [[mannWhitneyOf]]
    * convention: tie-corrected, no continuity correction). Verdict
    * thresholds the ROUNDED z.
    *
    * Scale: one per-user corpus aggregate; the rank pass aggregates
    * by |d| value (coarse-cell sharded, never a global row sort);
    * 1-row assembly. Integer headroom: W2 is an exact BIGINT (≤ 2n² —
    * safe past 10⁹ users); tie3 = Σ(t³−t) is DECIMAL(38,0) / HUGEINT
    * (t³ would wrap int64 once one tie group passes ~2.09M users,
    * where DuckDB raises instead); the VARIANCE factors are
    * widened to double BEFORE multiplying (n(n+1)(2n+1) would wrap
    * int64 at n ≈ 1.6M — the widened product loses only ulps, 12
    * digits below the 4 dp rounding, and both engines run the
    * identical op order).
    */
  def wilcoxonSignedRank(spark: SparkSession, sfDir: String): DataFrame = {
    val per = Analytics.pairedDeltas(spark, sfDir)
      .where(col("d") =!= 0)
      .select(abs(col("d")).as("v"), (col("d") > 0).cast("long").as("pos"))
      // feeds the tie histogram AND the rank join — severed once
      .localCheckpoint()
    val g = per.groupBy("v").agg(sum("pos").as("npos"), count(lit(1)).as("t"))
    val s = g.join(avgRanks2(per.select("v")), "v")
      .agg(sum(col("npos") * col("r2")).as("w2p"),
           sum("t").as("n"),
           tieSum(col("t")).as("tie3"))
    val varD = col("n").cast("double") * (col("n") + 1).cast("double") *
      (lit(2L) * col("n") + 1).cast("double") / 24.0 -
      col("tie3").cast("double") / 48.0
    s.select(
        col("n").as("n_pairs"),
        round(col("w2p") / 2.0, 4).as("w_plus"),
        round(when(col("n") > 0 && varD > 0,
          (col("w2p") / 2.0 - col("n") * (col("n") + 1) / 4.0) / sqrt(varD)), 4)
          .as("z"))
      .withColumn("verdict",
        when(col("z").isNull, "undefined")
          .when(abs(col("z")) > 1.96, "shifted")
          .otherwise("stable"))
  }

  val wilcoxonSignedRankSql: String =
    s"""WITH ${Analytics.pairedDeltasSql}, g AS (
       |  SELECT abs(d) AS v,
       |    sum(CASE WHEN d > 0 THEN 1 ELSE 0 END)::BIGINT AS npos,
       |    count(*)::BIGINT AS t
       |  FROM per WHERE d <> 0 GROUP BY 1
       |), r AS (
       |  SELECT v, npos, t,
       |    coalesce(sum(t) OVER (ORDER BY v
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS before
       |  FROM g
       |), s AS (
       |  SELECT sum(npos * (2 * before + t + 1))::BIGINT AS w2p,
       |    sum(t)::BIGINT AS n, sum(t::HUGEINT * t * t - t) AS tie3
       |  FROM r
       |), out AS (
       |  SELECT n AS n_pairs, round(w2p / 2.0, 4) AS w_plus,
       |    round(CASE WHEN n > 0
       |      AND (n::DOUBLE * (n + 1)::DOUBLE * (2 * n + 1)::DOUBLE / 24.0 - tie3::DOUBLE / 48.0) > 0
       |      THEN (w2p / 2.0 - n * (n + 1) / 4.0)
       |           / sqrt(n::DOUBLE * (n + 1)::DOUBLE * (2 * n + 1)::DOUBLE / 24.0 - tie3::DOUBLE / 48.0) END, 4) AS z
       |  FROM s
       |)
       |SELECT n_pairs, w_plus, z,
       |  CASE WHEN z IS NULL THEN 'undefined'
       |       WHEN abs(z) > 1.96 THEN 'shifted'
       |       ELSE 'stable' END AS verdict
       |FROM out""".stripMargin

  /** The two event-type samples the rank-sum test compares. */
  val MwA = "purchase"
  val MwB = "click"

  /** Mann–Whitney U rank-sum test on the event `value` distributions
    * of [[MwA]] vs [[MwB]] — the nonparametric complement to
    * [[ksTest]] (KS asks "are the distributions different anywhere";
    * U asks "does one stochastically dominate"). Average ranks with
    * exact tie handling, tie-corrected normal approximation for z,
    * and the rank-biserial effect size r = 1 − 2U/(n₁n₂).
    *
    * Scale: ranks are NEVER assigned per row — one aggregate
    * collapses the stream to (value, n_a, n_b) groups (bounded by the
    * value domain: 2-decimal readings), and the prefix sum over that
    * aggregate is [[RankPrefix.before]] (within-cell partitioned
    * windows + broadcast cell offsets), so even an UNBOUNDED value
    * domain never funnels through one task. Every tie group's average rank is the
    * closed form before + (t+1)/2; rank sums are then weighted sums.
    * Ranks stay in exact .5 steps (doubles are exact there), so U is
    * exact and the rounded outputs are engine-invariant.
    */
  def mannWhitney(spark: SparkSession, sfDir: String): DataFrame =
    mannWhitneyOf(Tables.events(spark, sfDir)
      .where(col("event_type").isin(MwA, MwB))
      .select(col("value").as("v"), (col("event_type") === MwA).as("is_a")))

  /** Shared rank-sum aggregate over (v, is_a) pairs: the
    * [[RankPrefix.before]] average-rank prefix (see [[mannWhitney]]'s
    * scaladoc) reduced to ONE row (n1, n2, r1, tie3) — r1 = Σ avg-ranks of
    * group A. Feeds both the U test and [[evalAuc]] (AUC is exactly
    * U1/(n1·n2), the probability a random positive outranks a random
    * negative). */
  private[graft] def rankSumAgg(pairs: DataFrame): DataFrame = {
    // severed once: the value histogram feeds the prefix's min/max,
    // cell totals and running sums (r9s2 sweep — one corpus scan)
    val g = pairs
      .groupBy(col("v"))
      .agg(sum(when(col("is_a"), 1).otherwise(0)).as("na"),
           sum(when(!col("is_a"), 1).otherwise(0)).as("nb"))
      .withColumn("t", col("na") + col("nb"))
      .localCheckpoint()
    RankPrefix.before(g, Nil, "v", "t")
      .withColumn("avg_rank", col("t_before") + (col("t") + 1.0) / 2.0)
      .agg(sum("na").as("n1"), sum("nb").as("n2"),
           sum(col("na") * col("avg_rank")).as("r1"),
           tieSum(col("t")).as("tie3"))
  }

  /** Σ(t³ − t) over tie-group sizes t, the rank tests' tie correction,
    * in DECIMAL(38,0): one tie group past ~2.09M rows would wrap t³ in
    * int64 (where DuckDB raises); the decimal moment is exact to
    * t ≈ 4.6e12 per group. The oracles sum `t::HUGEINT * t * t - t`. */
  private def tieSum(t: Column): Column =
    sum(t.cast("decimal(38,0)") * t * t - t)

  private[graft] def mannWhitneyOf(pairs: DataFrame): DataFrame = {
    rankSumAgg(pairs)
      .select(col("n1"), col("n2"),
        (col("r1") - col("n1") * (col("n1") + 1) / 2.0).as("u1"),
        col("tie3"), (col("n1") + col("n2")).as("n"))
      .select(col("n1"), col("n2"), round(col("u1"), 4).as("u1"),
        round((col("u1") - col("n1") * col("n2") / 2.0) /
          sqrt(col("n1") * col("n2") / 12.0 *
            ((col("n") + 1) - col("tie3") / (col("n") * (col("n") - 1.0)))), 4)
          .as("z"),
        round(lit(1.0) - lit(2.0) * col("u1") / (col("n1") * col("n2")), 6)
          .as("rank_biserial"))
  }

  val mannWhitneySql: String =
    s"""WITH g AS (
       |  SELECT value AS v,
       |    sum(CASE WHEN event_type = '$MwA' THEN 1 ELSE 0 END)::BIGINT AS na,
       |    sum(CASE WHEN event_type = '$MwB' THEN 1 ELSE 0 END)::BIGINT AS nb
       |  FROM events WHERE event_type IN ('$MwA', '$MwB')
       |  GROUP BY 1
       |), t AS (
       |  SELECT v, na, nb, na + nb AS t,
       |    coalesce(sum(na + nb) OVER (ORDER BY v
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
       |  FROM g
       |), r AS (
       |  SELECT v, na, nb, t, before + (t + 1.0) / 2.0 AS avg_rank FROM t
       |), agg AS (
       |  SELECT sum(na)::BIGINT AS n1, sum(nb)::BIGINT AS n2,
       |    sum(na * avg_rank) AS r1,
       |    sum(t::HUGEINT * t * t - t) AS tie3
       |  FROM r
       |), u AS (
       |  SELECT n1, n2, r1 - n1 * (n1 + 1) / 2.0 AS u1, tie3, n1 + n2 AS n
       |  FROM agg
       |)
       |SELECT n1, n2, round(u1, 4) AS u1,
       |  round((u1 - n1 * n2 / 2.0) /
       |    sqrt(n1 * n2 / 12.0 * ((n + 1) - tie3 / (n * (n - 1.0)))), 4) AS z,
       |  round(1.0 - 2.0 * u1 / (n1 * n2), 6) AS rank_biserial
       |FROM u""".stripMargin

  /** Propensity-AUC split: behavior observed before this bound scores
    * the user; the label window starts at [[AucLabelStart]] — the 4
    * days between are an embargo gap (neither scored nor labeled),
    * the same leakage discipline as [[PipelineOps.timeSplit]]. */
  val AucObsEnd = "2024-01-24"
  val AucLabelStart = "2024-01-28"

  /** Ranking-model AUC without a model registry: score each user by
    * observed click+view volume before [[AucObsEnd]], label by whether
    * they purchase on/after [[AucLabelStart]], and compute ROC AUC =
    * P(score_pos > score_neg) + ½P(tie) — which is EXACTLY the
    * Mann-Whitney U₁/(n₁·n₂), so the query rides [[rankSumAgg]]'s
    * average-rank prefix unchanged (no global sort,
    * no per-pair comparison — the rank-sum identity turns the n₁·n₂
    * pair space into one aggregate). The propensity baseline "activity
    * predicts conversion" is the eval every ranking team runs before
    * trusting a learned score; Gini = 2·AUC−1 is its accompanying
    * lift form. Ranks stay in exact .5 steps ⇒ U is exact; the two
    * final divisions are rounded once each.
    */
  def evalAuc(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.events(spark, sfDir)
    val scores = e
      .where(col("event_type").isin("click", "view") &&
        col("ts") < lit(AucObsEnd).cast("timestamp_ntz"))
      .groupBy("user_id").agg(count(lit(1)).as("score"))
    val pos = e
      .where(col("event_type") === "purchase" &&
        col("ts") >= lit(AucLabelStart).cast("timestamp_ntz"))
      .select("user_id").distinct()
    val pairs = scores.join(pos.withColumn("is_a", lit(true)), Seq("user_id"), "left")
      .select(col("score").cast("double").as("v"),
        coalesce(col("is_a"), lit(false)).as("is_a"))
    rankSumAgg(pairs)
      .select(col("n1").as("n_pos"), col("n2").as("n_neg"),
        // one empty class (all-converters / no-converters) leaves AUC
        // undefined: NULL on both engines, never NaN/Inf (qini guard)
        when(col("n1") * col("n2") > 0,
          (col("r1") - col("n1") * (col("n1") + 1) / 2.0) /
            (col("n1") * col("n2"))).as("auc0"))
      .select(col("n_pos"), col("n_neg"), round(col("auc0"), 6).as("auc"),
        round(col("auc0") * 2.0 - 1.0, 6).as("gini"))
  }

  /** Oracle: group-by-score counts + the closed-form average-rank
    * prefix (same shape as [[mannWhitneySql]]; the oracle's global
    * ORDER BY window is fine at verify scale). */
  val evalAucSql: String =
    s"""WITH scores AS (
       |  SELECT user_id, count(*)::BIGINT AS score
       |  FROM events
       |  WHERE event_type IN ('click', 'view') AND ts::TIMESTAMP < TIMESTAMP '$AucObsEnd'
       |  GROUP BY user_id
       |), pos AS (
       |  SELECT DISTINCT user_id FROM events
       |  WHERE event_type = 'purchase' AND ts::TIMESTAMP >= TIMESTAMP '$AucLabelStart'
       |), lab AS (
       |  SELECT s.score::DOUBLE AS v, (p.user_id IS NOT NULL) AS is_a
       |  FROM scores s LEFT JOIN pos p ON p.user_id = s.user_id
       |), g AS (
       |  SELECT v,
       |    sum(CASE WHEN is_a THEN 1 ELSE 0 END)::BIGINT AS na,
       |    sum(CASE WHEN NOT is_a THEN 1 ELSE 0 END)::BIGINT AS nb
       |  FROM lab GROUP BY v
       |), t AS (
       |  SELECT v, na, nb, na + nb AS t,
       |    coalesce(sum(na + nb) OVER (ORDER BY v
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
       |  FROM g
       |), agg AS (
       |  SELECT sum(na)::BIGINT AS n1, sum(nb)::BIGINT AS n2,
       |    sum(na * (before + (t + 1.0) / 2.0)) AS r1
       |  FROM t
       |)
       |SELECT n1 AS n_pos, n2 AS n_neg,
       |  CASE WHEN n1 * n2 > 0
       |    THEN round((r1 - n1 * (n1 + 1) / 2.0) / (n1 * n2), 6) END AS auc,
       |  CASE WHEN n1 * n2 > 0
       |    THEN round((r1 - n1 * (n1 + 1) / 2.0) / (n1 * n2) * 2.0 - 1.0, 6) END AS gini
       |FROM agg""".stripMargin

  /** Doubled average rank (2·avg-rank, an exact INTEGER even for tie
    * groups: 2·before + t + 1) of every distinct value, via
    * [[RankPrefix.before]] — the building block that lets [[spearman]]
    * run entirely in BIGINT. */
  private def avgRanks2(vals: DataFrame): DataFrame = {
    val g = vals.groupBy("v").agg(count(lit(1)).as("t"))
      .localCheckpoint() // severed once — the prefix reads it three times (r9s2)
    RankPrefix.before(g, Nil, "v", "t")
      .select(col("v"),
        (lit(2L) * col("t_before") + col("t") + lit(1L)).as("r2"))
  }

  /** Spearman rank correlation between customer account balance and
    * lifetime order spend — the monotone-association check behind
    * "does stated wealth track actual purchasing". Ties get average
    * ranks; both rank passes run [[RankPrefix.before]] (no global row
    * sort), and because DOUBLED average ranks are exact
    * integers, every moment (Σrx, Σrx², Σrx·ry …) is a BIGINT — the
    * only floating-point is the single closed-form division
    * ρ = (nΣxy−ΣxΣy)/√((nΣxx−Σx²)(nΣyy−Σy²)), IEEE-identical
    * cross-engine, rounded once. The 2× scale cancels algebraically.
    *
    * Scale shape: one orders aggregate + dimension join builds the
    * base; each rank pass aggregates by value (bounded by the value
    * domain, sharded by coarse cell) and equi-joins back on the value
    * key; one final 1-row moment aggregate. Moments are int64-safe to
    * ~10⁵ customers (n·Σxy ≲ n²·4n² ≈ 4·10¹⁸ at n=10⁵); past that the
    * moments move to DECIMAL(38) — mechanism unchanged (same escape
    * hatch as [[revenueGini]]).
    */
  def spearman(spark: SparkSession, sfDir: String): DataFrame =
    spearmanFrom(spearmanBase(spark, sfDir), decimalMoments = false)

  /** The same statistic with the moments on the DECIMAL(38) escape
    * hatch the BIGINT path documents: n·Σrᵢ² grows as 4n³, so past
    * n ≈ 1.3·10⁶ rows the int64 moments overflow — this branch is the
    * one a population-scale corpus runs. Exercised against the SAME
    * DuckDB oracle numbers at fixture scale (where both paths agree
    * exactly) and against a BigInt driver replay past the int64 bound
    * in StatsScaleSpec. */
  def spearmanDecimal(spark: SparkSession, sfDir: String): DataFrame =
    spearmanFrom(spearmanBase(spark, sfDir), decimalMoments = true)

  private def spearmanBase(spark: SparkSession, sfDir: String): DataFrame = {
    val spend = Tables.orders(spark, sfDir)
      .groupBy("o_custkey")
      .agg(sum(round(col("o_totalprice") * 100, 0).cast("long")).as("cents"))
    spend.join(Tables.customer(spark, sfDir),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_acctbal").as("bal"), col("cents").cast("double").as("cts"))
  }

  /** Frame-parameterized core over a (bal, cts) pair frame. With
    * `decimalMoments` the five rank moments run in DECIMAL(38,0)
    * (exact 38-digit integer arithmetic — doubled ranks are ≤ 2n+1,
    * so products stay ≤ ~4n³ ≈ 10²⁶ at n = 10⁸, far inside 38
    * digits); the closed-form ρ casts to double only for the single
    * final division, identically to the BIGINT branch. */
  private[graft] def spearmanFrom(base0: DataFrame,
      decimalMoments: Boolean): DataFrame = {
    // base feeds both rank passes AND the moment join (r9s2 sweep)
    val base = base0.localCheckpoint()
    val rx = avgRanks2(base.select(col("bal").as("v")))
      .select(col("v").as("bal"), col("r2").as("rx"))
    val ry = avgRanks2(base.select(col("cts").as("v")))
      .select(col("v").as("cts"), col("r2").as("ry"))
    val joined = base.join(rx, "bal").join(ry, "cts")
    val (mx, my) =
      if (decimalMoments)
        (col("rx").cast("decimal(19,0)"), col("ry").cast("decimal(19,0)"))
      else (col("rx"), col("ry"))
    val moments = joined
      .agg(count(lit(1)).as("n"), sum(mx).as("sx"), sum(my).as("sy"),
        sum(mx * my).as("sxy"), sum(mx * mx).as("sxx"), sum(my * my).as("syy"))
    val nM = if (decimalMoments) col("n").cast("decimal(19,0)") else col("n")
    moments.select(col("n"),
      round((nM * col("sxy") - col("sx") * col("sy")).cast("double") /
        sqrt((nM * col("sxx") - col("sx") * col("sx")).cast("double") *
             (nM * col("syy") - col("sy") * col("sy")).cast("double")), 6)
        .as("rho_spearman"))
  }

  val spearmanSql: String =
    s"""WITH spend AS (
       |  SELECT o_custkey, sum(round(o_totalprice * 100, 0)::BIGINT)::BIGINT AS cents
       |  FROM orders GROUP BY o_custkey
       |), base AS (
       |  SELECT c_acctbal AS bal, cents::DOUBLE AS cts
       |  FROM spend JOIN customer ON o_custkey = c_custkey
       |), rx AS (
       |  SELECT v AS bal, 2 * before + t + 1 AS rx FROM (
       |    SELECT v, count(*)::BIGINT AS t,
       |      coalesce(sum(count(*)) OVER (ORDER BY v
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS before
       |    FROM (SELECT bal AS v FROM base) GROUP BY v)
       |), ry AS (
       |  SELECT v AS cts, 2 * before + t + 1 AS ry FROM (
       |    SELECT v, count(*)::BIGINT AS t,
       |      coalesce(sum(count(*)) OVER (ORDER BY v
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS before
       |    FROM (SELECT cts AS v FROM base) GROUP BY v)
       |), m AS (
       |  SELECT count(*)::BIGINT AS n, sum(rx)::BIGINT AS sx, sum(ry)::BIGINT AS sy,
       |    sum(rx * ry)::BIGINT AS sxy, sum(rx * rx)::BIGINT AS sxx,
       |    sum(ry * ry)::BIGINT AS syy
       |  FROM base JOIN rx USING (bal) JOIN ry USING (cts)
       |)
       |SELECT n, round((n * sxy - sx * sy)::DOUBLE /
       |  sqrt((n * sxx - sx * sx)::DOUBLE * (n * syy - sy * sy)::DOUBLE), 6)
       |  AS rho_spearman
       |FROM m""".stripMargin

  /** Oracle twin of [[spearmanDecimal]]: the moments stay in DuckDB's
    * native HUGEINT (its 38-digit-class exact integer — the same
    * headroom as Spark's DECIMAL(38,0) branch), with only the final
    * closed form cast to double. At fixture scale both arithmetic
    * tiers agree exactly, so a hash match here proves the engine's
    * decimal execution path, not just the formula. */
  val spearmanDecimalSql: String =
    s"""WITH spend AS (
       |  SELECT o_custkey, sum(round(o_totalprice * 100, 0)::BIGINT)::BIGINT AS cents
       |  FROM orders GROUP BY o_custkey
       |), base AS (
       |  SELECT c_acctbal AS bal, cents::DOUBLE AS cts
       |  FROM spend JOIN customer ON o_custkey = c_custkey
       |), rx AS (
       |  SELECT v AS bal, 2 * before + t + 1 AS rx FROM (
       |    SELECT v, count(*)::BIGINT AS t,
       |      coalesce(sum(count(*)) OVER (ORDER BY v
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS before
       |    FROM (SELECT bal AS v FROM base) GROUP BY v)
       |), ry AS (
       |  SELECT v AS cts, 2 * before + t + 1 AS ry FROM (
       |    SELECT v, count(*)::BIGINT AS t,
       |      coalesce(sum(count(*)) OVER (ORDER BY v
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS before
       |    FROM (SELECT cts AS v FROM base) GROUP BY v)
       |), m AS (
       |  SELECT count(*)::BIGINT AS n,
       |    sum(rx::HUGEINT) AS sx, sum(ry::HUGEINT) AS sy,
       |    sum(rx::HUGEINT * ry) AS sxy, sum(rx::HUGEINT * rx) AS sxx,
       |    sum(ry::HUGEINT * ry) AS syy
       |  FROM base JOIN rx USING (bal) JOIN ry USING (cts)
       |)
       |SELECT n, round((n * sxy - sx * sy)::DOUBLE /
       |  sqrt((n * sxx - sx * sx)::DOUBLE * (n * syy - sy * sy)::DOUBLE), 6)
       |  AS rho_spearman
       |FROM m""".stripMargin

  /** Revenue concentration audit: exact Gini coefficient and top-10%
    * revenue share over per-customer lifetime revenue — the 80/20
    * audit behind every "whale" segmentation decision. All arithmetic
    * is integer until the final two divisions: revenue is exact
    * cents; ranks and the revenue before each value come from
    * [[RankPrefix.before]] (parallel within-cell windows + broadcast
    * cell offsets, no global sort, no collect); a
    * tie group of value v spanning ranks lo..hi contributes
    * v·(lo+hi)·cnt to 2S in closed form, so
    * G = (2S − (n+1)T) / (nT) is bit-exact on any engine. The
    * boundary tie-group for the top-decile share is resolved in
    * closed form too (no per-row rank materialization).
    *
    * Long-range note: 2S ≤ 2nT ≈ 7·10¹⁶ at sf0.1 — at population
    * scale these moments move to DECIMAL(38), mechanism unchanged.
    */
  def revenueGini(spark: SparkSession, sfDir: String): DataFrame =
    revenueGiniOf(Tables.orders(spark, sfDir)
      .groupBy("o_custkey")
      .agg(sum(round(col("o_totalprice") * 100, 0).cast("long")).as("cents")))

  /** Frame-parameterized core of [[revenueGini]] over a `cents`
    * column. Exposed for the off-fixture scale spec. */
  private[graft] def revenueGiniOf(rev: DataFrame): DataFrame = {
    // severed once — the prefix reads the revenue histogram three times (r9s2)
    val byVal = rev.groupBy(col("cents").as("v")).agg(count(lit(1)).as("cnt"))
      .withColumn("vc", col("v") * col("cnt"))
      .localCheckpoint()
    val groups = RankPrefix.before(byVal, Nil, "v", "cnt", "vc")
      .select(col("v"), col("cnt"),
        (col("cnt_before") + 1L).as("lo"),
        (col("cnt_before") + col("cnt")).as("hi"),
        col("vc_before").as("cumrev_before"))
    val tot = groups.agg(
      sum(col("v") * col("cnt")).as("t"),
      sum(col("cnt")).as("n"),
      sum(col("v") * (col("lo") + col("hi")) * col("cnt")).as("s2"))
    groups.crossJoin(broadcast(tot))
      .withColumn("n0", col("n") - expr("n div 10"))
      .where(col("lo") <= col("n0") && col("n0") <= col("hi"))
      .select(
        col("n").as("n_customers"),
        col("t").as("total_cents"),
        round((col("s2") - (col("n") + 1) * col("t")).cast("double") /
          (col("n").cast("double") * col("t")), 6).as("gini"),
        round((col("t") - (col("cumrev_before") +
            (col("n0") - col("lo") + 1) * col("v"))).cast("double") / col("t"), 6)
          .as("top10_share"))
  }

  val revenueGiniSql: String =
    """WITH rev AS (
      |  SELECT o_custkey, sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
      |  FROM orders GROUP BY 1
      |), g AS (
      |  SELECT cents AS v, count(*) AS cnt FROM rev GROUP BY 1
      |), p AS (
      |  SELECT v, cnt,
      |    coalesce(sum(cnt) OVER (ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb,
      |    coalesce(sum(v * cnt) OVER (ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS sb
      |  FROM g
      |), gg AS (
      |  SELECT v, cnt, cb + 1 AS lo, cb + cnt AS hi, sb AS cumrev_before FROM p
      |), tot AS (
      |  SELECT sum(v * cnt)::BIGINT AS t, sum(cnt)::BIGINT AS n,
      |    sum(v * (lo + hi) * cnt)::BIGINT AS s2
      |  FROM gg
      |)
      |SELECT n AS n_customers, t AS total_cents,
      |  round((s2 - (n + 1) * t)::DOUBLE / (n::DOUBLE * t), 6) AS gini,
      |  round((t - (cumrev_before + (n - n // 10 - lo + 1) * v))::DOUBLE / t, 6)
      |    AS top10_share
      |FROM gg, tot
      |WHERE lo <= n - n // 10 AND n - n // 10 <= hi""".stripMargin

  /** Per-brand price elasticity of demand: OLS slope of ln(quantity)
    * on ln(unit price) across the brand's line items — the classic
    * log-log demand regression (slope = % quantity change per % price
    * change), with r² as the fit audit. One broadcast dim join + one
    * aggregate computing the five OLS moments; nothing shuffles twice.
    * (On synthetic TPC-H-ish data the slope is a mechanism check, not
    * an economic claim — the spec asserts the algebra, the oracle the
    * cross-engine value.)
    */
  def priceElasticity(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
      .join(broadcast(Tables.part(spark, sfDir).select("p_partkey", "p_brand")),
        col("l_partkey") === col("p_partkey"))
      .select(col("p_brand").as("brand"),
        log(col("l_extendedprice") / col("l_quantity")).as("x"),
        log(col("l_quantity").cast("double")).as("y"))
    li.groupBy("brand")
      .agg(count(lit(1)).as("n_lines"),
           sum("x").as("sx"), sum("y").as("sy"),
           sum(col("x") * col("y")).as("sxy"),
           sum(col("x") * col("x")).as("sxx"),
           sum(col("y") * col("y")).as("syy"))
      .select(col("brand"), col("n_lines"),
        round((col("n_lines") * col("sxy") - col("sx") * col("sy")) /
          (col("n_lines") * col("sxx") - col("sx") * col("sx")), 4).as("elasticity"),
        round(pow(col("n_lines") * col("sxy") - col("sx") * col("sy"), 2) /
          ((col("n_lines") * col("sxx") - col("sx") * col("sx")) *
           (col("n_lines") * col("syy") - col("sy") * col("sy"))), 4).as("r2"))
      .orderBy("brand")
  }

  val priceElasticitySql: String =
    """WITH li AS (
      |  SELECT p_brand AS brand,
      |    ln(l_extendedprice / l_quantity) AS x,
      |    ln(l_quantity::DOUBLE) AS y
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |), m AS (
      |  SELECT brand, count(*) AS n_lines,
      |    sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
      |    sum(x * x) AS sxx, sum(y * y) AS syy
      |  FROM li GROUP BY 1
      |)
      |SELECT brand, n_lines,
      |  round((n_lines * sxy - sx * sy) / (n_lines * sxx - sx * sx), 4) AS elasticity,
      |  round(pow(n_lines * sxy - sx * sy, 2) /
      |    ((n_lines * sxx - sx * sx) * (n_lines * syy - sy * sy)), 4) AS r2
      |FROM m ORDER BY brand""".stripMargin

  /** Nation-pair trade flows (TPC-H Q7's shape): discounted revenue
    * between supplier nation and customer nation by order year — the
    * six-table join graph (lineitem ⋈ orders ⋈ customer ⋈ nation,
    * lineitem ⋈ supplier ⋈ nation) every OLAP engine's join planner
    * is judged on. Revenue is exact fixed-point: the per-line
    * discounted price is rounded to cents BEFORE summation (one IEEE
    * double op per row, then integer adds), so the nation-pair totals
    * are bit-identical across engines and partitionings.
    *
    * Scale: ONE fact⋈fact shuffle (lineitem ⋈ orders on the order
    * key; both bucketable at rest); customer, supplier, and both
    * nation attaches ride broadcasts; the rollup keys are
    * |nations|²·years rows. This is the plan Catalyst should pick and
    * PlanShapeSpec pins it.
    */
  def tradeFlows(spark: SparkSession, sfDir: String): DataFrame = {
    val l = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_suppkey"),
        round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100, 0)
          .cast("long").as("rev_cents"))
    val o = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_custkey"), year(col("o_orderdate")).as("yr"))
    val c = Tables.customer(spark, sfDir).select("c_custkey", "c_nationkey")
    val s = Tables.supplier(spark, sfDir).select("s_suppkey", "s_nationkey")
    val n = Tables.nation(spark, sfDir).select("n_nationkey", "n_name")
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n.select(col("n_nationkey").as("snk"), col("n_name").as("supp_nation"))),
        col("s_nationkey") === col("snk"))
      .join(broadcast(n.select(col("n_nationkey").as("cnk"), col("n_name").as("cust_nation"))),
        col("c_nationkey") === col("cnk"))
      .groupBy("supp_nation", "cust_nation", "yr")
      .agg(sum("rev_cents").as("revenue_cents"), count(lit(1)).as("n_lines"))
      .orderBy("supp_nation", "cust_nation", "yr")
  }

  val tradeFlowsSql: String =
    """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
      |  year(o_orderdate) AS yr,
      |  sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT))::BIGINT
      |    AS revenue_cents,
      |  count(*) AS n_lines
      |FROM lineitem
      |JOIN orders   ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation sn ON s_nationkey = sn.n_nationkey
      |JOIN nation cn ON c_nationkey = cn.n_nationkey
      |GROUP BY 1, 2, 3
      |ORDER BY 1, 2, 3""".stripMargin

  /** Fulfillment-lag profile: ship_date − order_date days per order
    * priority — count, mean, exact median/p95 (the SLA percentiles),
    * and the late tail beyond 60 days. One fact⋈fact join on the
    * order key (the same bucketable shuffle as every l⋈o query) and
    * one aggregate; percentiles are exact over the bounded lag-days
    * domain (integers 0..~120), so they hash-match DuckDB's
    * interpolated quantiles.
    */
  def shipLag(spark: SparkSession, sfDir: String): DataFrame = {
    val l = Tables.lineitem(spark, sfDir).select("l_orderkey", "l_shipdate")
    val o = Tables.orders(spark, sfDir)
      .select("o_orderkey", "o_orderdate", "o_orderpriority")
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .withColumn("lag_days", datediff(col("l_shipdate"), col("o_orderdate")))
      .groupBy(col("o_orderpriority").as("priority"))
      .agg(count(lit(1)).as("n_lines"),
           round(avg("lag_days"), 4).as("mean_days"),
           expr("percentile(lag_days, 0.5)").as("p50"),
           expr("percentile(lag_days, 0.95)").as("p95"),
           round(avg((col("lag_days") > 60).cast("double")), 6).as("late_share"))
      .orderBy("priority")
  }

  val shipLagSql: String =
    """SELECT o_orderpriority AS priority, count(*) AS n_lines,
      |  round(avg(lag_days), 4) AS mean_days,
      |  quantile_cont(lag_days, 0.5) AS p50,
      |  quantile_cont(lag_days, 0.95) AS p95,
      |  round(avg(CASE WHEN lag_days > 60 THEN 1.0 ELSE 0.0 END), 6) AS late_share
      |FROM (
      |  SELECT o_orderpriority,
      |    date_diff('day', o_orderdate, l_shipdate) AS lag_days
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Kruskal–Wallis rank one-way ANOVA across ALL event types — the
    * k-group generalization of [[mannWhitney]] (k = 2 reduces to the
    * U test): does any event type's `value` distribution stochastically
    * dominate the others? H = 12/(N(N+1))·Σ R_j²/n_j − 3(N+1) with the
    * tie correction C = 1 − Σ(t³−t)/(N³−N), df = k−1.
    *
    * Scale: identical to [[rankSumAgg]]'s [[RankPrefix.before]]
    * average-rank prefix — ranks are never assigned per row; the
    * stream collapses to (value, type) counts (bounded by the value
    * domain × 5 types) and per-value DOUBLED average ranks
    * 2·before + t + 1 stay exact BIGINTs (the [[spearman]] idiom), so
    * every per-group rank sum is an exact integer and H is one
    * closed-form IEEE expression of exact moments. R2_j² is cast to
    * DOUBLE before squaring (R2_j ~ 2N² overflows int64 past ~2·10⁹
    * rows; same documented trade as the OLS moments in rddEffect).
    * Output: one row per event type with its n / exact mean rank, the
    * shared H, tie-corrected H and df attached from a broadcast 1-row
    * aggregate.
    */
  def kruskalWallis(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.events(spark, sfDir)
      .select(col("event_type").as("grp"), col("value").as("v"))
    // the (v, grp) histogram feeds the rank chain AND the per-group
    // join — severed once (r9s2 sweep: one corpus scan, not four)
    val g = e.groupBy("v", "grp").agg(count(lit(1)).as("n")).localCheckpoint()
    val ranked = RankPrefix.before(g.groupBy("v").agg(sum("n").as("t")), Nil, "v", "t")
      .withColumn("r2", col("t_before") * 2 + col("t") + 1)
      .select("v", "t", "r2")
    val perGroup = g.join(ranked, "v")
      .groupBy("grp")
      .agg(sum("n").as("n_j"), sum(col("n") * col("r2")).as("r2_j"))
    val glob = perGroup
      .agg(count(lit(1)).as("k"), sum("n_j").as("nn"),
        sum((col("r2_j").cast("double") / 2.0) * (col("r2_j").cast("double") / 2.0)
          / col("n_j")).as("sq"))
      .crossJoin(broadcast(
        ranked.agg(tieSum(col("t")).as("tie3"))))
      .select(col("k"),
        (lit(12.0) / (col("nn") * (col("nn") + 1.0)) * col("sq")
          - lit(3.0) * (col("nn") + 1.0)).as("h0"),
        (lit(1.0) - col("tie3").cast("double") /
          (col("nn").cast("double") * col("nn") * col("nn") - col("nn"))).as("c0"))
    perGroup.crossJoin(broadcast(glob))
      .select(col("grp").as("event_type"), col("n_j").as("n"),
        round(col("r2_j").cast("double") / (lit(2.0) * col("n_j")), 4).as("mean_rank"),
        round(col("h0"), 4).as("h"),
        round(col("h0") / col("c0"), 4).as("h_tie_corrected"),
        (col("k") - 1).as("df"))
      .orderBy("event_type")
  }

  val kruskalWallisSql: String =
    """WITH g AS (
      |  SELECT value AS v, event_type AS grp, count(*)::BIGINT AS n
      |  FROM events GROUP BY 1, 2
      |), byv AS (
      |  SELECT v, sum(n)::BIGINT AS t,
      |    coalesce(sum(sum(n)) OVER (ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS before
      |  FROM g GROUP BY v
      |), r AS (
      |  SELECT v, t, 2 * before + t + 1 AS r2 FROM byv
      |), pg AS (
      |  SELECT g.grp, sum(g.n)::BIGINT AS n_j, sum(g.n * r.r2)::BIGINT AS r2_j
      |  FROM g JOIN r ON r.v = g.v GROUP BY g.grp
      |), gl AS (
      |  SELECT count(*)::BIGINT AS k, sum(n_j)::BIGINT AS nn,
      |    sum((r2_j::DOUBLE / 2.0) * (r2_j::DOUBLE / 2.0) / n_j) AS sq
      |  FROM pg
      |), tie AS (
      |  SELECT sum(t::HUGEINT * t * t - t) AS tie3 FROM r
      |), hh AS (
      |  SELECT k,
      |    12.0 / (nn * (nn + 1.0)) * sq - 3.0 * (nn + 1.0) AS h0,
      |    1.0 - tie3::DOUBLE / (nn::DOUBLE * nn * nn - nn) AS c0
      |  FROM gl, tie
      |)
      |SELECT pg.grp AS event_type, pg.n_j AS n,
      |  round(pg.r2_j::DOUBLE / (2.0 * pg.n_j), 4) AS mean_rank,
      |  round(hh.h0, 4) AS h,
      |  round(hh.h0 / hh.c0, 4) AS h_tie_corrected,
      |  (hh.k - 1)::BIGINT AS df
      |FROM pg, hh
      |ORDER BY event_type""".stripMargin

  /** One-way ANOVA F test of account balance across market segments —
    * the parametric sibling of [[kruskalWallis]] (mean differences vs
    * rank dominance) and the variance decomposition behind every
    * "does segment matter" screen: SSB = Σ S_j²/n_j − S²/N,
    * SSW = ΣΣx² − Σ S_j²/n_j, F = (SSB/(k−1))/(SSW/(N−k)), effect
    * size η² = SSB/(SSB+SSW).
    *
    * Scale: balances quantize to cents so all per-segment moments
    * (n, Σx, Σx²) are exact BIGINTs from ONE customer aggregate;
    * everything downstream is k-row arithmetic. S_j² casts to DOUBLE
    * before squaring (Σx ~ 10⁶·n overflows int64 past ~10⁷ customers
    * — the same documented trade as [[kruskalWallis]]; Σx² has ~300×
    * the headroom and keeps the [[spearman]] DECIMAL(38) escape hatch
    * beyond).
    */
  def anovaSegments(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.customer(spark, sfDir)
      .select(col("c_mktsegment").as("segment"),
        round(col("c_acctbal") * 100, 0).cast("long").as("cents"))
    val perG = c.groupBy("segment")
      .agg(count(lit(1)).as("n_j"), sum("cents").as("s_j"),
        sum(col("cents") * col("cents")).as("ss_j"))
    val glob = perG
      .agg(count(lit(1)).as("k"), sum("n_j").as("nn"),
        sum("s_j").as("s"), sum("ss_j").as("ss"),
        sum(col("s_j").cast("double") * col("s_j") / col("n_j")).as("sb0"))
      .select(col("k"), col("nn"),
        (col("sb0") - col("s").cast("double") * col("s") / col("nn")).as("ssb"),
        (col("ss").cast("double") - col("sb0")).as("ssw"))
    perG.crossJoin(broadcast(glob))
      .select(col("segment"), col("n_j").as("n"),
        round(col("s_j").cast("double") / col("n_j") / 100.0, 4).as("mean_bal"),
        round((col("ssb") / (col("k") - 1.0)) /
          (col("ssw") / (col("nn") - col("k"))), 4).as("f_stat"),
        round(col("ssb") / (col("ssb") + col("ssw")), 6).as("eta_sq"),
        (col("k") - 1).as("df_between"),
        (col("nn") - col("k")).as("df_within"))
      .orderBy("segment")
  }

  val anovaSegmentsSql: String =
    """WITH c AS (
      |  SELECT c_mktsegment AS segment,
      |    CAST(round(c_acctbal * 100) AS BIGINT) AS cents
      |  FROM customer
      |), pg AS (
      |  SELECT segment, count(*)::BIGINT AS n_j, sum(cents)::BIGINT AS s_j,
      |    sum(cents * cents)::BIGINT AS ss_j
      |  FROM c GROUP BY segment
      |), gl AS (
      |  SELECT count(*)::BIGINT AS k, sum(n_j)::BIGINT AS nn,
      |    sum(s_j)::BIGINT AS s, sum(ss_j)::BIGINT AS ss,
      |    sum(s_j::DOUBLE * s_j / n_j) AS sb0
      |  FROM pg
      |), d AS (
      |  SELECT k, nn,
      |    sb0 - s::DOUBLE * s / nn AS ssb,
      |    ss::DOUBLE - sb0 AS ssw
      |  FROM gl
      |)
      |SELECT pg.segment, pg.n_j AS n,
      |  round(pg.s_j::DOUBLE / pg.n_j / 100.0, 4) AS mean_bal,
      |  round((d.ssb / (d.k - 1.0)) / (d.ssw / (d.nn - d.k)), 4) AS f_stat,
      |  round(d.ssb / (d.ssb + d.ssw), 6) AS eta_sq,
      |  (d.k - 1)::BIGINT AS df_between,
      |  (d.nn - d.k)::BIGINT AS df_within
      |FROM pg, d
      |ORDER BY segment""".stripMargin

  /** Brown–Forsythe / Levene variance-homogeneity test on the same
    * segment × balance frame as [[anovaSegments]] — the assumption
    * check every ANOVA report runs first: a one-way F on the absolute
    * deviations z = |x − median_g| (the median-centered Brown–Forsythe
    * form, robust where the mean-centered original is not). Group
    * medians are exact interpolated percentiles over integer cents
    * (IEEE-identical cross-engine), so every z lands on an exact .5
    * step and the z moments are exact doubles far below the 2⁵³
    * mantissa bound; the F is one closed-form expression.
    *
    * Scale: one aggregate computes the 5 group medians (bounded
    * percentile state per group), a broadcast join centers the rows
    * map-side, one more aggregate collapses to k z-moment rows.
    */
  def leveneTest(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.customer(spark, sfDir)
      .select(col("c_mktsegment").as("segment"),
        round(col("c_acctbal") * 100, 0).cast("long").as("cents"))
    val meds = c.groupBy("segment")
      .agg(expr("percentile(cents, 0.5)").as("med"))
    val z = c.join(broadcast(meds), "segment")
      .withColumn("z", abs(col("cents").cast("double") - col("med")))
    val perG = z.groupBy("segment")
      .agg(count(lit(1)).as("n_j"), sum("z").as("s_j"),
        sum(col("z") * col("z")).as("ss_j"), first("med").as("med"))
    val glob = perG
      .agg(count(lit(1)).as("k"), sum("n_j").as("nn"),
        sum("s_j").as("s"), sum("ss_j").as("ss"),
        sum(col("s_j") * col("s_j") / col("n_j")).as("sb0"))
      .select(col("k"), col("nn"),
        (col("sb0") - col("s") * col("s") / col("nn")).as("ssb"),
        (col("ss") - col("sb0")).as("ssw"))
    perG.crossJoin(broadcast(glob))
      .select(col("segment"), col("n_j").as("n"),
        round(col("med") / 100.0, 4).as("median_bal"),
        round(col("s_j") / col("n_j") / 100.0, 4).as("mean_absdev"),
        round((col("ssb") / (col("k") - 1.0)) /
          (col("ssw") / (col("nn") - col("k"))), 4).as("f_stat"),
        (col("k") - 1).as("df_between"),
        (col("nn") - col("k")).as("df_within"))
      .orderBy("segment")
  }

  val leveneTestSql: String =
    """WITH c AS (
      |  SELECT c_mktsegment AS segment,
      |    CAST(round(c_acctbal * 100) AS BIGINT) AS cents
      |  FROM customer
      |), meds AS (
      |  SELECT segment, quantile_cont(cents, 0.5) AS med FROM c GROUP BY segment
      |), z AS (
      |  SELECT c.segment, abs(c.cents::DOUBLE - m.med) AS z, m.med
      |  FROM c JOIN meds m ON m.segment = c.segment
      |), pg AS (
      |  SELECT segment, count(*)::BIGINT AS n_j, sum(z) AS s_j,
      |    sum(z * z) AS ss_j, any_value(med) AS med
      |  FROM z GROUP BY segment
      |), gl AS (
      |  SELECT count(*)::BIGINT AS k, sum(n_j)::BIGINT AS nn,
      |    sum(s_j) AS s, sum(ss_j) AS ss, sum(s_j * s_j / n_j) AS sb0
      |  FROM pg
      |), d AS (
      |  SELECT k, nn, sb0 - s * s / nn AS ssb, ss - sb0 AS ssw FROM gl
      |)
      |SELECT pg.segment, pg.n_j AS n,
      |  round(pg.med / 100.0, 4) AS median_bal,
      |  round(pg.s_j / pg.n_j / 100.0, 4) AS mean_absdev,
      |  round((d.ssb / (d.k - 1.0)) / (d.ssw / (d.nn - d.k)), 4) AS f_stat,
      |  (d.k - 1)::BIGINT AS df_between,
      |  (d.nn - d.k)::BIGINT AS df_within
      |FROM pg, d
      |ORDER BY segment""".stripMargin

  /** Cumulative-gains / lift table for the [[evalAuc]] propensity
    * ranking — the decile view every targeting campaign reads before
    * trusting a score: users ranked by pre-window activity, cut into
    * exact SQL-ntile deciles, each decile's conversion rate, lift over
    * the base rate, and the cumulative share of all converters
    * captured down to that decile (the gains curve; its AUC sibling is
    * q_eval_auc's Gini).
    *
    * Scale: the decile assignment goes through
    * [[Relational.quartileScore]]'s distributed exact-rank machinery
    * (B = 10) — no global ntile window, no SinglePartition funnel; the
    * tie-broken order (score DESC, user ASC) makes bucket membership
    * engine-exact. Everything after the per-user assignment is a
    * 10-row frame; the cumulative window runs over those 10 rows.
    */
  def gainDeciles(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.events(spark, sfDir)
    val scores = e
      .where(col("event_type").isin("click", "view") &&
        col("ts") < lit(AucObsEnd).cast("timestamp_ntz"))
      .groupBy("user_id").agg(count(lit(1)).as("score"))
    val pos = e
      .where(col("event_type") === "purchase" &&
        col("ts") >= lit(AucLabelStart).cast("timestamp_ntz"))
      .select("user_id").distinct()
    // quartileScore references its input several times (value
    // aggregate, rank join, tie window) — sever the two-scan
    // score/label join once (the qualityCurriculum precedent)
    val lab = scores.join(pos.withColumn("is_pos", lit(1)), Seq("user_id"), "left")
      .select(col("user_id"), col("score"), coalesce(col("is_pos"), lit(0)).as("is_pos"))
      .localCheckpoint()
    val byDecile = Relational.quartileScore(lab, -col("score"), "decile",
        tieCol = col("user_id"), buckets = 10)
      .groupBy("decile")
      .agg(count(lit(1)).as("n_users"), sum("is_pos").cast("long").as("n_pos"))
    val tot = byDecile.agg(sum("n_users").as("tot_u"), sum("n_pos").as("tot_p"))
    val wCum = Window.orderBy("decile")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byDecile.crossJoin(broadcast(tot))
      .withColumn("cum_pos", sum("n_pos").over(wCum))
      .select(col("decile"), col("n_users"), col("n_pos"),
        round(col("n_pos").cast("double") / col("n_users"), 6).as("pos_rate"),
        // a label window with zero converters leaves capture/lift
        // undefined: NULL on both engines (the qini guard), never the
        // NaN-on-Spark/NULL-on-DuckDB divergence
        when(col("tot_p") > 0,
          round(col("cum_pos").cast("double") / col("tot_p"), 6)).as("cum_capture"),
        when(col("tot_p") > 0,
          round((col("n_pos").cast("double") / col("n_users")) /
            (col("tot_p").cast("double") / col("tot_u")), 4)).as("lift"))
      .orderBy("decile")
  }

  val gainDecilesSql: String =
    s"""WITH scores AS (
       |  SELECT user_id, count(*)::BIGINT AS score
       |  FROM events
       |  WHERE event_type IN ('click', 'view') AND ts::TIMESTAMP < TIMESTAMP '$AucObsEnd'
       |  GROUP BY user_id
       |), pos AS (
       |  SELECT DISTINCT user_id FROM events
       |  WHERE event_type = 'purchase' AND ts::TIMESTAMP >= TIMESTAMP '$AucLabelStart'
       |), lab AS (
       |  SELECT s.user_id, s.score,
       |    CASE WHEN p.user_id IS NULL THEN 0 ELSE 1 END AS is_pos
       |  FROM scores s LEFT JOIN pos p ON p.user_id = s.user_id
       |), n AS (
       |  SELECT count(*)::BIGINT AS nn, (count(*) // 10)::BIGINT AS q,
       |    (count(*) % 10)::BIGINT AS rem
       |  FROM lab
       |), rk AS (
       |  SELECT user_id, is_pos,
       |    row_number() OVER (ORDER BY score DESC, user_id ASC) AS rn
       |  FROM lab
       |), dec AS (
       |  SELECT CAST(CASE WHEN rn <= n.rem * (n.q + 1) THEN (rn + n.q) // (n.q + 1)
       |    ELSE n.rem + (rn - n.rem * (n.q + 1) + n.q - 1) // n.q END AS INT) AS decile,
       |    is_pos
       |  FROM rk, n
       |), byd AS (
       |  SELECT decile, count(*)::BIGINT AS n_users, sum(is_pos)::BIGINT AS n_pos
       |  FROM dec GROUP BY decile
       |), tot AS (
       |  SELECT sum(n_users)::BIGINT AS tot_u, sum(n_pos)::BIGINT AS tot_p FROM byd
       |)
       |SELECT byd.decile, byd.n_users, byd.n_pos,
       |  round(byd.n_pos::DOUBLE / byd.n_users, 6) AS pos_rate,
       |  CASE WHEN tot.tot_p > 0 THEN
       |    round((sum(byd.n_pos) OVER (ORDER BY byd.decile
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::DOUBLE / tot.tot_p, 6)
       |  END AS cum_capture,
       |  CASE WHEN tot.tot_p > 0 THEN
       |    round((byd.n_pos::DOUBLE / byd.n_users) / (tot.tot_p::DOUBLE / tot.tot_u), 4)
       |  END AS lift
       |FROM byd, tot
       |ORDER BY decile""".stripMargin

  /** Quantile levels reported (percent). */
  val QteTaus: Seq[Int] = Seq(10, 25, 50, 75, 90)

  /** Quantile treatment effects — the distributional view the mean
    * A/B readout ([[graft.operators.Analytics.abTest]]) hides: an
    * experiment that lifts the median while crushing the 90th
    * percentile has zero average effect and a very real problem. Per
    * user: exact spend in cents (fixed-point BEFORE summation), a
    * deterministic hash arm (the house A/B idiom); per arm: the exact
    * type-1 quantile VALUES at [[QteTaus]] — the k-th order statistic
    * (k = ⌈τ·n/100⌉) located WITHOUT a global sort via
    * [[RankPrefix.before]] keyed by arm: by-value aggregation (bounded
    * by the value domain), within-cell cumulative windows keyed
    * (arm, cell), and per-arm cell offsets from a broadcast triangle
    * join of the cell totals. A value holds rank k iff its
    * contiguous rank interval [lo, hi] covers k — tie-insensitive by
    * construction. QTE(τ) = q_treat(τ) − q_control(τ), exact BIGINTs
    * end to end.
    */
  def qte(spark: SparkSession, sfDir: String): DataFrame =
    qteOf(Tables.events(spark, sfDir)
      .groupBy("user_id")
      .agg(sum(expr("cast(round(value * 100) AS bigint)")).as("v"))
      .withColumn("arm", expr(
        "cast(conv(substring(md5(concat_ws('-', cast(user_id AS string), 'qte')), 1, 8), 16, 10) AS bigint)") % 2))

  /** Frame-parameterized core over ANY (arm ∈ {0,1}, v: long) frame —
    * the scale spec drives it with a synthesized wide-domain
    * million-row population the fixture can't provide. */
  private[graft] def qteOf(perUser: DataFrame): DataFrame = {
    // severed once — the histogram feeds the prefix AND (since r9s2)
    // the per-arm totals, which derive from it instead of a second
    // pass over the per-user frame
    val byVal = perUser.groupBy("arm", "v").agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    val nArm = byVal.groupBy("arm").agg(sum("cnt").as("n"))
    val hit = RankPrefix.before(byVal, Seq("arm"), "v", "cnt")
      .join(broadcast(nArm), "arm")
      .withColumn("hi", col("cnt_before") + col("cnt"))
      .withColumn("lo", col("cnt_before") + 1)
      .withColumn("tau", explode(array(QteTaus.map(lit(_)): _*)))
      .withColumn("k", expr("(n * tau + 99) div 100"))
      .where(col("k") >= col("lo") && col("k") <= col("hi"))
    hit.groupBy("tau")
      .agg(max(when(col("arm") === 0, col("v"))).as("q_control_cents"),
           max(when(col("arm") === 1, col("v"))).as("q_treat_cents"))
      .withColumn("qte_cents", col("q_treat_cents") - col("q_control_cents"))
      .select(col("tau").cast("long").as("tau"),
              col("q_control_cents"), col("q_treat_cents"), col("qte_cents"))
      .orderBy("tau")
  }

  val qteSql: String =
    s"""WITH pu AS (
       |  SELECT user_id, sum(CAST(round(value * 100) AS BIGINT))::BIGINT AS v,
       |    ('0x' || substr(md5(user_id || '-' || 'qte'), 1, 8))::BIGINT % 2 AS arm
       |  FROM events GROUP BY user_id
       |), rk AS (
       |  SELECT arm, v,
       |    row_number() OVER (PARTITION BY arm ORDER BY v) AS r,
       |    count(*) OVER (PARTITION BY arm) AS n
       |  FROM pu
       |), taus AS (
       |  SELECT unnest([${QteTaus.mkString(", ")}]) AS tau
       |), q AS (
       |  SELECT t.tau, rk.arm, rk.v
       |  FROM taus t JOIN rk ON rk.r = (rk.n * t.tau + 99) // 100
       |)
       |SELECT tau::BIGINT AS tau,
       |  max(CASE WHEN arm = 0 THEN v END) AS q_control_cents,
       |  max(CASE WHEN arm = 1 THEN v END) AS q_treat_cents,
       |  (max(CASE WHEN arm = 1 THEN v END) - max(CASE WHEN arm = 0 THEN v END))::BIGINT AS qte_cents
       |FROM q GROUP BY tau
       |ORDER BY tau""".stripMargin

  /** Split-conformal target coverage: 1 − α = [[ConfNum]]/[[ConfDen]]. */
  val ConfNum = 9
  val ConfDen = 10

  /** Split-conformal prediction intervals (Vovk; Lei et al.) — the
    * distribution-free uncertainty audit for ANY point predictor:
    * a deterministic hash split (seed 'conf') cuts orders into
    * calibration and eval halves, the predictor is the per-segment
    * calibration mean (leak-clean: eval rows never touch it), the
    * nonconformity score is |y − ŷ| in exact cents, and q̂ is the
    * k-th smallest calibration score at k = min(⌈(n+1)·(1−α)⌉, n) —
    * the finite-sample rank that makes P(|y−ŷ| ≤ q̂) ≥ 1−α for an
    * exchangeable eval row. Output per segment: split sizes, k, q̂,
    * and the realized eval coverage the guarantee promises in
    * expectation.
    *
    * Scale: the corpus join executes ONCE — the mean, the score
    * distribution and the eval coverage are all functions of the
    * (segment, arm, cents) histogram, which is checkpointed slim and
    * feeds every downstream pass as weighted rows. q̂ is an exact
    * order statistic, so it rides [[RankPrefix.before]] keyed by
    * segment, like [[qteOf]] — per-segment
    * score populations grow with the corpus, exactly the
    * low-cardinality-PARTITION-BY hazard the r8 sweep retired, so no
    * window ever sees more than one (segment, cell) slice; the
    * interval-cover rule (a value holds rank k iff its contiguous
    * rank interval covers k) is tie-insensitive. The 5-row μ/q̂
    * tables broadcast; k is integer arithmetic on both engines.
    */
  def conformal(spark: SparkSession, sfDir: String): DataFrame = {
    val seg = Tables.customer(spark, sfDir)
      .select(col("c_custkey").as("o_custkey"), col("c_mktsegment").as("segment"))
    val base = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_custkey"),
        expr("cast(round(o_totalprice * 100) AS bigint)").as("cents"))
      .join(seg, "o_custkey")
      .withColumn("arm", expr(
        "cast(conv(substring(md5(concat_ws('-', cast(o_orderkey AS string), 'conf')), 1, 8), 16, 10) AS bigint)") % 2)
    conformalOf(base)
  }

  /** Frame-parameterized core of [[conformal]] over any
    * (segment, cents, arm ∈ {0, 1}) frame — the scale spec drives it
    * with a synthetic wide-domain million-row population. */
  private[graft] def conformalOf(base: DataFrame): DataFrame = {
    // ONE pass over the corpus join: everything downstream — the
    // calibration mean, the score histogram, eval coverage — is a
    // function of the (segment, arm, cents) HISTOGRAM, so the join
    // executes once and is checkpointed as a slim weighted frame
    // (without this the arm/score passes re-plan the join per
    // consumer: arm filters push below it and defeat exchange reuse)
    val hist = base.groupBy("segment", "arm", "cents")
      .agg(count(lit(1)).as("hcnt"))
      .localCheckpoint()
    // per-segment calibration mean: exact BIGINT sum, ONE IEEE
    // division, rounded to integer cents on both engines; 5 rows
    val mu = hist.where(col("arm") === 0)
      .groupBy("segment")
      .agg(sum(col("cents") * col("hcnt")).as("s"), sum("hcnt").as("n_cal"))
      .withColumn("mu_cents",
        round(col("s").cast("double") / col("n_cal"), 0).cast("long"))
      .select("segment", "mu_cents", "n_cal")
    val calS = hist.where(col("arm") === 0)
      .join(broadcast(mu), "segment")
      .withColumn("v", abs(col("cents") - col("mu_cents")))
    val qhat = RankPrefix.before(
        calS.groupBy("segment", "v").agg(sum("hcnt").as("cnt")), Seq("segment"), "v", "cnt")
      .join(broadcast(mu.select("segment", "n_cal")), "segment")
      .withColumn("hi", col("cnt_before") + col("cnt"))
      .withColumn("lo", col("cnt_before") + 1)
      .withColumn("k", least(
        expr(s"((n_cal + 1) * $ConfNum + ${ConfDen - 1}) div $ConfDen"),
        col("n_cal")))
      .where(col("k") >= col("lo") && col("k") <= col("hi"))
      .select(col("segment"), col("k"), col("v").as("qhat_cents"))
    val evS = hist.where(col("arm") === 1)
      .join(broadcast(mu.select("segment", "mu_cents")), "segment")
      .withColumn("v", abs(col("cents") - col("mu_cents")))
    evS.join(broadcast(qhat), "segment")
      .groupBy("segment", "k", "qhat_cents")
      .agg(sum("hcnt").as("n_eval"),
           sum(when(col("v") <= col("qhat_cents"), col("hcnt")).otherwise(0L)).as("n_covered"))
      .join(broadcast(mu.select("segment", "n_cal")), "segment")
      .withColumn("coverage",
        when(col("n_eval") > 0,
          round(col("n_covered").cast("double") / col("n_eval"), 4)))
      .select("segment", "n_cal", "n_eval", "k", "qhat_cents", "n_covered", "coverage")
      .orderBy("segment")
  }

  val conformalSql: String =
    s"""WITH base AS MATERIALIZED (
       |  SELECT o.o_orderkey, c.c_mktsegment AS segment,
       |    CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents,
       |    ('0x' || substr(md5(o.o_orderkey || '-' || 'conf'), 1, 8))::BIGINT % 2 AS arm
       |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
       |), mu AS MATERIALIZED (
       |  SELECT segment,
       |    round((sum(cents)::BIGINT)::DOUBLE / count(*))::BIGINT AS mu_cents,
       |    count(*)::BIGINT AS n_cal
       |  FROM base WHERE arm = 0 GROUP BY segment
       |), cal AS MATERIALIZED (
       |  SELECT b.segment, abs(b.cents - m.mu_cents) AS v
       |  FROM base b JOIN mu m ON b.segment = m.segment WHERE b.arm = 0
       |), rk AS (
       |  SELECT segment, v,
       |    row_number() OVER (PARTITION BY segment ORDER BY v) AS r,
       |    count(*) OVER (PARTITION BY segment) AS n
       |  FROM cal
       |), q AS (
       |  SELECT segment,
       |    least(((n + 1) * $ConfNum + ${ConfDen - 1}) // $ConfDen, n)::BIGINT AS k,
       |    v AS qhat_cents
       |  FROM rk WHERE r = least(((n + 1) * $ConfNum + ${ConfDen - 1}) // $ConfDen, n)
       |), ev AS (
       |  SELECT b.segment, abs(b.cents - m.mu_cents) AS v
       |  FROM base b JOIN mu m ON b.segment = m.segment WHERE b.arm = 1
       |)
       |SELECT q.segment, m.n_cal, count(*) AS n_eval, q.k, q.qhat_cents,
       |  sum(CASE WHEN ev.v <= q.qhat_cents THEN 1 ELSE 0 END)::BIGINT AS n_covered,
       |  CASE WHEN count(*) > 0 THEN
       |    round(sum(CASE WHEN ev.v <= q.qhat_cents THEN 1 ELSE 0 END)::DOUBLE / count(*), 4)
       |  END AS coverage
       |FROM ev JOIN q ON ev.segment = q.segment
       |JOIN mu m ON m.segment = q.segment
       |GROUP BY q.segment, m.n_cal, q.k, q.qhat_cents
       |ORDER BY q.segment""".stripMargin

  /** Qini / uplift-by-decile — the uplift-modeling eval that
    * [[gainDeciles]]' single-population targeting curve cannot give:
    * with a deterministic hash arm (the house A/B idiom, seed 'qini')
    * the same pre-period activity deciles split into treated and
    * control cells, per-decile uplift = rate_t − rate_c, and the
    * cumulative Qini value cumPos_t − cumPos_c·cumN_t/cumN_c — the
    * curve that decides whether targeting by this score beats random
    * assignment. Deciles ride [[Relational.quartileScore]]'s
    * distributed exact rank (B = 10, no global ntile); counts are
    * exact BIGINTs; uplift/qini are single IEEE divisions of exact
    * integers rounded at 6dp. The cumulative window is a 10-row
    * decile series (bounded — the gainDeciles argument).
    */
  def qini(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.events(spark, sfDir)
    val scores = e
      .where(col("event_type").isin("click", "view") &&
        col("ts") < lit(AucObsEnd).cast("timestamp_ntz"))
      .groupBy("user_id").agg(count(lit(1)).as("score"))
    val pos = e
      .where(col("event_type") === "purchase" &&
        col("ts") >= lit(AucLabelStart).cast("timestamp_ntz"))
      .select("user_id").distinct()
    val lab = scores.join(pos.withColumn("is_pos", lit(1L)), Seq("user_id"), "left")
      .select(col("user_id"), col("score"),
              coalesce(col("is_pos"), lit(0L)).as("is_pos"))
      .withColumn("arm", expr(
        "cast(conv(substring(md5(concat_ws('-', cast(user_id AS string), 'qini')), 1, 8), 16, 10) AS bigint)") % 2)
      .localCheckpoint() // severed pre-quartileScore, the gainDeciles rationale
    val byDecile = Relational.quartileScore(lab, -col("score"), "decile",
        tieCol = col("user_id"), buckets = 10)
      .groupBy("decile")
      .agg(sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_treat"),
           sum(when(col("arm") === 1, col("is_pos")).otherwise(0L)).as("pos_treat"),
           sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_control"),
           sum(when(col("arm") === 0, col("is_pos")).otherwise(0L)).as("pos_control"))
    val wCum = Window.orderBy("decile")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byDecile
      .withColumn("cum_pt", sum("pos_treat").over(wCum))
      .withColumn("cum_pc", sum("pos_control").over(wCum))
      .withColumn("cum_nt", sum("n_treat").over(wCum))
      .withColumn("cum_nc", sum("n_control").over(wCum))
      .select(col("decile"), col("n_treat"), col("pos_treat"),
        col("n_control"), col("pos_control"),
        // an empty arm cell leaves the uplift undefined (NULL), not 0 —
        // tiny deciles at small SFs can be all-treatment
        when(col("n_treat") > 0 && col("n_control") > 0,
          round(col("pos_treat").cast("double") / col("n_treat") -
                col("pos_control").cast("double") / col("n_control"), 6)).as("uplift"),
        when(col("cum_nc") > 0,
          round(col("cum_pt") - col("cum_pc").cast("double") *
                col("cum_nt") / col("cum_nc"), 6)).as("qini"))
      .orderBy("decile")
  }

  val qiniSql: String =
    s"""WITH scores AS (
       |  SELECT user_id, count(*)::BIGINT AS score
       |  FROM events
       |  WHERE event_type IN ('click', 'view') AND ts::TIMESTAMP < TIMESTAMP '$AucObsEnd'
       |  GROUP BY user_id
       |), pos AS (
       |  SELECT DISTINCT user_id FROM events
       |  WHERE event_type = 'purchase' AND ts::TIMESTAMP >= TIMESTAMP '$AucLabelStart'
       |), lab AS (
       |  SELECT s.user_id, s.score,
       |    CASE WHEN p.user_id IS NULL THEN 0 ELSE 1 END AS is_pos,
       |    ('0x' || substr(md5(s.user_id || '-' || 'qini'), 1, 8))::BIGINT % 2 AS arm
       |  FROM scores s LEFT JOIN pos p ON p.user_id = s.user_id
       |), n AS (
       |  SELECT count(*) AS cnt, count(*) // 10 AS q, count(*) % 10 AS rem FROM lab
       |), rk AS (
       |  SELECT user_id, is_pos, arm,
       |    row_number() OVER (ORDER BY score DESC, user_id ASC) AS rn
       |  FROM lab
       |), dec AS (
       |  SELECT CAST(CASE WHEN rn <= n.rem * (n.q + 1) THEN (rn + n.q) // (n.q + 1)
       |    ELSE n.rem + (rn - n.rem * (n.q + 1) + n.q - 1) // n.q END AS INT) AS decile,
       |    is_pos, arm
       |  FROM rk, n
       |), byd AS (
       |  SELECT decile,
       |    sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)::BIGINT AS n_treat,
       |    sum(CASE WHEN arm = 1 THEN is_pos ELSE 0 END)::BIGINT AS pos_treat,
       |    sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)::BIGINT AS n_control,
       |    sum(CASE WHEN arm = 0 THEN is_pos ELSE 0 END)::BIGINT AS pos_control
       |  FROM dec GROUP BY decile
       |), cum AS (
       |  SELECT *,
       |    sum(pos_treat) OVER w AS cum_pt, sum(pos_control) OVER w AS cum_pc,
       |    sum(n_treat) OVER w AS cum_nt, sum(n_control) OVER w AS cum_nc
       |  FROM byd
       |  WINDOW w AS (ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |)
       |SELECT decile, n_treat, pos_treat, n_control, pos_control,
       |  CASE WHEN n_treat > 0 AND n_control > 0
       |    THEN round(pos_treat::DOUBLE / n_treat - pos_control::DOUBLE / n_control, 6)
       |  END AS uplift,
       |  CASE WHEN cum_nc > 0
       |    THEN round(cum_pt - cum_pc::DOUBLE * cum_nt / cum_nc, 6)
       |  END AS qini
       |FROM cum
       |ORDER BY decile""".stripMargin

  /** Weight fixed point: w is a weighted count in [[RakeUnit]] units. */
  val RakeUnit = 1000000L
  /** IPF rounds, unrolled identically in the oracle (raking on a 5×5
    * grid converges to <0.1% margin error well inside 3 rounds). */
  val RakeRounds = 3

  /** One cell of the raking grid: its population and sample counts. */
  final case class RakeCell(segment: String, region: String, nPop: Long, nSample: Long)

  /** Raking / iterative proportional fitting — the survey-weighting
    * step every biased-sample analysis needs: a 25% deterministic hash
    * sample of the customer base is reweighted so its (segment,
    * region) cell weights reproduce the POPULATION margins on both
    * axes. Classic IPF: scale each cell by target/current for the
    * segment margin, then for the region margin, repeat.
    *
    * The heavy pass is the one population/sample cell aggregation,
    * a single Spark plan. Its output is the segments × regions grid
    * (dimension-sized: 25 cells on TPC-H), so it is collected once and
    * the rounds run on the driver in [[rakeGrid]]; the raked grid comes
    * back as one partition of a local relation, sorted on the driver:
    * as Spark plans, every step (and the final sort) would pay its own
    * one-task jobs for 25 numbers.
    */
  def raking(spark: SparkSession, sfDir: String): DataFrame = {
    val nat = broadcast(Tables.nation(spark, sfDir).select("n_nationkey", "n_regionkey"))
    val reg = broadcast(Tables.region(spark, sfDir).select("r_regionkey", "r_name"))
    val sampled = expr(
      "cast(conv(substring(md5(concat_ws('-', cast(c_custkey AS string), 'rake')), 1, 8), 16, 10) AS bigint)") % 4 === 0
    // One aggregate yields both counts. A cell with a null key gets
    // n_sample 0: the oracle's pop ⟕ samp join matches no null key.
    val grid = Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_mktsegment").as("segment"), col("c_nationkey"))
      .join(nat, col("c_nationkey") === col("n_nationkey"))
      .join(reg, col("n_regionkey") === col("r_regionkey"))
      .select(col("c_custkey"), col("segment"), col("r_name").as("region"))
      .groupBy("segment", "region")
      .agg(count(lit(1)).as("n_pop"),
           when(col("segment").isNull || col("region").isNull, 0L)
             .otherwise(count(when(sampled, 1))).as("n_sample"))
    val cells = grid.collect().toSeq.map(r =>
      RakeCell(r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // Spark's string `asc` order (UTF-8 bytes); rakeGrid drops null keys.
    val rows = rakeGrid(cells)
      .sortBy { case (c, _) => (UTF8String.fromString(c.segment), UTF8String.fromString(c.region)) }
      .map { case (c, w) => Row(c.segment, c.region, c.nPop, c.nSample, w) }
    // one partition: the cells write as one file (a local scan would
    // split 25 rows over the cores, one file each)
    spark.createDataFrame(rows.asJava, grid.schema.add("w_units", LongType)).coalesce(1)
  }

  /** The IPF rounds of [[raking]] over the collected grid: [[RakeRounds]]
    * × (segment step, region step), each cell paired with its weight w
    * in [[RakeUnit]] units, starting at n_sample·Unit.
    *
    * A step's targets t are the population margins of the whole grid;
    * s is the current weight margin. Fixed point: the scale ratio is
    * (t·Unit²) div s (≈Unit-sized), then w' = (w·ratio) div Unit —
    * exact BIGINT floor arithmetic, identical in the unrolled oracle,
    * and an overflow throws [[ArithmeticException]] as Spark's ANSI
    * arithmetic does. Bound: w·ratio ≤ pop·Unit · 4·Unit ≈ 4e17 at
    * fixture scale; at population scale move the product to
    * BigInt/DECIMAL(38) (the [[revenueGini]] escape hatch). A margin
    * whose sample is empty (s = 0) keeps its cells at weight 0 (the
    * documented raking caveat) rather than dividing by zero. A step
    * drops the cells whose key on its margin is null, as the oracle's
    * margin joins do.
    */
  def rakeGrid(cells: Seq[RakeCell]): Seq[(RakeCell, Long)] = {
    def totals(pairs: Seq[(String, Long)]): Map[String, Long] =
      pairs.filter(_._1 != null).groupMapReduce(_._1)(_._2)(Math.addExact)
    val segT = totals(cells.map(c => c.segment -> c.nPop))
    val regT = totals(cells.map(c => c.region -> c.nPop))
    val unit2 = Math.multiplyExact(RakeUnit, RakeUnit)
    def step(ws: Seq[(RakeCell, Long)], key: RakeCell => String,
             t: Map[String, Long]): Seq[(RakeCell, Long)] = {
      val live = ws.filter { case (c, _) => key(c) != null }
      val s = totals(live.map { case (c, w) => key(c) -> w })
      live.map { case (c, w) =>
        val sm = s(key(c))
        c -> (if (sm > 0) Math.multiplyExact(w, Math.multiplyExact(t(key(c)), unit2) / sm) / RakeUnit
              else 0L)
      }
    }
    var ws = cells.map(c => c -> Math.multiplyExact(c.nSample, RakeUnit))
    for (_ <- 1 to RakeRounds) {
      ws = step(ws, _.segment, segT)
      ws = step(ws, _.region, regT)
    }
    ws
  }

  val rakingSql: String = {
    val stepSql = (from: String, margin: String) =>
      s"""SELECT c.segment, c.region, c.n_pop, c.n_sample,
         |    (CASE WHEN ss.s > 0
         |      THEN (c.w * ((mt.t * ${RakeUnit * RakeUnit}) // ss.s)) // $RakeUnit
         |      ELSE 0 END)::BIGINT AS w
         |  FROM $from c
         |  JOIN (SELECT $margin, sum(w)::BIGINT AS s FROM $from GROUP BY $margin) ss USING ($margin)
         |  JOIN ${margin}t mt USING ($margin)""".stripMargin
    val rounds = (1 to RakeRounds).map { k =>
      s"""a$k AS MATERIALIZED (
         |${stepSql(s"c${k - 1}", "segment")}
         |), c$k AS MATERIALIZED (
         |${stepSql(s"a$k", "region")}
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH base AS (
       |  SELECT c_custkey, c_mktsegment AS segment, r_name AS region
       |  FROM customer
       |  JOIN nation ON c_nationkey = n_nationkey
       |  JOIN region ON n_regionkey = r_regionkey
       |), pop AS (
       |  SELECT segment, region, count(*)::BIGINT AS n_pop FROM base GROUP BY 1, 2
       |), samp AS (
       |  SELECT segment, region, count(*)::BIGINT AS n_sample FROM base
       |  WHERE ('0x' || substr(md5(c_custkey || '-' || 'rake'), 1, 8))::BIGINT % 4 = 0
       |  GROUP BY 1, 2
       |), c0 AS MATERIALIZED (
       |  SELECT p.segment, p.region, p.n_pop,
       |    coalesce(s.n_sample, 0)::BIGINT AS n_sample,
       |    (coalesce(s.n_sample, 0) * $RakeUnit)::BIGINT AS w
       |  FROM pop p LEFT JOIN samp s USING (segment, region)
       |), segmentt AS (
       |  SELECT segment, sum(n_pop)::BIGINT AS t FROM c0 GROUP BY segment
       |), regiont AS (
       |  SELECT region, sum(n_pop)::BIGINT AS t FROM c0 GROUP BY region
       |), $rounds
       |SELECT segment, region, n_pop, n_sample, w AS w_units
       |FROM c$RakeRounds
       |ORDER BY segment, region""".stripMargin
  }

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_raking", raking _, Some(rakingSql)),
    QuerySpec("q_qini", qini _, Some(qiniSql)),
    QuerySpec("q_qte", qte _, Some(qteSql)),
    QuerySpec("q_conformal", conformal _, Some(conformalSql)),
    QuerySpec("q_kruskal_wallis", kruskalWallis _, Some(kruskalWallisSql)),
    QuerySpec("q_anova", anovaSegments _, Some(anovaSegmentsSql)),
    QuerySpec("q_levene", leveneTest _, Some(leveneTestSql)),
    QuerySpec("q_gain_deciles", gainDeciles _, Some(gainDecilesSql)),
    QuerySpec("q_ship_lag", shipLag _, Some(shipLagSql)),
    QuerySpec("q_trade_flows", tradeFlows _, Some(tradeFlowsSql)),
    QuerySpec("q_revenue_gini", revenueGini _, Some(revenueGiniSql)),
    QuerySpec("q_price_elasticity", priceElasticity _, Some(priceElasticitySql)),
    QuerySpec("q_mann_whitney", mannWhitney _, Some(mannWhitneySql)),
    QuerySpec("q_eval_auc", evalAuc _, Some(evalAucSql)),
    QuerySpec("q_spearman", spearman _, Some(spearmanSql)),
    QuerySpec("q_spearman_decimal", spearmanDecimal _, Some(spearmanDecimalSql)),
    QuerySpec("q_mutual_info", mutualInfo _, Some(mutualInfoSql)),
    QuerySpec("q_acf", acf _, Some(acfSql)),
    QuerySpec("q_theil_sen", theilSen _, Some(theilSenSql)),
    QuerySpec("q_mann_kendall", mannKendall _, Some(mannKendallSql)),
    QuerySpec("q_wilcoxon", wilcoxonSignedRank _, Some(wilcoxonSignedRankSql)),
    QuerySpec("q_overdispersion", overdispersion _, Some(overdispersionSql)),
    QuerySpec("q_winsorize", winsorize _, Some(winsorizeSql)),
    QuerySpec("q_hill_tail", hillTail _, Some(hillTailSql)),
    QuerySpec("q_wilson_lb", wilsonLb _, Some(wilsonLbSql)),
    QuerySpec("q_ks_test", ksTest _, Some(ksTestSql)),
    QuerySpec("q_kendall_tau", kendallTau _, Some(kendallTauSql)),
    QuerySpec("q_changepoint", changepoint _, Some(changepointSql)),
    QuerySpec("q_survival_km", survivalKm _, Some(survivalKmSql)),
    QuerySpec("q_rolling_median", rollingMedian _, Some(rollingMedianSql)),
    QuerySpec("q_rolling_corr", rollingCorr _, Some(rollingCorrSql)),
    QuerySpec("q_psi_drift", psiDrift _, Some(psiDriftSql)),
    QuerySpec("q_bayes_rate", bayesRate _, Some(bayesRateSql)),
    QuerySpec("q_benford", benford _, Some(benfordSql)),
    QuerySpec("q_bootstrap_ci", bootstrapCi _, Some(bootstrapCiSql)),
    QuerySpec("q_pareto_front", paretoFront _, Some(paretoFrontSql)),
    QuerySpec("q_equidepth_hist", equidepthHist _, Some(equidepthHistSql)),
    QuerySpec("q_dp_counts", dpCounts _, Some(dpCountsSql)),
    QuerySpec("q_sliding_dau", slidingDau _, Some(slidingDauSql)),
  )
}
