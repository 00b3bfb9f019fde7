package graft.operators

import graft.{QueryFamily, QuerySpec, Tables}
import graft.functions.WeightedPref
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Advanced function surfaces: the custom Aggregator UDAF (A7) and
  * pure-SQL TF-IDF content similarity (M8) — the last two SURVEY.md §2
  * rows without a query.
  */
object Advanced extends QueryFamily {

  /** A7: per-user weighted preference via the typed Aggregator,
    * registered as SQL `weighted_pref`. The oracle reproduces the same
    * arithmetic (Σw·v / Σw with zero-value rows skipped — fixture
    * values are never NaN, and `value=0` rows carry weight but a 0
    * contribution, so both engines see identical sums).
    */
  def udafWeightedPref(spark: SparkSession, sfDir: String): DataFrame = {
    WeightedPref.register(spark)
    Tables.events(spark, sfDir).createOrReplaceTempView("events")
    spark.sql(
      """SELECT user_id, pref, n_events FROM (
        |  SELECT user_id,
        |    round(weighted_pref(event_type, value), 6) AS pref,
        |    count(*) AS n_events
        |  FROM events
        |  GROUP BY user_id
        |)
        |WHERE pref IS NOT NULL
        |ORDER BY pref DESC, user_id ASC
        |LIMIT 100""".stripMargin)
  }

  val udafWeightedPrefSql: String = {
    val w = WeightedPref.weights
      .map { case (k, v) => s"WHEN '$k' THEN $v" }.mkString(" ")
    s"""WITH g AS (
       |  SELECT user_id,
       |    sum(CASE WHEN value IS NOT NULL AND NOT isnan(value)
       |             THEN (CASE event_type $w ELSE 0.0 END) * value ELSE 0.0 END) AS wsum,
       |    sum(CASE WHEN value IS NOT NULL AND NOT isnan(value)
       |             THEN CASE event_type $w ELSE 0.0 END ELSE 0.0 END) AS wtotal,
       |    count(*) AS n_events
       |  FROM events
       |  GROUP BY user_id
       |)
       |SELECT user_id, round(wsum / wtotal, 6) AS pref, n_events
       |FROM g
       |WHERE wtotal > 0
       |ORDER BY pref DESC, user_id ASC
       |LIMIT 100""".stripMargin
  }

  /** Number of documents profiled by the TF-IDF query. */
  val TfidfDocs = 20
  /** Terms emitted per document. */
  val TfidfTop = 5

  import TextNorm.{normDuck, normSpark}

  /** M8 TF-IDF: tf = term count in doc, idf = ln((N+1)/(df+1)) + 1
    * (smoothed — never divides by zero, deterministic), top-$TfidfTop
    * terms per doc for doc_id < $TfidfDocs. The df aggregate runs over
    * the WHOLE corpus (that is the point of idf); the per-doc ranking
    * only over the profiled subset. ln() differs across libms by ≤1 ulp
    * — 11 digits below the 6 dp rounding, so scores are engine-stable.
    */
  def tfidfTerms(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(split(expr(normSpark), " ")).as("term"))
    // corpus size as a broadcast 1-row aggregate, not a driver .count()
    val n = Tables.documents(spark, sfDir).agg(countDistinct(col("doc_id")).as("n_docs"))
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = toks.select("doc_id", "term").distinct()
      .groupBy("term").agg(count(lit(1)).as("df"))
    val scored = tf.where(col("doc_id") < TfidfDocs)
      .join(broadcast(df), "term")
      .crossJoin(broadcast(n))
      .withColumn("tfidf", round(col("tf") * (log((col("n_docs") + 1.0) / (col("df") + 1.0)) + 1.0), 6))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("term").asc)
    scored.withColumn("rk", row_number().over(w))
      .where(col("rk") <= TfidfTop)
      .select(col("doc_id"), col("rk"), col("term"), col("tf"), col("df"), col("tfidf"))
      .orderBy("doc_id", "rk")
  }

  val tfidfTermsSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split($normDuck, ' ')) AS term FROM documents
       |), tf AS (
       |  SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2
       |), df AS (
       |  SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1
       |), n AS (
       |  SELECT count(DISTINCT doc_id) AS n_docs FROM documents
       |), scored AS (
       |  SELECT doc_id, term, tf, df,
       |    round(tf * (ln((n_docs + 1.0) / (df + 1.0)) + 1.0), 6) AS tfidf
       |  FROM tf JOIN df USING (term) CROSS JOIN n
       |  WHERE doc_id < $TfidfDocs
       |), ranked AS (
       |  SELECT doc_id, term, tf, df, tfidf,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rk
       |  FROM scored
       |)
       |SELECT doc_id, rk, term, tf, df, tfidf
       |FROM ranked WHERE rk <= $TfidfTop
       |ORDER BY doc_id, rk""".stripMargin

  /** M8b TF-IDF document similarity: cosine over the sparse TF-IDF
    * vectors of the profiled docs via an inverted-index join on term —
    * the same join shape the shingle pipelines use (no dense vectors
    * materialized; at corpus scale hot terms would be df-capped).
    */
  def tfidfDocSim(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(split(expr(normSpark), " ")).as("term"))
    val n = Tables.documents(spark, sfDir).agg(countDistinct(col("doc_id")).as("n_docs"))
    // tf rows ARE the distinct (doc, term) pairs, so df derives from
    // tf instead of a second explode pass; severed once because tf
    // feeds df AND the vector build (r9s2 rescan sweep)
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val vec = tf.where(col("doc_id") < TfidfDocs)
      .join(broadcast(df), "term")
      .crossJoin(broadcast(n))
      .withColumn("wt", col("tf") * (log((col("n_docs") + 1.0) / (col("df") + 1.0)) + 1.0))
      // bounded: TfidfDocs docs' vectors feed the norms AND both
      // sides of the term self-join
      .localCheckpoint()
    val norms = vec.groupBy("doc_id").agg(sqrt(sum(col("wt") * col("wt"))).as("nrm"))
    val dots = vec.as("x").join(vec.as("y"),
        col("x.term") === col("y.term") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .agg(sum(col("x.wt") * col("y.wt")).as("dot"))
    dots
      // corpus-sized norm table (a row per doc): unhinted — AQE
      // broadcasts from runtime stats locally, shuffled equi-join at scale
      .join(norms.select(col("doc_id").as("doc_a"), col("nrm").as("na")), "doc_a")
      .join(norms.select(col("doc_id").as("doc_b"), col("nrm").as("nb")), "doc_b")
      .withColumn("cos", round(col("dot") / (col("na") * col("nb")), 4))
      .select("doc_a", "doc_b", "cos")
      .orderBy(col("cos").desc, col("doc_a").asc, col("doc_b").asc)
      .limit(25)
  }

  /** Cosine sums fold in shuffle order, so the oracle rounds to 4 dp
    * (vs 6 elsewhere) to absorb summation-order noise in the dot
    * products; ranking ties break on (doc_a, doc_b).
    */
  val tfidfDocSimSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split($normDuck, ' ')) AS term FROM documents
       |), tf AS (
       |  SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2
       |), df AS (
       |  SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1
       |), n AS (
       |  SELECT count(DISTINCT doc_id) AS n_docs FROM documents
       |), vec AS (
       |  SELECT doc_id, term, tf * (ln((n_docs + 1.0) / (df + 1.0)) + 1.0) AS wt
       |  FROM tf JOIN df USING (term) CROSS JOIN n
       |  WHERE doc_id < $TfidfDocs
       |), norms AS (
       |  SELECT doc_id, sqrt(sum(wt * wt)) AS nrm FROM vec GROUP BY doc_id
       |), dots AS (
       |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, sum(x.wt * y.wt) AS dot
       |  FROM vec x JOIN vec y ON x.term = y.term AND x.doc_id < y.doc_id
       |  GROUP BY 1, 2
       |)
       |SELECT doc_a, doc_b, round(dot / (na.nrm * nb.nrm), 4) AS cos
       |FROM dots
       |JOIN norms na ON na.doc_id = doc_a
       |JOIN norms nb ON nb.doc_id = doc_b
       |ORDER BY cos DESC, doc_a ASC, doc_b ASC
       |LIMIT 25""".stripMargin

  /** Misra–Gries counter budget. The exact-verify threshold is 1/1000
    * of the stream; the MG deficit bound N/(k+1) = N/1025 is strictly
    * below it, so the candidate set provably contains every reported
    * key at ANY data size — which is what lets a sketch whose internal
    * state is merge-order-dependent still back a hash-exact oracle.
    */
  val HhK = 1024
  /** Report keys with frequency ≥ 1/HhDen of the stream. */
  val HhDen = 1000L

  /** Heavy hitters over the lineitem supplier stream: sketch → exact.
    * Pass 1 runs the [[graft.functions.MisraGries]] summary (one
    * bounded buffer per partition, a k-entry array per partition on the
    * shuffle — no groupBy of the full key space); pass 2 re-counts ONLY
    * the surviving candidates (broadcast semi join) and applies the
    * exact integer threshold cnt·HhDen ≥ N. Output is exact, so the
    * DuckDB oracle is the plain two-aggregate formulation. At 100 TB
    * the sketch pass is the point: the exact pass's groupBy touches
    * only rows whose key is in a ≤k-entry broadcast set.
    */
  def heavyHitters(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir).select(col("l_suppkey").cast("long").as("k"))
    // sketch and stream total ride ONE aggregate pass (r12 ledger
    // sweep: the separate total pass was a third full scan — at 100 TB
    // that's a whole extra pass over the stream for one count); the
    // 1-row result severs so its two readers don't re-run the pass
    val sk = li.agg(graft.functions.MisraGries.misraGries(HhK, col("k")).as("cs"),
                    count(lit(1)).as("total_n"))
      .localCheckpoint()
    val cands = sk.select(explode(col("cs")).as("k"))
    val total = sk.select("total_n")
    li.join(broadcast(cands), Seq("k"), "left_semi")
      .groupBy("k")
      .agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(total))
      .where(col("cnt") * HhDen >= col("total_n"))
      .select(col("k").as("suppkey"), col("cnt"),
              round(col("cnt") / col("total_n").cast("double"), 6).as("frac"))
      .orderBy(col("cnt").desc, col("suppkey").asc)
  }

  val heavyHittersSql: String =
    s"""WITH c AS (
       |  SELECT l_suppkey AS suppkey, count(*) AS cnt FROM lineitem GROUP BY 1
       |), n AS (
       |  SELECT count(*) AS total_n FROM lineitem
       |)
       |SELECT suppkey, cnt, round(cnt / total_n::DOUBLE, 6) AS frac
       |FROM c CROSS JOIN n
       |WHERE cnt * $HhDen >= total_n
       |ORDER BY cnt DESC, suppkey ASC""".stripMargin

  /** CMS depth (independent hash rows). */
  val CmsDepth = 4
  /** CMS width (buckets per row). */
  val CmsWidth = 256
  /** Keys audited against the sketch. */
  val CmsProbeK = 20
  /** Carter–Wegman hash family h_j(k) = ((a_j·k + b_j) mod P) mod W
    * with a_j = CmsA0 + j·CmsAStep, b_j = CmsB0 + j·CmsBStep — the
    * textbook pairwise-independent CMS family, pure 64-bit integer
    * arithmetic (max product ≈ 5e6·2³¹ « 2⁶³). Replaced the earlier
    * md5-substring hash: per-row MessageDigest over 4× the corpus was
    * the whole query's cost (~4 s steady-state at sf0.1 → sub-second),
    * and an LCG-mod-prime family is the theoretically standard choice
    * anyway. Integer math is bit-identical cross-engine by
    * construction. */
  val CmsP = 2147483647L
  val CmsA0 = 1103627L
  val CmsAStep = 1217771L
  val CmsB0 = 12345L
  val CmsBStep = 67891L
  /** The shared hash expression (identical text runs in Spark SQL and
    * DuckDB): bucket of key `k` under hash row `j`. */
  def cmsBucket(j: String, k: String): String =
    s"((($CmsA0 + $j * $CmsAStep) * $k + $CmsB0 + $j * $CmsBStep) % $CmsP) % $CmsWidth"

  /** Count-min sketch over the lineitem supplier stream, audited
    * against exact counts — completes the sketch family (HLL twin,
    * linear counting, Bloom, Misra–Gries, MinHash/SimHash). The
    * Spark-first insight: a CMS is just a BOUNDED GROUP-BY — cell
    * (j, b) = count of rows hashing to bucket b under hash j — so
    * Catalyst's partial aggregation IS the sketch merge (cell-wise
    * sum, commutative), and no custom TypedImperativeAggregate is
    * needed; the whole summary is depth × width = 1024 cells
    * regardless of corpus size. Estimates depend only on final cell
    * values, so they are exactly engine-reproducible (unlike MG,
    * whose internal state is order-dependent — which is why THAT one
    * needed the exact re-count pass). est(key) = min_j cell(j, h_j) ≥
    * true count always; the output reports estimate, exact, and the
    * overestimate (≥ 0 invariant, spec-pinned) for the top probe keys.
    *
    * At 100 TB: the corpus is read once with a 4× map-side explode and
    * collapses into the 1024-cell aggregate; the probe join rides a
    * broadcast of those cells. The exact column here is the AUDIT —
    * a production stream would ship only the cells.
    */
  def cmSketch(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir).select(col("l_suppkey").cast("long").as("k"))
    val cells = li
      .select(explode(expr(s"sequence(0, ${CmsDepth - 1})")).as("j"), col("k"))
      .withColumn("b", expr(cmsBucket("j", "k")))
      .groupBy("j", "b").agg(count(lit(1)).as("c"))
    val probes = li.groupBy("k").agg(count(lit(1)).as("exact_cnt"))
      .orderBy(col("exact_cnt").desc, col("k").asc).limit(CmsProbeK)
      .select(explode(expr(s"sequence(0, ${CmsDepth - 1})")).as("j"),
              col("k"), col("exact_cnt"))
      .withColumn("b", expr(cmsBucket("j", "k")))
    probes.join(broadcast(cells), Seq("j", "b"))
      .groupBy("k", "exact_cnt")
      .agg(min("c").as("cms_est"))
      .select(col("k").as("suppkey"), col("exact_cnt"), col("cms_est"),
              (col("cms_est") - col("exact_cnt")).as("overestimate"))
      .orderBy(col("exact_cnt").desc, col("suppkey").asc)
  }

  val cmSketchSql: String =
    s"""WITH li AS (
       |  SELECT l_suppkey::BIGINT AS k FROM lineitem
       |), hs AS (
       |  SELECT unnest(range($CmsDepth)) AS j
       |), rws AS (
       |  SELECT hs.j, li.k,
       |    ${cmsBucket("hs.j", "li.k")} AS b
       |  FROM li CROSS JOIN hs
       |), cells AS (
       |  SELECT j, b, count(*) AS c FROM rws GROUP BY j, b
       |), probes AS (
       |  SELECT k, count(*) AS exact_cnt FROM li GROUP BY k
       |  ORDER BY exact_cnt DESC, k ASC LIMIT $CmsProbeK
       |), pj AS (
       |  SELECT p.k, p.exact_cnt, hs.j,
       |    ${cmsBucket("hs.j", "p.k")} AS b
       |  FROM probes p CROSS JOIN hs
       |), est AS (
       |  SELECT pj.k, pj.exact_cnt, min(c.c)::BIGINT AS cms_est
       |  FROM pj JOIN cells c ON c.j = pj.j AND c.b = pj.b
       |  GROUP BY pj.k, pj.exact_cnt
       |)
       |SELECT k AS suppkey, exact_cnt, cms_est,
       |  (cms_est - exact_cnt)::BIGINT AS overestimate
       |FROM est
       |ORDER BY exact_cnt DESC, suppkey ASC""".stripMargin

  /** Keys reported by the skew profiler. */
  val SkewTop = 10

  /** Join-key skew profiler: the diagnostic every shuffle-heavy
    * pipeline runs before picking a partitioning strategy. One exact
    * aggregate over the fact table's join key (l_partkey), then the
    * top [[SkewTop]] keys with their share and cumulative share of all
    * rows, plus the uniform-expectation multiple (share × n_keys — how
    * many times hotter than uniform this key runs). The numbers are
    * exact integers and single IEEE divisions; at 100 TB this is the
    * query whose output decides between plain hash join, AQE skew
    * split, and manual salting.
    */
  def skewProfile(spark: SparkSession, sfDir: String): DataFrame = {
    val counts = Tables.lineitem(spark, sfDir)
      .groupBy(col("l_partkey")).agg(count(lit(1)).as("n_rows"))
    val totals = counts.agg(sum("n_rows").as("total_rows"), count(lit(1)).as("n_keys"))
    val top = counts
      .orderBy(col("n_rows").desc, col("l_partkey").asc)
      .limit(SkewTop)
    top.crossJoin(broadcast(totals))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("n_rows").desc, col("l_partkey").asc)))
      .withColumn("share", round(col("n_rows") / col("total_rows"), 6))
      .withColumn("cum_share", round(
        sum(col("n_rows")).over(Window.orderBy(col("n_rows").desc, col("l_partkey").asc)
          .rowsBetween(Window.unboundedPreceding, 0)) / col("total_rows"), 6))
      .withColumn("x_uniform", round(col("n_rows") * col("n_keys") / col("total_rows"), 4))
      .select("rk", "l_partkey", "n_rows", "share", "cum_share", "x_uniform")
      .orderBy("rk")
  }

  val skewProfileSql: String =
    s"""WITH counts AS (
       |  SELECT l_partkey, count(*) AS n_rows FROM lineitem GROUP BY l_partkey
       |), totals AS (
       |  SELECT sum(n_rows)::BIGINT AS total_rows, count(*) AS n_keys FROM counts
       |), ranked AS (
       |  SELECT l_partkey, n_rows,
       |    row_number() OVER (ORDER BY n_rows DESC, l_partkey ASC) AS rk,
       |    sum(n_rows) OVER (ORDER BY n_rows DESC, l_partkey ASC
       |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM counts
       |)
       |SELECT rk, l_partkey, n_rows,
       |  round(n_rows / total_rows::DOUBLE, 6) AS share,
       |  round(cum / total_rows::DOUBLE, 6) AS cum_share,
       |  round(n_rows * n_keys / total_rows::DOUBLE, 4) AS x_uniform
       |FROM ranked CROSS JOIN totals
       |WHERE rk <= $SkewTop
       |ORDER BY rk""".stripMargin

  /** Incremental-state split date: rows shipped before it are the
    * "materialized state", the rest are the "delta batch".
    */
  val IncrSplit = "1998-01-01"

  /** Incremental aggregation by state merge — the pattern behind every
    * incrementally-maintained rollup: the historical partition's
    * PARTIAL aggregate (count/sum/min/max per group, materialized once)
    * unions with the delta batch's partial aggregate and re-aggregates
    * with the merge functions (sum of sums, min of mins …), never
    * rescanning history. The oracle recomputes from scratch — equality
    * IS the correctness property of mergeable state. n_base/n_delta
    * expose that both sides actually contributed.
    */
  def incrementalAgg(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_returnflag"), col("l_quantity"), col("l_extendedprice"), col("l_shipdate"))
    val split = lit(IncrSplit).cast("timestamp_ntz")
    def partial(df: DataFrame): DataFrame = df.groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_rows"), sum("l_quantity").as("sum_qty"),
           min("l_extendedprice").as("min_price"), max("l_extendedprice").as("max_price"))
    val base  = partial(li.where(col("l_shipdate") < split)).withColumn("src", lit("base"))
    val delta = partial(li.where(col("l_shipdate") >= split)).withColumn("src", lit("delta"))
    base.unionByName(delta)
      .groupBy("l_returnflag")
      .agg(sum("n_rows").as("n_rows"),
           round(sum("sum_qty"), 4).as("sum_qty"),
           min("min_price").as("min_price"),
           max("max_price").as("max_price"),
           sum(when(col("src") === "base", col("n_rows")).otherwise(0L)).as("n_base"),
           sum(when(col("src") === "delta", col("n_rows")).otherwise(0L)).as("n_delta"))
      .orderBy("l_returnflag")
  }

  val incrementalAggSql: String =
    s"""SELECT l_returnflag, count(*) AS n_rows,
       |  round(sum(l_quantity), 4) AS sum_qty,
       |  min(l_extendedprice) AS min_price,
       |  max(l_extendedprice) AS max_price,
       |  sum(CASE WHEN l_shipdate < TIMESTAMP '$IncrSplit' THEN 1 ELSE 0 END)::BIGINT AS n_base,
       |  sum(CASE WHEN l_shipdate >= TIMESTAMP '$IncrSplit' THEN 1 ELSE 0 END)::BIGINT AS n_delta
       |FROM lineitem
       |GROUP BY l_returnflag
       |ORDER BY l_returnflag""".stripMargin

  /** Join-explosion planner — [[skewProfile]]'s sibling for the
    * decision that precedes it: before ANY self-join or fact⋈fact
    * shuffle ships, what does each candidate key cost? For every
    * candidate (table, key): exact key cardinality, max and average
    * fanout, the hottest key, and the exact self-join output size
    * Σ n(k)² — the number that decides whether a CF-style pair
    * expansion needs a per-key cap (the [[Recsys]] UserCap exists
    * because of exactly this quantity). One by-key aggregate per
    * candidate (map-side combinable), a 1-row summary, and a
    * TakeOrderedAndProject(1) for the hot key — each candidate audits
    * independently, so no window ever partitions on the tiny
    * candidate label.
    */
  def joinExplosion(spark: SparkSession, sfDir: String): DataFrame = {
    def audit(df: DataFrame, candidate: String, keyCol: String): DataFrame = {
      // r10 rescan sever: the fanout histogram feeds the rollup AND the
      // top-key probe — severed once so each candidate scans its fact
      // table once (lineitem printed ×4 across its two candidates)
      val byKey = df.groupBy(col(keyCol).cast("long").as("k"))
        .agg(count(lit(1)).as("cnt"))
        .localCheckpoint()
      val agg = byKey.agg(
        sum("cnt").as("n_rows"), count(lit(1)).as("n_keys"),
        max("cnt").as("max_fanout"),
        sum(col("cnt") * col("cnt")).as("est_self_join_rows"))
      val top = byKey.orderBy(col("cnt").desc, col("k").asc).limit(1)
        .select(col("k").as("top_key"), col("cnt").as("top_fanout"))
      agg.crossJoin(broadcast(top)).withColumn("candidate", lit(candidate))
    }
    val l = Tables.lineitem(spark, sfDir)
    audit(Tables.events(spark, sfDir), "events.user_id", "user_id")
      .unionByName(audit(l, "lineitem.l_orderkey", "l_orderkey"))
      .unionByName(audit(l, "lineitem.l_partkey", "l_partkey"))
      .unionByName(audit(Tables.orders(spark, sfDir), "orders.o_custkey", "o_custkey"))
      .withColumn("avg_fanout_x100", expr("(n_rows * 100) div n_keys"))
      .select(col("candidate"), col("n_rows"), col("n_keys"), col("max_fanout"),
              col("avg_fanout_x100"), col("est_self_join_rows"),
              col("top_key"), col("top_fanout"))
      .orderBy("candidate")
  }

  val joinExplosionSql: String = {
    def block(candidate: String, table: String, key: String): String =
      s"""SELECT '$candidate' AS candidate,
         |  sum(cnt)::BIGINT AS n_rows, count(*)::BIGINT AS n_keys,
         |  max(cnt)::BIGINT AS max_fanout,
         |  ((sum(cnt) * 100) // count(*))::BIGINT AS avg_fanout_x100,
         |  sum(cnt * cnt)::BIGINT AS est_self_join_rows,
         |  (SELECT k FROM (SELECT $key::BIGINT AS k, count(*) AS cnt FROM $table GROUP BY 1)
         |     ORDER BY cnt DESC, k ASC LIMIT 1) AS top_key,
         |  (SELECT cnt FROM (SELECT $key::BIGINT AS k, count(*) AS cnt FROM $table GROUP BY 1)
         |     ORDER BY cnt DESC, k ASC LIMIT 1)::BIGINT AS top_fanout
         |FROM (SELECT $key::BIGINT AS k, count(*) AS cnt FROM $table GROUP BY 1)""".stripMargin
    Seq(
      block("events.user_id", "events", "user_id"),
      block("lineitem.l_orderkey", "lineitem", "l_orderkey"),
      block("lineitem.l_partkey", "lineitem", "l_partkey"),
      block("orders.o_custkey", "orders", "o_custkey"),
    ).mkString("", "\nUNION ALL\n", "\nORDER BY candidate")
  }

  /** KMV sketch size (k smallest distinct hash values kept). */
  val KmvK = 64
  /** KMV hash domain: h48(md5) values are uniform in [0, 2^48). 2^48
    * is exactly representable as a double, and the k retained minima
    * are ≈ (k/n)·2^48 — far below 2^53 for any n past a few hundred —
    * so every estimate is one exact integer-as-double multiply/divide,
    * bit-identical cross-engine. Collisions bias the sketch only by
    * ~n²/2^49 colliding pairs (≈2k at n = 10⁹ distinct — relative
    * error 2e-6), so the 48-bit domain holds to ~10¹² distinct.
    */
  val KmvM: Double = 281474976710656.0
  /** Engine-portable 48-bit hash (12 hex digits of md5 — the same
    * family as Dedup's h32/Training's h60).
    */
  private def h48(e: String): String =
    s"cast(conv(substring(md5($e), 1, 12), 16, 10) AS bigint)"

  /** KMV distinct-count sketch per event type, audited against the
    * exact count — the ORACLE-VERIFIABLE mergeable distinct sketch
    * next to the HLL twin (q_approx_distinct is rows-only by design;
    * this one hash-matches DuckDB because its state is order
    * statistics of a portable hash, not engine-private registers).
    * Estimator: (k−1)·M / h_(k) when the sketch filled, exact size
    * otherwise (Bar-Yossef et al. 2002; σ ≈ n/√(k−2) ≈ 12.7% at
    * k = 64).
    *
    * At 100 TB: raw rows feed [[graft.functions.KmvMins]] directly —
    * duplicates die in the map-side buffer, the shuffle carries
    * ≤ k·|groups| longs, merge is exact sketch union. The
    * countDistinct column here is the AUDIT a production run would
    * drop.
    */
  def kmvDistinct(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .where(col("user_id").isNotNull)
      .select(col("event_type"), col("user_id"),
              expr(h48("cast(user_id AS string)")).as("h"))
    ev.groupBy("event_type")
      .agg(graft.functions.KmvMins.kmvMins(KmvK, col("h")).as("mins"),
           countDistinct(col("user_id")).as("exact_users"))
      .withColumn("sketch_n", size(col("mins")).cast("long"))
      .withColumn("kth", expr(s"try_element_at(mins, $KmvK)"))
      .withColumn("est_users",
        round(when(col("sketch_n") < KmvK, col("sketch_n").cast("double"))
          .otherwise(lit((KmvK - 1).toDouble) * lit(KmvM) / col("kth").cast("double")), 4))
      .withColumn("rel_err",
        round(abs(col("est_users") - col("exact_users")) / col("exact_users").cast("double"), 4))
      .select("event_type", "exact_users", "sketch_n", "est_users", "rel_err")
      .orderBy("event_type")
  }

  val kmvDistinctSql: String =
    s"""WITH ev AS (
       |  SELECT event_type, user_id,
       |    ('0x' || substr(md5(user_id::VARCHAR), 1, 12))::BIGINT AS h
       |  FROM events WHERE user_id IS NOT NULL
       |), hs AS (
       |  SELECT DISTINCT event_type, h FROM ev
       |), r AS (
       |  SELECT event_type, h,
       |    row_number() OVER (PARTITION BY event_type ORDER BY h) AS rk
       |  FROM hs
       |), s AS (
       |  SELECT event_type, count(*) AS sketch_n, max(h) AS kth
       |  FROM r WHERE rk <= $KmvK GROUP BY event_type
       |), e AS (
       |  SELECT event_type, count(DISTINCT user_id) AS exact_users
       |  FROM ev GROUP BY event_type
       |), est AS (
       |  SELECT e.event_type, e.exact_users, s.sketch_n,
       |    round(CASE WHEN s.sketch_n < $KmvK THEN s.sketch_n::DOUBLE
       |          ELSE ${KmvK - 1}e0 * 281474976710656e0 / s.kth::DOUBLE END, 4) AS est_users
       |  FROM e JOIN s USING (event_type)
       |)
       |SELECT event_type, exact_users, sketch_n, est_users,
       |  round(abs(est_users - exact_users) / exact_users::DOUBLE, 4) AS rel_err
       |FROM est ORDER BY event_type""".stripMargin

  /** KMV set-operation estimates for every SOURCE pair over the
    * n-gram shingle sets: union cardinality, Jaccard, and common-gram
    * count — from the 20 per-source sketches ALONE — audited against
    * the exact intersection/Jaccard that q_source_overlap computes
    * with a full (source, gram) join. This is the sketch capability
    * HLL lacks entirely: the union of two KMV summaries is exactly
    * the KMV summary of the union (take the k smallest of the merged
    * minima), and the share ρ of those union minima present in BOTH
    * sides estimates Jaccard, so |A∩B| ≈ ρ·|A∪B| (Beyer et al.,
    * "On synopses for distinct-value estimation under multiset
    * operations", SIGMOD 2007).
    *
    * At 100 TB: the exact pairwise matrix costs a per-gram aggregate
    * plus S²-bounded pair expansion over EVERY distinct gram
    * (q_source_overlap's plan — the right exact design, but it reads
    * the whole gram corpus); the sketch path collapses each source to
    * k longs map-side and compares 20·64 values. The exact columns
    * here are the fixture-scale audit. Estimates are exact
    * integer-as-double arithmetic on array elements, so the DuckDB
    * oracle reproduces every digit relationally (row_number over the
    * same h48 minima).
    */
  def kmvOverlap(spark: SparkSession, sfDir: String): DataFrame = {
    val src = Tables.documents(spark, sfDir).select("doc_id", "source")
    // severed once: the distinct (source, h) frame feeds the sketch,
    // the per-source sizes, and BOTH sides of the exact-audit join —
    // without the checkpoint each consumer re-plans the shingle chain
    // (r9s2 rescan-sweep rule)
    val sgh = Dedup.shingles(spark, sfDir).join(src, "doc_id")
      .select(col("source"), expr(h48("s")).as("h")).distinct()
      .localCheckpoint()
    val sk = sgh.groupBy("source")
      .agg(graft.functions.KmvMins.kmvMins(KmvK, col("h")).as("mins"))
    val perSrc = sgh.groupBy("source").agg(count(lit(1)).as("n"))
    val pairs = sk.as("a")
      .join(broadcast(sk.as("b")), col("a.source") < col("b.source"))
      .select(col("a.source").as("src_a"), col("b.source").as("src_b"),
              col("a.mins").as("am"), col("b.mins").as("bm"))
      .withColumn("u", slice(array_sort(array_distinct(concat(col("am"), col("bm")))), 1, KmvK))
      .withColumn("ku", size(col("u")).cast("long"))
      .withColumn("kth", expr(s"try_element_at(u, $KmvK)"))
      .withColumn("common_mins",
        size(array_intersect(array_intersect(col("u"), col("am")), col("bm"))).cast("long"))
    val ex = sgh.as("x")
      .join(sgh.as("y"),
        col("x.h") === col("y.h") && col("x.source") < col("y.source"))
      .groupBy(col("x.source").as("src_a"), col("y.source").as("src_b"))
      .agg(count(lit(1)).as("exact_inter"))
    pairs.join(ex, Seq("src_a", "src_b"), "left")
      .join(broadcast(perSrc.select(col("source").as("src_a"), col("n").as("na"))), "src_a")
      .join(broadcast(perSrc.select(col("source").as("src_b"), col("n").as("nb"))), "src_b")
      .withColumn("exact_inter", coalesce(col("exact_inter"), lit(0L)))
      .withColumn("exact_jaccard",
        round(col("exact_inter") / (col("na") + col("nb") - col("exact_inter")).cast("double"), 6))
      .withColumn("est_common",
        round(when(col("ku") < KmvK, col("common_mins").cast("double"))
          .otherwise(col("common_mins").cast("double") * lit((KmvK - 1).toDouble) * lit(KmvM)
            / (col("kth") * col("ku")).cast("double")), 4))
      .withColumn("est_union",
        round(when(col("ku") < KmvK, col("ku").cast("double"))
          .otherwise(lit((KmvK - 1).toDouble) * lit(KmvM) / col("kth").cast("double")), 4))
      .withColumn("est_jaccard", round(col("common_mins") / col("ku").cast("double"), 4))
      .select("src_a", "src_b", "exact_inter", "exact_jaccard",
              "est_common", "est_union", "est_jaccard")
      .orderBy("src_a", "src_b")
  }

  val kmvOverlapSql: String =
    s"""WITH ${Dedup.shinglesSql}, sg AS (
       |  SELECT DISTINCT d.source,
       |    ('0x' || substr(md5(sh.s), 1, 12))::BIGINT AS h
       |  FROM sh JOIN documents d USING (doc_id)
       |), per AS (
       |  SELECT source, count(*) AS n FROM sg GROUP BY source
       |), r AS (
       |  SELECT source, h,
       |    row_number() OVER (PARTITION BY source ORDER BY h) AS rk
       |  FROM sg
       |), mins AS (
       |  SELECT source, h FROM r WHERE rk <= $KmvK
       |), ts AS (
       |  SELECT DISTINCT source FROM sg
       |), p AS (
       |  SELECT a.source AS src_a, b.source AS src_b
       |  FROM ts a JOIN ts b ON a.source < b.source
       |), uh AS (
       |  SELECT DISTINCT p.src_a, p.src_b, m.h
       |  FROM p JOIN mins m ON m.source = p.src_a OR m.source = p.src_b
       |), ur AS (
       |  SELECT src_a, src_b, h,
       |    row_number() OVER (PARTITION BY src_a, src_b ORDER BY h) AS rk
       |  FROM uh
       |), u AS (
       |  SELECT src_a, src_b, count(*) AS ku, max(h) AS kth
       |  FROM ur WHERE rk <= $KmvK GROUP BY src_a, src_b
       |), cm AS (
       |  SELECT ur.src_a, ur.src_b, count(*) AS common_mins
       |  FROM ur
       |  JOIN mins ma ON ma.source = ur.src_a AND ma.h = ur.h
       |  JOIN mins mb ON mb.source = ur.src_b AND mb.h = ur.h
       |  WHERE ur.rk <= $KmvK
       |  GROUP BY ur.src_a, ur.src_b
       |), ex AS (
       |  SELECT x.source AS src_a, y.source AS src_b, count(*) AS exact_inter
       |  FROM sg x JOIN sg y ON x.h = y.h AND x.source < y.source
       |  GROUP BY 1, 2
       |)
       |SELECT u.src_a, u.src_b,
       |  coalesce(ex.exact_inter, 0)::BIGINT AS exact_inter,
       |  round(coalesce(ex.exact_inter, 0)
       |        / (pa.n + pb.n - coalesce(ex.exact_inter, 0))::DOUBLE, 6) AS exact_jaccard,
       |  round(CASE WHEN u.ku < $KmvK THEN coalesce(cm.common_mins, 0)::DOUBLE
       |        ELSE coalesce(cm.common_mins, 0)::DOUBLE * ${KmvK - 1}e0 * 281474976710656e0
       |             / (u.kth * u.ku)::DOUBLE END, 4) AS est_common,
       |  round(CASE WHEN u.ku < $KmvK THEN u.ku::DOUBLE
       |        ELSE ${KmvK - 1}e0 * 281474976710656e0 / u.kth::DOUBLE END, 4) AS est_union,
       |  round(coalesce(cm.common_mins, 0) / u.ku::DOUBLE, 4) AS est_jaccard
       |FROM u
       |LEFT JOIN cm ON cm.src_a = u.src_a AND cm.src_b = u.src_b
       |LEFT JOIN ex ON ex.src_a = u.src_a AND ex.src_b = u.src_b
       |JOIN per pa ON pa.source = u.src_a
       |JOIN per pb ON pb.source = u.src_b
       |ORDER BY 1, 2""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_join_explosion", joinExplosion _, Some(joinExplosionSql)),
    QuerySpec("q_skew_profile", skewProfile _, Some(skewProfileSql)),
    QuerySpec("q_incremental_agg", incrementalAgg _, Some(incrementalAggSql)),
    QuerySpec("q_udaf_weighted_pref", udafWeightedPref _, Some(udafWeightedPrefSql)),
    QuerySpec("q_tfidf_terms", tfidfTerms _, Some(tfidfTermsSql)),
    QuerySpec("q_tfidf_doc_sim", tfidfDocSim _, Some(tfidfDocSimSql)),
    QuerySpec("q_heavy_hitters", heavyHitters _, Some(heavyHittersSql)),
    QuerySpec("q_cms_counts", cmSketch _, Some(cmSketchSql)),
    QuerySpec("q_kmv_distinct", kmvDistinct _, Some(kmvDistinctSql)),
    QuerySpec("q_kmv_overlap", kmvOverlap _, Some(kmvOverlapSql)),
  )
}
