package graft.operators

import graft.{QueryFamily, QuerySpec, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data-pipeline operators beyond the per-pair dedup tiers:
  * duplicate-cluster resolution (connected components), deterministic
  * hash sampling, and per-group embedding centroids.
  *
  * These are the glue stages a 100 TB corpus pipeline needs between
  * "candidate pairs found" and "clean corpus out":
  *   - pairs only say A~B; SURVIVORSHIP needs the transitive closure
  *     (A~B, B~C ⇒ one cluster, one survivor) — connected components;
  *   - reproducible debug/eval subsets need SAMPLING that is stable
  *     across runs and engines — hash the key, not rand();
  *   - corpus health checks need per-group embedding CENTROIDS and
  *     spread (drift detection, cluster quality).
  */
object PipelineOps extends QueryFamily {

  /** Max label-propagation rounds before declaring non-convergence. */
  val MaxCcRounds = 20

  /** Connected components over the SimHash near-dup graph
    * ([[Dedup.simhashPairs]] edges), by iterative min-label
    * propagation: every vertex starts labeled with its own id; each
    * round it takes the min of its label and its neighbors' labels;
    * at fixpoint the label is the component's min doc_id (the dedup
    * survivor). Each round also POINTER-JUMPS (label(v) :=
    * label(label(v)) — valid because every label is itself a vertex id
    * of the same component), which turns O(diameter) convergence into
    * O(log diameter) — the same doubling idea as the published
    * two-phase (large-star/small-star) formulations. Each round is two
    * shuffle joins + an aggregate; `localCheckpoint` truncates the
    * plan so lineage doesn't grow with rounds (a cluster deployment
    * would use a checkpoint dir).
    *
    * Output: one row per duplicate cluster (cluster_id = surviving
    * doc_id, member count, comma-joined member list).
    */
  def dedupClusters(spark: SparkSession, sfDir: String): DataFrame =
    simhashLabels(spark, sfDir).groupBy(col("label").as("cluster_id"))
      .agg(count(lit(1)).as("n_docs"),
           concat_ws(",", expr("transform(sort_array(collect_list(v)), x -> cast(x AS string))")).as("members"))
      .orderBy("cluster_id")

  /** Memoized label fixpoint over the SimHash near-dup edges — shared
    * by the cluster report and canonical-corpus emission, so the
    * iterative CC loop runs once per session, not once per consuming
    * query (the loop is eager: each round collects a convergence
    * witness).
    */
  private def simhashLabels(spark: SparkSession, sfDir: String): DataFrame =
    graft.QueryCache.memo(spark, s"pipeline:cclabels:$sfDir") {
      ccLabels(Dedup.simhashPairs(spark, sfDir).select("doc_a", "doc_b"))
    }

  /** Force-build the memoized SimHash label fixpoint (Bench warm hook
    * — q_dedup_clusters and q_dedup_canonical both serve from it, the
    * same shared-model rule as lpaLabels/mutualEdges). */
  def warm(spark: SparkSession, sfDir: String): Unit =
    simhashLabels(spark, sfDir).count(): Unit

  /** The reusable core: components of ANY undirected pair DataFrame
    * (columns doc_a, doc_b) — callers feed it whichever near-dup tier
    * produced their pairs (SimHash here; MinHash/Jaccard/embedding
    * work identically). Returns (cluster_id, n_docs, members) with
    * cluster_id = the component's min vertex. Empty input → empty
    * output (zero rounds).
    */
  def connectedComponents(edges: DataFrame): DataFrame =
    ccLabels(edges).groupBy(col("label").as("cluster_id"))
      .agg(count(lit(1)).as("n_docs"),
           concat_ws(",", expr("transform(sort_array(collect_list(v)), x -> cast(x AS string))")).as("members"))
      .orderBy("cluster_id")

  /** The label fixpoint itself: (v, label) with label = the component's
    * min vertex — exposed separately so consumers that need PER-VERTEX
    * survivorship (canonical-corpus emission) skip the cluster rollup.
    */
  private[graft] def ccLabels(edges: DataFrame): DataFrame = {
    // near-dup edge lists are tiny relative to the corpus: narrow the
    // iteration to a few partitions so each round's joins/checkpoints
    // don't pay 32-way task scheduling (a truly large graph would keep
    // the natural partitioning — this coalesce is data-size-driven)
    val sym = edges.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(edges.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .coalesce(4)
      .persist()
    var labels = sym.select(col("src").as("v")).distinct()
      .select(col("v"), col("v").as("label"))
      .coalesce(4)
      .localCheckpoint()
    var prevSum = -1L
    var rounds = 0
    var converged = false
    while (!converged && rounds < MaxCcRounds) {
      val nbrMin = sym.join(labels, sym("dst") === labels("v"))
        .groupBy(sym("src").as("nv")).agg(min("label").as("nbr_label"))
      val stepped = labels.join(nbrMin, labels("v") === nbrMin("nv"), "left")
        .select(col("v"), least(col("label"), coalesce(col("nbr_label"), col("label"))).as("label"))
      // pointer jump: follow the label one hop through itself
      val lv = stepped.select(col("v").as("jv"), col("label").as("jlabel"))
      labels = stepped.join(lv, stepped("label") === lv("jv"), "left")
        .select(col("v"), least(col("label"), coalesce(col("jlabel"), col("label"))).as("label"))
        .coalesce(4)
        .localCheckpoint()
      // labels only ever decrease: Σlabel is a monotone convergence
      // witness (coalesce covers the empty-vertex-set case)
      val s = labels.agg(coalesce(sum("label"), lit(0L))).collect()(0).getLong(0)
      converged = s == prevSum
      prevSum = s
      rounds += 1
    }
    sym.unpersist(blocking = false)
    require(converged, s"connected components did not converge in $MaxCcRounds rounds")
    labels
  }

  /** Oracle closure CTEs shared by the cluster report and the
    * canonical-corpus emitter: transitive closure by recursive CTE
    * over the same SimHash edges, then min over each vertex's
    * reachable set. Fine at oracle scale; the Spark side is the one
    * that has to survive 100 TB.
    */
  private val ccClosureSql: String =
    s"""${Dedup.simhashSigsSql},
       |edges AS (
       |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM sigs x JOIN sigs y ON x.doc_id < y.doc_id
       |  WHERE bit_count(xor(x.sig, y.sig)) <= ${Dedup.MaxHamming}
       |), sym AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM edges
       |  UNION ALL
       |  SELECT doc_b AS src, doc_a AS dst FROM edges
       |), reach(src, dst) AS (
       |  SELECT src, dst FROM sym
       |  UNION
       |  SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src
       |), lbl AS (
       |  SELECT src AS v, least(src, min(dst)) AS label FROM reach GROUP BY src
       |)""".stripMargin

  val dedupClustersSql: String =
    s"""WITH RECURSIVE $ccClosureSql
       |SELECT label AS cluster_id, count(*) AS n_docs,
       |  string_agg(v::VARCHAR, ',' ORDER BY v) AS members
       |FROM lbl GROUP BY label
       |ORDER BY cluster_id""".stripMargin

  /** Canonical-corpus emission — the step every dedup pipeline
    * actually ships: resolve near-dup clusters, keep ONE survivor per
    * cluster (min doc_id), pass every unclustered doc through, and
    * report the per-source keep/remove tally (the number a crawl
    * vendor gets told). Removal set = vertices whose component label
    * is smaller than themselves.
    *
    * Scale shape: the label fixpoint is the [[ccLabels]] loop (edge-
    * list-sized, log-diameter rounds); the removal set joins the
    * corpus on doc_id as a plain equi-join — deliberately NOT
    * broadcast, since at 100 TB the dup set is corpus-scale (30%+ of
    * a raw crawl), exactly the unbounded-broadcast trap newVsReturning
    * documents.
    */
  def canonicalCorpus(spark: SparkSession, sfDir: String): DataFrame = {
    val removed = simhashLabels(spark, sfDir)
      .where(col("label") < col("v"))
      .select(col("v").as("doc_id"), lit(1L).as("rm"))
    Tables.documents(spark, sfDir).select("doc_id", "source")
      .join(removed, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
           sum(coalesce(col("rm"), lit(0L))).as("n_removed"),
           (count(lit(1)) - sum(coalesce(col("rm"), lit(0L)))).as("n_kept"))
      .orderBy("source")
  }

  val canonicalCorpusSql: String =
    s"""WITH RECURSIVE $ccClosureSql
       |SELECT d.source, count(*) AS n_docs,
       |  sum(CASE WHEN r.v IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_removed,
       |  (count(*) - sum(CASE WHEN r.v IS NOT NULL THEN 1 ELSE 0 END))::BIGINT AS n_kept
       |FROM documents d
       |LEFT JOIN (SELECT v FROM lbl WHERE label < v) r ON d.doc_id = r.v
       |GROUP BY d.source
       |ORDER BY d.source""".stripMargin

  /** Percent of rows kept by the deterministic sample. */
  val SamplePct = 5

  /** Deterministic hash sampling: keep a row iff
    * h32(md5(orderkey-linenumber)) mod 100 < $SamplePct. Unlike
    * rand()-based sampling this is reproducible across runs, engines
    * and partitionings (the hash rides the ROW KEY, not the RNG
    * stream), which is what makes debug subsets and eval splits
    * trustworthy in a pipeline; the same idiom with a user/doc key
    * gives leakage-free splits (all rows of one key land on one side).
    * Summary stats per returnflag over the sample prove the selection
    * matches cross-engine.
    */
  def hashSample(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .where(expr("cast(conv(substring(md5(concat_ws('-', l_orderkey, l_linenumber)), 1, 8), 16, 10) AS bigint)") % 100 < SamplePct)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_rows"),
           round(sum("l_quantity"), 4).as("sum_qty"),
           round(avg("l_extendedprice"), 4).as("avg_price"))
      .orderBy("l_returnflag")

  val hashSampleSql: String =
    s"""SELECT l_returnflag, count(*) AS n_rows,
       |  round(sum(l_quantity), 4) AS sum_qty,
       |  round(avg(l_extendedprice), 4) AS avg_price
       |FROM lineitem
       |WHERE ('0x' || substr(md5(l_orderkey || '-' || l_linenumber), 1, 8))::BIGINT % 100 < $SamplePct
       |GROUP BY l_returnflag
       |ORDER BY l_returnflag""".stripMargin

  /** Rows kept per stratum by the stratified sampler. */
  val StratumK = 50

  /** Stratified deterministic sampling: exactly [[StratumK]] rows per
    * stratum (returnflag), chosen by rank over the row-key hash — the
    * balanced-subset idiom for class-skewed data, where a global
    * percentage sample would starve rare strata. The hash covers every
    * column the downstream aggregate reads (orderkey, linenumber,
    * partkey, quantity), so ties between genuinely identical rows are
    * harmless: whichever copy wins contributes identical values. Same
    * engine-portable h32(md5) key as [[hashSample]]. At scale the
    * window is per-stratum and the hash-rank shuffle carries only the
    * stratum key — no global sort.
    */
  def stratifiedSample(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .withColumn("h", expr(
        "cast(conv(substring(md5(concat_ws('-', l_orderkey, l_linenumber, l_partkey, cast(l_quantity AS bigint))), 1, 8), 16, 10) AS bigint)"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("l_returnflag")
          .orderBy(col("h").asc, col("l_orderkey").asc, col("l_linenumber").asc, col("l_partkey").asc)))
      .where(col("rk") <= StratumK)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_rows"),
           round(sum("l_quantity"), 4).as("sum_qty"),
           sum("h").as("sample_checksum"),
           min("h").as("min_h"),
           max("h").as("max_h"))
      .orderBy("l_returnflag")

  val stratifiedSampleSql: String =
    s"""WITH h AS (
       |  SELECT l_returnflag, l_orderkey, l_linenumber, l_partkey, l_quantity,
       |    ('0x' || substr(md5(l_orderkey || '-' || l_linenumber || '-' || l_partkey || '-' || l_quantity::BIGINT), 1, 8))::BIGINT AS h
       |  FROM lineitem
       |), ranked AS (
       |  SELECT l_returnflag, l_quantity, h,
       |    row_number() OVER (PARTITION BY l_returnflag
       |                       ORDER BY h ASC, l_orderkey ASC, l_linenumber ASC, l_partkey ASC) AS rk
       |  FROM h
       |)
       |SELECT l_returnflag, count(*) AS n_rows,
       |  round(sum(l_quantity), 4) AS sum_qty,
       |  sum(h)::BIGINT AS sample_checksum,
       |  min(h) AS min_h,
       |  max(h) AS max_h
       |FROM ranked WHERE rk <= $StratumK
       |GROUP BY l_returnflag
       |ORDER BY l_returnflag""".stripMargin

  /** Per-label embedding centroids + spread: elementwise mean vector
    * per label (posexplode → per-dimension aggregate — the standard
    * distributed centroid shape: no vector ever collects to the
    * driver), centroid components rounded to 6 dp so both engines
    * compute IDENTICAL centroids, then per-vector Euclidean distance
    * to its centroid and per-label spread stats. This is the health
    * check a corpus embedding pipeline runs per source/class: drifting
    * centroids or exploding spread flag upstream breakage.
    */
  def embeddingCentroids(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .withColumn("v", col("v").cast("double"))
    val cent = e.groupBy("label", "pos").agg(round(avg("v"), 6).as("c"))
    val dists = e.join(broadcast(cent), Seq("label", "pos"))
      .groupBy("vec_id", "label")
      .agg(sum(pow(col("v") - col("c"), 2)).as("d2"))
      .select(col("vec_id"), col("label"), sqrt(col("d2")).as("dist"))
    val norms = cent.groupBy("label").agg(round(sqrt(sum(col("c") * col("c"))), 6).as("centroid_norm"))
    dists.groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
           round(avg("dist"), 6).as("avg_dist"),
           round(max("dist"), 6).as("max_dist"))
      .join(broadcast(norms), "label")
      .select("label", "n_vecs", "centroid_norm", "avg_dist", "max_dist")
      .orderBy("label")
  }

  /** Oracle: same math with 1-based subscripts (pos is only a join
    * key inside each engine, never compared across them).
    */
  val embeddingCentroidsSql: String =
    """WITH e AS (
      |  SELECT vec_id, label, i AS pos, embedding[i]::DOUBLE AS v
      |  FROM embeddings
      |  CROSS JOIN (SELECT unnest(range(1, (SELECT max(len(embedding)) + 1 FROM embeddings))) AS i)
      |), cent AS (
      |  SELECT label, pos, round(avg(v), 6) AS c FROM e GROUP BY label, pos
      |), dists AS (
      |  SELECT vec_id, e.label, sqrt(sum((v - c) * (v - c))) AS dist
      |  FROM e JOIN cent ON e.label = cent.label AND e.pos = cent.pos
      |  GROUP BY vec_id, e.label
      |), norms AS (
      |  SELECT label, round(sqrt(sum(c * c)), 6) AS centroid_norm FROM cent GROUP BY label
      |)
      |SELECT d.label, count(*) AS n_vecs, n.centroid_norm,
      |  round(avg(dist), 6) AS avg_dist,
      |  round(max(dist), 6) AS max_dist
      |FROM dists d JOIN norms n ON d.label = n.label
      |GROUP BY d.label, n.centroid_norm
      |ORDER BY d.label""".stripMargin

  /** Quantization levels (int8-style: 0..255). */
  val QLevels = 255

  /** Int8 embedding quantization fidelity: per-vector min/max
    * affine quantization to $QLevels levels (the standard 4× storage
    * cut for embedding corpora), then per-label reconstruction-error
    * stats. floor((v−mn)·$QLevels/(mx−mn)) over doubles is the SAME
    * IEEE expression in both engines, so quantized codes — not just
    * aggregates — match exactly; min/max are selections (no float
    * summation), so the scale factors are exact too. A production
    * pipeline runs exactly this query before flipping a corpus to
    * quantized storage: mean-abs-error per label is the go/no-go.
    */
  def embeddingQuantize(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .withColumn("v", col("v").cast("double"))
    val stats = e.groupBy("vec_id").agg(min("v").as("mn"), max("v").as("mx"))
    val err = e.join(broadcast(stats), "vec_id")
      .where(col("mx") > col("mn"))
      .withColumn("q", floor((col("v") - col("mn")) * QLevels / (col("mx") - col("mn"))))
      .withColumn("deq", col("mn") + col("q") * (col("mx") - col("mn")) / QLevels)
      .groupBy("vec_id", "label")
      .agg(avg(abs(col("v") - col("deq"))).as("mae"),
           countDistinct(col("q")).as("n_codes"))
    err.groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
           round(avg("mae"), 6).as("avg_mae"),
           round(max("mae"), 6).as("max_mae"),
           round(avg("n_codes"), 4).as("avg_codes"))
      .orderBy("label")
  }

  val embeddingQuantizeSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, label, embedding[i]::DOUBLE AS v
       |  FROM embeddings
       |  CROSS JOIN (SELECT unnest(range(1, (SELECT max(len(embedding)) + 1 FROM embeddings))) AS i)
       |), stats AS (
       |  SELECT vec_id, min(v) AS mn, max(v) AS mx FROM e GROUP BY vec_id
       |), err AS (
       |  SELECT e.vec_id, label,
       |    avg(abs(v - (mn + floor((v - mn) * $QLevels / (mx - mn)) * (mx - mn) / $QLevels))) AS mae,
       |    count(DISTINCT floor((v - mn) * $QLevels / (mx - mn))) AS n_codes
       |  FROM e JOIN stats ON e.vec_id = stats.vec_id
       |  WHERE mx > mn
       |  GROUP BY e.vec_id, label
       |)
       |SELECT label, count(*) AS n_vecs,
       |  round(avg(mae), 6) AS avg_mae,
       |  round(max(mae), 6) AS max_mae,
       |  round(avg(n_codes), 4) AS avg_codes
       |FROM err
       |GROUP BY label
       |ORDER BY label""".stripMargin

  /** Base keep-rate multiplier for the temperature sampler (the rate a
    * source exactly at the max count gets).
    */
  val TempBaseRate = 0.35

  /** Temperature-weighted source sampling (the multi-corpus mixing
    * idiom from GPT-3/T5 data recipes: raise rare sources, damp
    * dominant ones, here α = 0.5 ⇒ keep-rate ∝ 1/√n_source). Each
    * source s gets keep rate r_s = min(1, [[TempBaseRate]] ·
    * √(max_count/n_s)); a row is kept iff its key-hash bucket (0..1e6)
    * falls under floor(r_s·1e6) — the same deterministic h32(md5(key))
    * idiom as [[hashSample]], so the selection is reproducible across
    * runs, engines and partitionings. The integer threshold is one
    * sqrt + one floor on identical doubles, so both engines select the
    * exact same rows. Scale shape: source counts are a tiny aggregate
    * (broadcast back), the corpus scan stays linear with the filter
    * fully map-side.
    */
  def weightedSample(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .withColumn("h", expr(
        "cast(conv(substring(md5(concat_ws('-', cast(doc_id AS string), 'ws')), 1, 8), 16, 10) AS bigint)") % 1000000L)
    val counts = docs.groupBy("source").agg(count(lit(1)).as("n_src"))
      .withColumn("max_n", max("n_src").over(org.apache.spark.sql.expressions.Window.partitionBy()))
      .withColumn("thr", least(lit(1000000L),
        floor(lit(TempBaseRate) * sqrt(col("max_n").cast("double") / col("n_src")) * 1000000L).cast("long")))
    docs.join(broadcast(counts), "source")
      .groupBy("source")
      .agg(max("n_src").as("n_docs"),
           max("thr").as("keep_threshold"),
           sum(when(col("h") < col("thr"), 1L).otherwise(0L)).as("n_kept"),
           sum(when(col("h") < col("thr"), col("doc_id")).otherwise(lit(0L))).as("kept_id_checksum"))
      .withColumn("keep_rate", round(col("n_kept") / col("n_docs").cast("double"), 6))
      .orderBy("source")
  }

  val weightedSampleSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, source,
       |    ('0x' || substr(md5(doc_id || '-' || 'ws'), 1, 8))::BIGINT % 1000000 AS h
       |  FROM documents
       |), c AS (
       |  SELECT source, count(*) AS n_src, max(count(*)) OVER () AS max_n
       |  FROM d GROUP BY source
       |), t AS (
       |  SELECT source, n_src,
       |    least(1000000, floor($TempBaseRate * sqrt(max_n / n_src::DOUBLE) * 1000000)::BIGINT) AS thr
       |  FROM c
       |)
       |SELECT d.source, max(n_src) AS n_docs, max(thr) AS keep_threshold,
       |  sum(CASE WHEN h < thr THEN 1 ELSE 0 END)::BIGINT AS n_kept,
       |  sum(CASE WHEN h < thr THEN doc_id ELSE 0 END)::BIGINT AS kept_id_checksum,
       |  round(sum(CASE WHEN h < thr THEN 1 ELSE 0 END) / max(n_src)::DOUBLE, 6) AS keep_rate
       |FROM d JOIN t ON d.source = t.source
       |GROUP BY d.source
       |ORDER BY d.source""".stripMargin

  /** Docs drawn by the weighted reservoir. */
  val EsK = 100
  /** 2⁶⁰ — the draw scale of the 15-hex-char md5 uniform. */
  val EsScale = 1152921504606846976.0

  /** Weighted sampling WITHOUT replacement (Efraimidis–Spirakis A-ES)
    * — the exact weighted-subset draw [[weightedSample]]'s per-row
    * Bernoulli cannot give: select exactly [[EsK]] docs with inclusion
    * probability ∝ weight (here n_chars — the "sample by content
    * mass" curation move), deterministically. Each doc gets the E-S
    * key u^(1/w) in its monotone log form ln(u)/w with u = (h60+1)/2⁶⁰
    * from the engine-portable md5 idiom, and the sample IS the top-K
    * by key — one global head over keys ROUNDED at 9 dp with a doc_id
    * tie-break (the house ranking rule: never rank on an unrounded
    * float). The same (doc, salt) always draws the same key on any
    * engine, run or partitioning, so the subsample is reproducible
    * and resumable like the negative samplers.
    *
    * Scale: key generation is map-side; the only non-linear step is
    * the K-bounded global head (TakeOrderedAndProject — the optimizer
    * pushes the LIMIT under the sort, so one task sees K rows, never
    * the corpus). Output: per-source selection share vs weight share
    * — the ∝w property made visible next to the exact checksum.
    */
  def weightedReservoir(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), col("n_chars"))
      .withColumn("es", round(
        log((expr(
          "cast(conv(substring(md5(concat_ws('-', cast(doc_id AS string), 'esr')), 1, 15), 16, 10) AS bigint)")
          + 1L) / lit(EsScale)) / col("n_chars"), 9))
    val sel = d.orderBy(col("es").desc, col("doc_id").asc).limit(EsK)
    val srcW = d.groupBy("source").agg(sum("n_chars").as("w_src"))
    val totW = srcW.agg(sum("w_src").as("w_tot")) // from the per-source sums, not a third pass
    sel.groupBy("source")
      .agg(count(lit(1)).as("n_sel"),
           sum("doc_id").as("sel_checksum"),
           sum("n_chars").as("sel_chars"))
      .join(broadcast(srcW), "source")
      .crossJoin(broadcast(totW))
      .select(col("source"), col("n_sel"), col("sel_checksum"), col("sel_chars"),
        round(col("n_sel").cast("double") / EsK, 6).as("sel_share"),
        round(col("w_src").cast("double") / col("w_tot"), 6).as("weight_share"))
      .orderBy("source")
  }

  val weightedReservoirSql: String =
    s"""WITH d AS MATERIALIZED (
       |  SELECT doc_id, source, n_chars,
       |    round(ln((('0x' || substr(md5(doc_id || '-' || 'esr'), 1, 15))::BIGINT + 1)
       |             / $EsScale) / n_chars, 9) AS es
       |  FROM documents
       |), sel AS (
       |  SELECT doc_id, source, n_chars FROM d
       |  ORDER BY es DESC, doc_id ASC LIMIT $EsK
       |), sw AS (
       |  SELECT source, sum(n_chars)::BIGINT AS w_src FROM d GROUP BY source
       |), tw AS (
       |  SELECT sum(n_chars)::BIGINT AS w_tot FROM d
       |)
       |SELECT s.source, count(*) AS n_sel,
       |  sum(s.doc_id)::BIGINT AS sel_checksum,
       |  sum(s.n_chars)::BIGINT AS sel_chars,
       |  round(count(*)::DOUBLE / $EsK, 6) AS sel_share,
       |  round(max(sw.w_src)::DOUBLE / (SELECT w_tot FROM tw), 6) AS weight_share
       |FROM sel s JOIN sw ON s.source = sw.source
       |GROUP BY s.source
       |ORDER BY s.source""".stripMargin

  /** Training context length for [[seqPack]], in whitespace tokens. */
  val SeqLen = 256L

  /** Sequence packing (the concat-and-chunk idiom every LLM pretraining
    * loader runs: concatenate documents in a fixed order, slice the
    * token stream into [[SeqLen]]-token training sequences). Packing is
    * PER SOURCE — source is the natural shard key, so each source's
    * stream packs independently and in parallel; a doc is assigned to
    * the chunk its first token lands in, and `n_spanning` counts docs
    * that cross a chunk boundary (the ones a loader would split or
    * mask across). Everything is integer arithmetic on a running token
    * count, so both engines agree exactly. Scale shape (r8): the
    * per-source running token sum is [[RankPrefix.before]] keyed by
    * source — within-cell prefixes partition by (source, doc_id cell),
    * the cell offsets come from a per-source broadcast triangle
    * join — so packing keeps EXACT global doc order per source while
    * no task ever holds a whole source's stream (the earlier note
    * suggested a hash sub-shard at 100 TB, which would have CHANGED
    * the packing; the prefix preserves it).
    */
  def seqPack(spark: SparkSession, sfDir: String): DataFrame = {
    // r10 rescan sever: the slim token-count frame feeds the prefix's
    // id bounds, cell totals and running sums — severed once so the
    // tokenize scan runs once (documents ×4 in the r9 plan)
    val t = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"),
        size(split(expr(TextNorm.normSpark), " "))
          .cast("long").as("n_tok"))
      .localCheckpoint()
    RankPrefix.before(t, Seq("source"), "doc_id", "n_tok")
      .withColumnRenamed("n_tok_before", "cum_before")
      .withColumn("seq_id", floor(col("cum_before") / SeqLen))
      .withColumn("spans",
        (floor((col("cum_before") + col("n_tok") - 1) / SeqLen) =!= col("seq_id")).cast("long"))
      .groupBy("source", "seq_id")
      .agg(count(lit(1)).as("n_docs"),
           sum("n_tok").as("n_tokens"),
           sum("spans").as("n_spanning"))
      .orderBy("source", "seq_id")
  }

  val seqPackSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, source,
       |    len(string_split(${TextNorm.normDuck}, ' '))::BIGINT AS n_tok
       |  FROM documents
       |), c AS (
       |  SELECT source, doc_id, n_tok,
       |    coalesce(sum(n_tok) OVER (
       |      PARTITION BY source ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
       |  FROM d
       |), a AS (
       |  SELECT source, (cum_before // $SeqLen)::BIGINT AS seq_id, n_tok,
       |    CASE WHEN (cum_before + n_tok - 1) // $SeqLen <> cum_before // $SeqLen
       |         THEN 1 ELSE 0 END AS spans
       |  FROM c
       |)
       |SELECT source, seq_id, count(*) AS n_docs,
       |  sum(n_tok)::BIGINT AS n_tokens, sum(spans)::BIGINT AS n_spanning
       |FROM a
       |GROUP BY source, seq_id
       |ORDER BY source, seq_id""".stripMargin

  /** Per-dimension embedding health: mean / sample-stddev / min / max
    * for each of the 64 dimensions — the "is a dimension dead, stuck,
    * or exploding" audit run before any ANN index build or quantizer
    * fit. posexplode keeps the position, so the whole check is one
    * explode + one 64-group aggregate: map work plus a shuffle of
    * |dims| partial rows per task, regardless of corpus size.
    */
  def embedHealth(spark: SparkSession, sfDir: String): DataFrame =
    Tables.embeddings(spark, sfDir)
      .select(posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(col("dim"), col("v").cast("double").as("v"))
      .groupBy("dim")
      .agg(round(avg("v"), 6).as("mean"),
           round(stddev_samp(col("v")), 6).as("std"),
           round(min("v"), 6).as("vmin"),
           round(max("v"), 6).as("vmax"))
      .orderBy("dim")

  /** DuckDB twin indexes 1-based; align to posexplode's 0-base. */
  val embedHealthSql: String =
    """WITH e AS (
      |  SELECT i - 1 AS dim, embedding[i]::DOUBLE AS v
      |  FROM embeddings
      |  CROSS JOIN (SELECT unnest(range(1, (SELECT max(len(embedding)) + 1 FROM embeddings))) AS i)
      |  WHERE i <= len(embedding)
      |)
      |SELECT dim, round(avg(v), 6) AS mean, round(stddev_samp(v), 6) AS std,
      |  round(min(v), 6) AS vmin, round(max(v), 6) AS vmax
      |FROM e GROUP BY dim
      |ORDER BY dim""".stripMargin

  /** Seed string for the epoch shuffle — changing it is a new epoch
    * order; keeping it reproduces the epoch bit-for-bit on any engine. */
  val ShuffleSeed = "epoch42"
  /** Batches the shuffled epoch is sliced into. */
  val ShuffleBatches = 16

  /** Deterministic epoch shuffle + batch-mixing audit: every doc gets a
    * pseudo-random but seed-reproducible position key h32(md5(seed,
    * doc_id)) — the same engine-portable hash as [[hashSample]] — and a
    * batch slice h mod [[ShuffleBatches]]; the query reports, per batch,
    * the doc count and the source-mix quality (Shannon entropy /
    * evenness / max single-source share, the [[TextAnalysis
    * .corpusEntropy]] conventions). This is the "shuffle the corpus,
    * then PROVE the batches are well-mixed" gate a training-data
    * pipeline runs before writing an epoch: a bad seed or a
    * source-correlated id space shows up as a low-entropy batch row.
    *
    * Scale: one per-row hash (map-side), one (batch, source) aggregate
    * whose output is ≤ batches × sources rows — no global sort, no
    * window over the corpus. Writing the epoch itself is
    * `repartitionByRange($ShuffleBatches, col("batch_id"), col("h"))`
    * on the keyed frame — a single range shuffle whose within-batch
    * file order IS the training order, so positions never materialize.
    */
  def trainShuffle(spark: SparkSession, sfDir: String): DataFrame =
    epochMixAudit(Tables.documents(spark, sfDir).select("doc_id", "source"))

  /** The audit over any (doc_id, source) frame — factored out so the
    * single-source evenness guard is testable on a constructed corpus
    * (the fixture's batches are always multi-source). */
  private[graft] def epochMixAudit(docs: DataFrame): DataFrame = {
    val keyed = docs
      .withColumn("h", expr(
        s"cast(conv(substring(md5(concat('$ShuffleSeed:', doc_id)), 1, 8), 16, 10) AS bigint)"))
      .withColumn("batch_id", col("h") % ShuffleBatches)
    val bs = keyed.groupBy("batch_id", "source").agg(count(lit(1)).as("c"))
    val w = Window.partitionBy("batch_id")
    bs.withColumn("p", col("c") / sum("c").over(w))
      .groupBy("batch_id")
      .agg(sum("c").as("n_docs"),
           count(lit(1)).as("n_sources"),
           round(-sum(col("p") * log(col("p"))), 6).as("source_entropy"),
           round(max("p"), 6).as("max_share"))
      .withColumn("evenness",
        when(col("n_sources") > 1,
          round(col("source_entropy") / log(col("n_sources").cast("double")), 6))
          .otherwise(lit(1.0)))
      .orderBy("batch_id")
  }

  val trainShuffleSql: String =
    s"""WITH keyed AS (
       |  SELECT doc_id, source,
       |    ('0x' || substr(md5('$ShuffleSeed:' || doc_id), 1, 8))::BIGINT
       |      % $ShuffleBatches AS batch_id
       |  FROM documents
       |), bs AS (
       |  SELECT batch_id, source, count(*) AS c FROM keyed GROUP BY 1, 2
       |), p AS (
       |  SELECT batch_id, c, c / sum(c) OVER (PARTITION BY batch_id) AS p FROM bs
       |), e AS (
       |  SELECT batch_id, sum(c)::BIGINT AS n_docs, count(*) AS n_sources,
       |    round(-sum(p * ln(p)), 6) AS source_entropy,
       |    round(max(p), 6) AS max_share
       |  FROM p GROUP BY batch_id
       |)
       |SELECT batch_id, n_docs, n_sources, source_entropy,
       |  CASE WHEN n_sources > 1 THEN round(source_entropy / ln(n_sources), 6)
       |       ELSE 1.0 END AS evenness,
       |  max_share
       |FROM e ORDER BY batch_id""".stripMargin

  /** Static mixture-rebalancing plan toward a UNIFORM source target:
    * for each source, the per-epoch keep probability (downsample
    * over-represented sources), the achieved share after capping, and
    * the repeat factor an under-sized source needs to fill its target
    * slot (the "how many epochs before this source's unique data is
    * exhausted" data-constraint signal). Uniform is the principled
    * fixture-agnostic target; a deployment substitutes its tuned
    * weight vector for `target_docs` and the plan shape is unchanged.
    * Complements [[TextAnalysis.corpusEntropy]] (diagnosis) and
    * [[trainShuffle]] (execution): entropy says the mix is skewed,
    * this says exactly what to sample, the shuffle writes it.
    *
    * Scale: one per-source count aggregate (S rows, S = handful of
    * sources) plus two 1-row totals riding broadcasts — corpus scan
    * once, everything downstream is bounded by S.
    */
  def mixPlan(spark: SparkSession, sfDir: String): DataFrame = {
    // r10 rescan sever: both |sources|-row frames have two consumers
    // each (totals + the plan, denominator + the plan) — without the
    // severs every consumer replays the corpus aggregate (documents ×4)
    val per = Tables.documents(spark, sfDir)
      .groupBy("source").agg(count(lit(1)).as("n_docs"))
      .localCheckpoint()
    val tot = per.agg(sum("n_docs").as("n_total"), count(lit(1)).as("n_sources"))
    val capped = per.crossJoin(broadcast(tot))
      .withColumn("target_docs", col("n_total").cast("double") / col("n_sources"))
      .withColumn("capped", least(col("n_docs").cast("double"), col("target_docs")))
      .localCheckpoint()
    val denom = capped.agg(sum("capped").as("denom"))
    capped.crossJoin(broadcast(denom))
      .select(col("source"), col("n_docs"),
        round(col("n_docs") / col("n_total"), 6).as("share"),
        round(least(lit(1.0), col("target_docs") / col("n_docs")), 6).as("keep_prob"),
        round(col("capped") / col("denom"), 6).as("achieved_share"),
        round(greatest(lit(1.0), col("target_docs") / col("n_docs")), 6).as("repeat_factor"))
      .orderBy("source")
  }

  val mixPlanSql: String =
    """WITH per AS (
      |  SELECT source, count(*) AS n_docs FROM documents GROUP BY source
      |), tot AS (
      |  SELECT sum(n_docs)::BIGINT AS n_total, count(*) AS n_sources FROM per
      |), capped AS (
      |  SELECT source, n_docs,
      |    n_total, n_total::DOUBLE / n_sources AS target_docs,
      |    least(n_docs::DOUBLE, n_total::DOUBLE / n_sources) AS capped
      |  FROM per CROSS JOIN tot
      |), denom AS (
      |  SELECT sum(capped) AS denom FROM capped
      |)
      |SELECT source, n_docs,
      |  round(n_docs / n_total::DOUBLE, 6) AS share,
      |  round(least(1.0, target_docs / n_docs), 6) AS keep_prob,
      |  round(capped / denom, 6) AS achieved_share,
      |  round(greatest(1.0, target_docs / n_docs), 6) AS repeat_factor
      |FROM capped CROSS JOIN denom
      |ORDER BY source""".stripMargin

  /** Chunk width in whitespace tokens. */
  val ChunkTokens = 32
  /** Stride between chunk starts; ChunkTokens − ChunkStride = 8 tokens
    * of overlap carried into the next chunk. */
  val ChunkStride = 24

  /** Sliding-window document chunking — the retrieval-pipeline step
    * that turns a corpus into fixed-width, overlapping passages (every
    * RAG index and most context-window packers run exactly this before
    * embedding). Chunk k of a doc covers tokens
    * [k·stride, k·stride + width); a doc of n tokens emits
    * ceil((n − width)/stride) + 1 chunks (one if n ≤ width), so the
    * final chunk may be short but no tail token is ever dropped and no
    * chunk is wholly contained in its predecessor. Output carries the
    * chunk's md5 fingerprint — the join key back to an embedding table
    * and the dedup key across re-crawls.
    *
    * Scale shape: chunking is generate-only — split, a per-row
    * `sequence`/explode bounded by n/stride, a slice; no join, no
    * aggregate, no shuffle (the ORDER BY is presentation). At 100 TB
    * this is the ideal map-only operator: it pipelines inside
    * whole-stage codegen and parallelism is purely input-split count.
    * All outputs are integers/strings (token counts, md5 prefix) so
    * the oracle hashes bit-for-bit.
    */
  def docChunks(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("n_chunks",
        when(col("n_tokens") <= ChunkTokens, lit(1L))
          .otherwise(expr(s"(n_tokens - $ChunkTokens + $ChunkStride - 1) div $ChunkStride + 1")))
      .select(col("doc_id"), col("toks"),
              explode(expr("sequence(0L, n_chunks - 1)")).as("chunk_idx"))
      .withColumn("chunk",
        expr(s"slice(toks, cast(chunk_idx * $ChunkStride + 1 AS int), $ChunkTokens)"))
      .select(col("doc_id"), col("chunk_idx"),
              size(col("chunk")).cast("long").as("n_chunk_tokens"),
              expr("chunk[0]").as("first_token"),
              substring(md5(concat_ws(" ", col("chunk"))), 1, 8).as("chunk_hash"))
      .orderBy("doc_id", "chunk_idx")

  val docChunksSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
       |), n AS (
       |  SELECT doc_id, toks,
       |    CASE WHEN len(toks) <= $ChunkTokens THEN 1
       |         ELSE (len(toks) - $ChunkTokens + $ChunkStride - 1) // $ChunkStride + 1 END AS n_chunks
       |  FROM t
       |), x AS (
       |  SELECT doc_id, toks, unnest(range(n_chunks)) AS chunk_idx FROM n
       |), c AS (
       |  SELECT doc_id, chunk_idx,
       |    toks[chunk_idx * $ChunkStride + 1 : chunk_idx * $ChunkStride + $ChunkTokens] AS chunk
       |  FROM x
       |)
       |SELECT doc_id, chunk_idx, len(chunk)::BIGINT AS n_chunk_tokens,
       |  chunk[1] AS first_token,
       |  substr(md5(array_to_string(chunk, ' ')), 1, 8) AS chunk_hash
       |FROM c
       |ORDER BY doc_id, chunk_idx""".stripMargin

  /** Seed for the train/val/test group split. */
  val SplitSeed = "split42"

  private def splitName(h: Column): Column =
    when(h % 10 < 8, lit("train")).when(h % 10 === 8, lit("val")).otherwise(lit("test"))

  private def h32(prefix: String, colName: String): Column =
    expr(s"cast(conv(substring(md5(concat('$prefix:', $colName)), 1, 8), 16, 10) AS bigint)")

  /** Grouped train/val/test split (8/1/1) with a leakage audit — the
    * evaluation-hygiene gate: assigning by USER hash puts every event
    * of a user in one split (a model can never see its test users in
    * training), while the naive row-level split — also computed here as
    * the contrast column — scatters almost every active user across
    * splits. Per split: group-level user/event counts plus the number
    * of distinct users the ROW-level split would have placed there;
    * row-level totals exceeding the true user count IS the leakage,
    * made visible in one table. Seeded hash ⇒ the split is stable
    * across runs/engines — resharding never moves a user.
    *
    * Scale shape: two corpus aggregates (3-row outputs) joined on the
    * 3-row split key — no corpus join, no window; the assignment
    * itself is one map-side hash, exactly how a 100 TB split ships
    * (partition the write by the same expression).
    */
  def groupSplit(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.events(spark, sfDir).select(col("event_id"), col("user_id"))
    val grouped = e.withColumn("split", splitName(h32(SplitSeed, "user_id")))
      .groupBy("split")
      .agg(countDistinct("user_id").as("n_users"), count(lit(1)).as("n_events"))
    val rowLevel = e.withColumn("split", splitName(h32(SplitSeed, "event_id")))
      .groupBy("split")
      .agg(countDistinct("user_id").as("n_users_row_level"))
    grouped.join(rowLevel, "split")
      .select(col("split"), col("n_users"), col("n_events"), col("n_users_row_level"))
      .orderBy("split")
  }

  val groupSplitSql: String =
    s"""WITH g AS (
       |  SELECT CASE WHEN ('0x' || substr(md5('$SplitSeed:' || user_id::VARCHAR), 1, 8))::BIGINT % 10 < 8 THEN 'train'
       |              WHEN ('0x' || substr(md5('$SplitSeed:' || user_id::VARCHAR), 1, 8))::BIGINT % 10 = 8 THEN 'val'
       |              ELSE 'test' END AS split,
       |    user_id
       |  FROM events
       |), grouped AS (
       |  SELECT split, count(DISTINCT user_id) AS n_users, count(*) AS n_events
       |  FROM g GROUP BY split
       |), r AS (
       |  SELECT CASE WHEN ('0x' || substr(md5('$SplitSeed:' || event_id::VARCHAR), 1, 8))::BIGINT % 10 < 8 THEN 'train'
       |              WHEN ('0x' || substr(md5('$SplitSeed:' || event_id::VARCHAR), 1, 8))::BIGINT % 10 = 8 THEN 'val'
       |              ELSE 'test' END AS split,
       |    user_id
       |  FROM events
       |), row_level AS (
       |  SELECT split, count(DISTINCT user_id) AS n_users_row_level FROM r GROUP BY split
       |)
       |SELECT split, n_users, n_events, n_users_row_level
       |FROM grouped JOIN row_level USING (split)
       |ORDER BY split""".stripMargin

  /** Crawl-merge upsert — MERGE INTO semantics without a table format:
    * reconcile a re-crawl batch against the base corpus by key +
    * content hash and classify every row into the four merge actions
    * (insert: new key; update: key present, content changed; keep:
    * key re-crawled byte-identical; carry: key not in the batch, base
    * row carried forward). The batch is synthesized deterministically
    * from the corpus itself (every 3rd doc re-crawled, every 6th with
    * revised text, every 7th spawning a brand-new doc under a shifted
    * key) so both engines derive the identical merge input. Output:
    * per (source, action) doc counts + merged-text char volume — the
    * reconciliation report a crawl pipeline emits before committing.
    *
    * Scale shape: ONE full-outer equi-join on doc_id (the batch side
    * is deliberately unhinted — re-crawl batches are corpus-sized in
    * the worst case, broadcast only if AQE proves it small); change
    * detection is a map-side md5 compare, no second pass. At 100 TB
    * this is exactly the shuffle MERGE INTO performs under any table
    * format — the format only adds the commit protocol.
    */
  def mergeUpsert(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text").as("b_text"), col("source").as("b_source"))
    // both synthetic batch arms (revised re-crawls + brand-new docs)
    // ride ONE scan via a generator — the recrawl.union(fresh) form
    // re-planned the documents scan per arm (r12 ledger sweep; the
    // q_zorder_layout stack lesson). A row on both arms (doc_id % 21)
    // emits two structs; nulls are filtered after the explode.
    val batch = Tables.documents(spark, sfDir)
      .where(col("doc_id") % 3 === 0 || col("doc_id") % 7 === 0)
      .select(explode(array(
        when(col("doc_id") % 3 === 0, struct(
          col("doc_id"),
          when(col("doc_id") % 6 === 0, concat(col("text"), lit(" [rev2]")))
            .otherwise(col("text")).as("n_text"),
          col("source").as("n_source"))),
        when(col("doc_id") % 7 === 0, struct(
          (col("doc_id") + 100000L).as("doc_id"),
          col("text").as("n_text"),
          lit("recrawl").as("n_source"))))).as("r"))
      .where(col("r").isNotNull)
      .select(col("r.doc_id").as("doc_id"), col("r.n_text").as("n_text"),
              col("r.n_source").as("n_source"))
    base.join(batch, Seq("doc_id"), "full_outer")
      .withColumn("action",
        when(col("b_text").isNull, lit("insert"))
          .when(col("n_text").isNull, lit("carry"))
          .when(md5(col("b_text")) === md5(col("n_text")), lit("keep"))
          .otherwise(lit("update")))
      .withColumn("m_source", coalesce(col("n_source"), col("b_source")))
      .withColumn("m_chars", length(coalesce(col("n_text"), col("b_text"))).cast("long"))
      .groupBy(col("m_source").as("source"), col("action"))
      .agg(count(lit(1)).as("n_docs"), sum("m_chars").as("sum_chars"))
      .orderBy("source", "action")
  }

  val mergeUpsertSql: String =
    """WITH base AS (
      |  SELECT doc_id, text AS b_text, source AS b_source FROM documents
      |), batch AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 6 = 0 THEN text || ' [rev2]' ELSE text END AS n_text,
      |    source AS n_source
      |  FROM documents WHERE doc_id % 3 = 0
      |  UNION ALL
      |  SELECT doc_id + 100000 AS doc_id, text AS n_text, 'recrawl' AS n_source
      |  FROM documents WHERE doc_id % 7 = 0
      |), m AS (
      |  SELECT coalesce(base.doc_id, batch.doc_id) AS doc_id, b_text, n_text,
      |    coalesce(n_source, b_source) AS source,
      |    CASE WHEN b_text IS NULL THEN 'insert'
      |         WHEN n_text IS NULL THEN 'carry'
      |         WHEN md5(b_text) = md5(n_text) THEN 'keep'
      |         ELSE 'update' END AS action,
      |    length(coalesce(n_text, b_text))::BIGINT AS m_chars
      |  FROM base FULL OUTER JOIN batch ON base.doc_id = batch.doc_id
      |)
      |SELECT source, action, count(*) AS n_docs, sum(m_chars)::BIGINT AS sum_chars
      |FROM m
      |GROUP BY source, action
      |ORDER BY source, action""".stripMargin

  /** Temporal split boundaries: train < T1, purge [T1, T2), test ≥ T2.
    * The purge gap is the point — with lagged/windowed features, rows
    * just before the test boundary leak future information INTO
    * training (a 7-day rolling feature computed at T2−1day reads test
    * rows); embargoing the gap is the standard fix (purged time-series
    * CV). */
  val SplitT1 = "2024-01-20"
  val SplitT2 = "2024-01-23"

  /** Purged temporal split audit over events: per slice (train, purge,
    * test) the row/user counts and exact time bounds — the gate that
    * proves the embargo actually separates the slices (max train ts <
    * T1 ≤ min purge ts, etc.) plus the train∩test user overlap (users
    * MAY span slices in a temporal split; the count makes the overlap
    * explicit instead of silently assumed away). One corpus scan, one
    * 3-row aggregate, one tiny self-join of the 3-row user sets.
    */
  def timeSplit(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.events(spark, sfDir)
      .withColumn("slice",
        when(col("ts") < lit(SplitT1).cast("timestamp_ntz"), lit("1_train"))
          .when(col("ts") < lit(SplitT2).cast("timestamp_ntz"), lit("2_purge"))
          .otherwise(lit("3_test")))
    val trainUsers = e.where(col("slice") === "1_train").select("user_id").distinct()
    val testUsers = e.where(col("slice") === "3_test").select("user_id").distinct()
    val overlap = trainUsers.join(testUsers, "user_id")
      .agg(count(lit(1)).as("n_users_in_train_and_test"))
    e.groupBy("slice")
      .agg(count(lit(1)).as("n_events"),
           countDistinct("user_id").as("n_users"),
           date_format(min("ts"), "yyyy-MM-dd HH:mm:ss").as("min_ts"),
           date_format(max("ts"), "yyyy-MM-dd HH:mm:ss").as("max_ts"))
      .crossJoin(broadcast(overlap))
      .orderBy("slice")
  }

  val timeSplitSql: String =
    s"""WITH e AS (
       |  SELECT user_id, ts::TIMESTAMP AS ts,
       |    CASE WHEN ts::TIMESTAMP < TIMESTAMP '$SplitT1' THEN '1_train'
       |         WHEN ts::TIMESTAMP < TIMESTAMP '$SplitT2' THEN '2_purge'
       |         ELSE '3_test' END AS slice
       |  FROM events
       |), ovl AS (
       |  SELECT count(*) AS n_users_in_train_and_test FROM (
       |    SELECT DISTINCT user_id FROM e WHERE slice = '1_train'
       |    INTERSECT
       |    SELECT DISTINCT user_id FROM e WHERE slice = '3_test'
       |  )
       |)
       |SELECT slice, count(*) AS n_events, count(DISTINCT user_id) AS n_users,
       |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS min_ts,
       |  strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS max_ts,
       |  (SELECT n_users_in_train_and_test FROM ovl) AS n_users_in_train_and_test
       |FROM e
       |GROUP BY slice
       |ORDER BY slice""".stripMargin

  /** Bits per dimension in the z-value (8+8 → 16-bit keys). */
  val ZBits = 8
  /** Target "file" count for the layout comparison. */
  val ZFiles = 64
  /** Probe coordinate for the skipping metric (a time-bucket lookup). */
  val ProbeTx = 100

  /** Morton/z-value bit interleave of the two 8-bit coordinates,
    * generated once for each dialect from the same loop so the engines
    * compute the identical key.
    */
  private val zSpark = (0 until ZBits).flatMap(i => Seq(
    s"shiftleft(shiftright(ux, $i) & 1, ${2 * i + 1})",
    s"shiftleft(shiftright(tx, $i) & 1, ${2 * i})")).mkString("(", " | ", ")")
  private val zDuck = (0 until ZBits).flatMap(i => Seq(
    s"(((ux >> $i) & 1) << ${2 * i + 1})",
    s"(((tx >> $i) & 1) << ${2 * i})")).mkString("(", " | ", ")")

  /** Z-order (Morton-curve) data layout vs single-key clustering — the
    * file-skipping decision a 100 TB table layout rests on (Delta/
    * Iceberg `OPTIMIZE ZORDER BY` semantics, built from scratch):
    * map each event to an 8-bit user coordinate and an 8-bit
    * min-max-scaled time coordinate, interleave the bits into a 16-bit
    * z-value, and split the corpus into [[ZFiles]] "files" two ways —
    * linearly by user (what a plain `ORDER BY user_id` write produces)
    * and by z-value ranges. Per layout, report per-file time-bucket
    * span totals and how many files a point probe on time can skip:
    * the user-linear layout leaves every file spanning the whole time
    * range (zero skippable), while z-ordering gives each file a 2-D
    * tile so a time probe prunes ~(1 − span/256) of files.
    *
    * Scale shape: coordinates and the z-value are pure per-row integer
    * expressions inside codegen (the min/max time bounds ride a 1-row
    * broadcast); file assignment is `z div step`, i.e. exactly what a
    * `repartitionByRange(z)` write would produce; the audit is two
    * bounded aggregates. At production scale the same z column IS the
    * range-partition write key — this query is its skipping audit.
    */
  def zorderLayout(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), expr("floor(unix_micros(ts) / 3600000000)").as("h"))
    val bounds = ev.agg(min("h").as("hmin"), max("h").as("hmax"))
    val coords = ev.crossJoin(broadcast(bounds))
      .withColumn("ux", pmod(col("user_id"), lit(256)).cast("long"))
      .withColumn("tx", expr("((h - hmin) * 256) div (hmax - hmin + 1)"))
      .withColumn("z", expr(zSpark))
      .withColumn("fid_lin", expr(s"ux div ${256 / ZFiles}"))
      .withColumn("fid_z", expr(s"z div ${65536 / ZFiles}"))
    // r10 rescan sever: one generator pass emits both layout rows per
    // event (the r9 self-union re-planned the coordinate chain per
    // side — events ×4)
    val perFile = coords.selectExpr(
        "stack(2, 'linear', fid_lin, 'zorder', fid_z) AS (layout, fid)", "tx")
      .groupBy("layout", "fid")
      .agg(count(lit(1)).as("n_rows"), min("tx").as("min_tx"), max("tx").as("max_tx"))
    perFile.groupBy("layout")
      .agg(count(lit(1)).as("n_files"),
           sum("n_rows").as("n_rows"),
           sum(col("max_tx") - col("min_tx") + 1).as("sum_tx_span"),
           sum(((col("min_tx") > ProbeTx) || (col("max_tx") < ProbeTx)).cast("long"))
             .as("prunable_files"))
      .withColumn("avg_tx_span", round(col("sum_tx_span") / col("n_files").cast("double"), 4))
      .withColumn("prune_share", round(col("prunable_files") / col("n_files").cast("double"), 4))
      .select("layout", "n_files", "n_rows", "sum_tx_span", "avg_tx_span",
              "prunable_files", "prune_share")
      .orderBy("layout")
  }

  val zorderLayoutSql: String =
    s"""WITH ev AS (
       |  SELECT user_id, epoch_us(ts::TIMESTAMP) // 3600000000 AS h FROM events
       |), b AS (
       |  SELECT min(h) AS hmin, max(h) AS hmax FROM ev
       |), coords AS (
       |  SELECT ((user_id % 256) + 256) % 256 AS ux,
       |    ((h - hmin) * 256) // (hmax - hmin + 1) AS tx
       |  FROM ev CROSS JOIN b
       |), z AS (
       |  SELECT ux, tx, $zDuck AS z FROM coords
       |), files AS (
       |  SELECT 'linear' AS layout, ux // ${256 / ZFiles} AS fid, tx FROM z
       |  UNION ALL
       |  SELECT 'zorder' AS layout, z // ${65536 / ZFiles} AS fid, tx FROM z
       |), pf AS (
       |  SELECT layout, fid, count(*) AS n_rows, min(tx) AS min_tx, max(tx) AS max_tx
       |  FROM files GROUP BY 1, 2
       |)
       |SELECT layout, count(*) AS n_files, sum(n_rows)::BIGINT AS n_rows,
       |  sum(max_tx - min_tx + 1)::BIGINT AS sum_tx_span,
       |  round(sum(max_tx - min_tx + 1) / count(*)::DOUBLE, 4) AS avg_tx_span,
       |  sum(CASE WHEN min_tx > $ProbeTx OR max_tx < $ProbeTx THEN 1 ELSE 0 END)::BIGINT
       |    AS prunable_files,
       |  round(sum(CASE WHEN min_tx > $ProbeTx OR max_tx < $ProbeTx THEN 1 ELSE 0 END)
       |        / count(*)::DOUBLE, 4) AS prune_share
       |FROM pf
       |GROUP BY layout
       |ORDER BY layout""".stripMargin

  /** k-anonymity threshold: a quasi-identifier combination shared by
    * fewer than this many customers is re-identifiable. */
  val AnonK = 5
  /** Fine/coarse balance-bucket widths for the generalization contrast. */
  val AnonFineWidth = 1000
  val AnonCoarseWidth = 4000

  /** k-anonymity release audit — the privacy gate a pipeline runs
    * before shipping user-keyed training data: treat (nation, market
    * segment, account-balance bucket) as the quasi-identifier, count
    * customers per combination, and report per nation how many
    * combinations (and customers) fall under [[AnonK]] — at two
    * generalization levels, because coarsening the balance bucket is
    * the standard k-anonymity remedy and the audit should quantify
    * what the coarser release buys.
    *
    * Scale shape: bucket assignment is a per-row integer floor (inside
    * codegen); each level is one (nation, segment, bucket) aggregate
    * followed by a nation-level rollup — QI cardinality bounds every
    * post-shuffle row count regardless of corpus size. The two levels
    * are one scan each, unioned.
    */
  def kAnonymity(spark: SparkSession, sfDir: String): DataFrame = {
    def level(name: String, width: Int): DataFrame =
      Tables.customer(spark, sfDir)
        .select(col("c_nationkey"), col("c_mktsegment"),
          floor(col("c_acctbal") / width).as("bal_bucket"))
        .groupBy("c_nationkey", "c_mktsegment", "bal_bucket")
        .agg(count(lit(1)).as("n"))
        .groupBy("c_nationkey")
        .agg(sum("n").as("n_customers"),
             count(lit(1)).as("n_combos"),
             sum((col("n") < AnonK).cast("long")).as("n_risky_combos"),
             sum(when(col("n") < AnonK, col("n")).otherwise(0L)).as("n_risky_customers"))
        .withColumn("level", lit(name))
    level("1_fine", AnonFineWidth).unionByName(level("2_coarse", AnonCoarseWidth))
      .withColumn("risk_share",
        round(col("n_risky_customers") / col("n_customers").cast("double"), 4))
      .select("level", "c_nationkey", "n_customers", "n_combos",
              "n_risky_combos", "n_risky_customers", "risk_share")
      .orderBy("level", "c_nationkey")
  }

  val kAnonymitySql: String = {
    def level(name: String, width: Int) =
      s"""SELECT '$name' AS level, c_nationkey,
         |  sum(n)::BIGINT AS n_customers, count(*) AS n_combos,
         |  sum(CASE WHEN n < $AnonK THEN 1 ELSE 0 END)::BIGINT AS n_risky_combos,
         |  sum(CASE WHEN n < $AnonK THEN n ELSE 0 END)::BIGINT AS n_risky_customers
         |FROM (
         |  SELECT c_nationkey, c_mktsegment, floor(c_acctbal / $width) AS bal_bucket,
         |    count(*) AS n
         |  FROM customer GROUP BY 1, 2, 3
         |) GROUP BY c_nationkey""".stripMargin
    s"""SELECT level, c_nationkey, n_customers, n_combos, n_risky_combos,
       |  n_risky_customers,
       |  round(n_risky_customers / n_customers::DOUBLE, 4) AS risk_share
       |FROM (${level("1_fine", AnonFineWidth)}
       |UNION ALL
       |${level("2_coarse", AnonCoarseWidth)})
       |ORDER BY level, c_nationkey""".stripMargin
  }

  /** l-diversity floor: a quasi-identifier group whose records carry
    * fewer than this many DISTINCT sensitive values is weak — every
    * member is re-identifiable down to a near-certain sensitive value
    * even when the group passes k-anonymity on size. */
  val DiversityL = 3

  /** l-diversity audit (Machanavajjhala et al. 2007) — the companion
    * gate to [[kAnonymity]]: k-anonymity bounds group SIZE, but a
    * size-k group whose records all share one sensitive value still
    * leaks it (the homogeneity attack). Records here are ORDERS;
    * quasi-identifiers are the owning customer's (nationkey,
    * mktsegment, coarse balance bucket) — what a linker could know —
    * and the sensitive attribute is o_orderpriority. Per nation:
    * group count, weak groups (distinct sensitive < [[DiversityL]]),
    * exposed records inside weak groups, the minimum diversity, and
    * the exposed-record share.
    *
    * Scale shape: one orders⋈customer join (customer side is the
    * dimension — broadcast/AQE), then two nested aggregates: records →
    * (QI, sensitive) counts → QI groups with count(distinct) computed
    * exactly from the already-distinct inner rows, then the per-nation
    * rollup. No window, no quadratic structure.
    */
  def lDiversity(spark: SparkSession, sfDir: String): DataFrame = {
    val recs = Tables.orders(spark, sfDir)
      .join(Tables.customer(spark, sfDir),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_nationkey"), col("c_mktsegment"),
        floor(col("c_acctbal") / AnonCoarseWidth).as("bal_bucket"),
        col("o_orderpriority").as("sens"))
    recs
      .groupBy("c_nationkey", "c_mktsegment", "bal_bucket", "sens")
      .agg(count(lit(1)).as("n"))
      .groupBy("c_nationkey", "c_mktsegment", "bal_bucket")
      .agg(sum("n").as("n_rec"), count(lit(1)).as("l"))
      .groupBy("c_nationkey")
      .agg(sum("n_rec").as("n_records"),
           count(lit(1)).as("n_groups"),
           sum((col("l") < DiversityL).cast("long")).as("n_weak_groups"),
           sum(when(col("l") < DiversityL, col("n_rec")).otherwise(0L))
             .as("n_exposed_records"),
           min("l").as("min_l"))
      .withColumn("exposed_share",
        round(col("n_exposed_records") / col("n_records").cast("double"), 4))
      .select("c_nationkey", "n_records", "n_groups", "n_weak_groups",
              "n_exposed_records", "min_l", "exposed_share")
      .orderBy("c_nationkey")
  }

  val lDiversitySql: String =
    s"""WITH recs AS (
       |  SELECT c_nationkey, c_mktsegment,
       |    floor(c_acctbal / $AnonCoarseWidth) AS bal_bucket,
       |    o_orderpriority AS sens
       |  FROM orders JOIN customer ON o_custkey = c_custkey
       |), gs AS (
       |  SELECT c_nationkey, c_mktsegment, bal_bucket, sens, count(*) AS n
       |  FROM recs GROUP BY 1, 2, 3, 4
       |), grp AS (
       |  SELECT c_nationkey, c_mktsegment, bal_bucket,
       |    sum(n)::BIGINT AS n_rec, count(*) AS l
       |  FROM gs GROUP BY 1, 2, 3
       |)
       |SELECT c_nationkey, sum(n_rec)::BIGINT AS n_records,
       |  count(*) AS n_groups,
       |  sum(CASE WHEN l < $DiversityL THEN 1 ELSE 0 END)::BIGINT AS n_weak_groups,
       |  sum(CASE WHEN l < $DiversityL THEN n_rec ELSE 0 END)::BIGINT AS n_exposed_records,
       |  min(l) AS min_l,
       |  round(sum(CASE WHEN l < $DiversityL THEN n_rec ELSE 0 END)
       |    / sum(n_rec)::DOUBLE, 4) AS exposed_share
       |FROM grp GROUP BY c_nationkey
       |ORDER BY c_nationkey""".stripMargin

  /** t-closeness threshold, as the exact ratio num/den = 0.2 — kept
    * as integers so the weak-group comparison is an exact BIGINT
    * cross-multiply, never a float compare. */
  val TclNum = 1L
  val TclDen = 5L

  /** t-closeness audit — the third rung of the privacy-triad ladder
    * ([[kAnonymity]] bounds group size, [[lDiversity]] bounds sensitive
    * variety, t-closeness bounds sensitive SKEW): a size-k, l-diverse
    * group whose priority mix still differs wildly from the corpus
    * leaks through a distribution-skew attack. Same records and QI
    * grouping as [[lDiversity]]; the sensitive attribute
    * o_orderpriority is ORDINAL (1-URGENT … 5-LOW), so closeness is
    * the 1-D earth-mover distance t(g) = Σᵢ |CumQ_g(i) − CumP(i)| /
    * (m−1) over the m = 5 ordered values.
    *
    * Exactness: with cum counts cq_i (group) and cp_i (corpus),
    * |cq_i/n_g − cp_i/N| = |cq_i·N − cp_i·n_g| / (n_g·N) — every EMD
    * numerator is an exact BIGINT (the integer-product-ratio idiom;
    * int64-safe to ~10⁹ records, DECIMAL(38) beyond), and the weak
    * test t > [[TclNum]]/[[TclDen]] cross-multiplies integers, so
    * group verdicts are engine-exact with zero float comparisons.
    *
    * Scale shape: one orders⋈customer dimension join, ONE aggregate to
    * QI groups (the 4 cumulative cells are conditional sums inside
    * it), a broadcast 1-row corpus distribution, then the per-nation
    * rollup. No window, no per-value explode.
    */
  def tCloseness(spark: SparkSession, sfDir: String): DataFrame = {
    val recs = Tables.orders(spark, sfDir)
      .join(Tables.customer(spark, sfDir),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_nationkey"), col("c_mktsegment"),
        floor(col("c_acctbal") / AnonCoarseWidth).as("bal_bucket"),
        substring(col("o_orderpriority"), 1, 1).cast("int").as("ord"))
    def cums(pre: String): Seq[org.apache.spark.sql.Column] = (1 to 4).map(i =>
      sum((col("ord") <= i).cast("long")).as(s"$pre$i"))
    val gs = recs.groupBy("c_nationkey", "c_mktsegment", "bal_bucket")
      .agg(count(lit(1)).as("n_g"), cums("cq"): _*)
    val corpus = recs.agg(count(lit(1)).as("nn"), cums("cp"): _*)
    val scored = gs.crossJoin(broadcast(corpus))
      .withColumn("t_num", (1 to 4).map(i =>
        abs(col(s"cq$i") * col("nn") - col(s"cp$i") * col("n_g"))).reduce(_ + _))
      .withColumn("weak",
        col("t_num") * TclDen > lit(4L) * TclNum * col("n_g") * col("nn"))
    scored.groupBy("c_nationkey")
      .agg(sum("n_g").as("n_records"),
        count(lit(1)).as("n_groups"),
        sum(col("weak").cast("long")).as("n_weak_groups"),
        sum(when(col("weak"), col("n_g")).otherwise(0L)).as("n_exposed_records"),
        max(round(col("t_num") / (lit(4.0) * col("n_g") * col("nn")), 6)).as("max_t"))
      .withColumn("exposed_share",
        round(col("n_exposed_records") / col("n_records").cast("double"), 4))
      .select("c_nationkey", "n_records", "n_groups", "n_weak_groups",
        "n_exposed_records", "max_t", "exposed_share")
      .orderBy("c_nationkey")
  }

  val tClosenessSql: String = {
    val cq = (1 to 4).map(i =>
      s"sum(CASE WHEN ord <= $i THEN 1 ELSE 0 END)::BIGINT AS cq$i").mkString(", ")
    val cp = (1 to 4).map(i =>
      s"sum(CASE WHEN ord <= $i THEN 1 ELSE 0 END)::BIGINT AS cp$i").mkString(", ")
    val tnum = (1 to 4).map(i => s"abs(cq$i * nn - cp$i * n_g)").mkString(" + ")
    s"""WITH recs AS (
       |  SELECT c_nationkey, c_mktsegment,
       |    floor(c_acctbal / $AnonCoarseWidth) AS bal_bucket,
       |    CAST(substring(o_orderpriority, 1, 1) AS INT) AS ord
       |  FROM orders JOIN customer ON o_custkey = c_custkey
       |), gs AS (
       |  SELECT c_nationkey, c_mktsegment, bal_bucket,
       |    count(*)::BIGINT AS n_g, $cq
       |  FROM recs GROUP BY 1, 2, 3
       |), corpus AS (
       |  SELECT count(*)::BIGINT AS nn, $cp FROM recs
       |), scored AS (
       |  SELECT gs.*, corpus.nn, $tnum AS t_num,
       |    ($tnum) * $TclDen > 4 * $TclNum * n_g * nn AS weak
       |  FROM gs, corpus
       |)
       |SELECT c_nationkey, sum(n_g)::BIGINT AS n_records,
       |  count(*) AS n_groups,
       |  sum(CASE WHEN weak THEN 1 ELSE 0 END)::BIGINT AS n_weak_groups,
       |  sum(CASE WHEN weak THEN n_g ELSE 0 END)::BIGINT AS n_exposed_records,
       |  max(round(t_num / (4.0 * n_g * nn), 6)) AS max_t,
       |  round(sum(CASE WHEN weak THEN n_g ELSE 0 END) / sum(n_g)::DOUBLE, 4)
       |    AS exposed_share
       |FROM scored GROUP BY c_nationkey
       |ORDER BY c_nationkey""".stripMargin
  }

  /** Seed for the document-level split in the leakage audit. */
  val DocSplitSeed = "docsplit42"

  /** Near-dup SPLIT-LEAKAGE audit — the eval-hygiene closure over the
    * dedup tiers: assign every document to train/val/test by the same
    * stable md5 hash [[groupSplit]] uses (doc-level here), then class
    * every n-gram-Jaccard near-dup pair (≥ [[Dedup.JaccardThreshold]],
    * the exact pairs q_dedup_ngram_jaccard emits) by the UNORDERED
    * split pair it straddles. A `train|test` or `train|val` row with
    * n_pairs > 0 is measured evaluation contamination: the model will
    * train on a near-copy of an eval document — the leak a row-level
    * random split makes almost surely and a hash split makes visible.
    * Complements q_contamination (benchmark n-gram overlap) and
    * q_group_split (user-grouped event split): this one audits the
    * DOCUMENT corpus against its own near-duplicate structure.
    *
    * Scale shape: pairs come from the memoized stop-listed pair
    * aggregate (banding infrastructure, never O(n²)); the split is one
    * map-side hash per endpoint; the rollup is ≤6 rows. Nothing new
    * shuffles except the final tiny aggregate.
    */
  def splitLeakage(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = Dedup.pairScores(spark, sfDir)
      .withColumn("jaccard",
        round(col("inter") / (col("na") + col("nb") - col("inter")), 6))
      .where(col("jaccard") >= Dedup.JaccardThreshold)
    val withSplits = pairs
      .withColumn("sa", splitName(h32(DocSplitSeed, "doc_a")))
      .withColumn("sb", splitName(h32(DocSplitSeed, "doc_b")))
      .withColumn("split_a", least(col("sa"), col("sb")))
      .withColumn("split_b", greatest(col("sa"), col("sb")))
    withSplits.groupBy("split_a", "split_b")
      .agg(count(lit(1)).as("n_pairs"),
           round(avg("jaccard"), 6).as("avg_jaccard"))
      .withColumn("is_leak", (col("split_a") =!= col("split_b")).cast("int"))
      .select("split_a", "split_b", "n_pairs", "avg_jaccard", "is_leak")
      .orderBy("split_a", "split_b")
  }

  val splitLeakageSql: String = {
    def splitCase(c: String): String =
      s"""CASE WHEN ('0x' || substr(md5('$DocSplitSeed:' || $c::VARCHAR), 1, 8))::BIGINT % 10 < 8 THEN 'train'
         |       WHEN ('0x' || substr(md5('$DocSplitSeed:' || $c::VARCHAR), 1, 8))::BIGINT % 10 = 8 THEN 'val'
         |       ELSE 'test' END""".stripMargin
    s"""WITH ${Dedup.shinglesSql}, sizes AS (
       |  SELECT doc_id, count(*) AS ns FROM sh GROUP BY doc_id
       |), keep AS (
       |  SELECT s FROM sh GROUP BY s HAVING count(*) <= ${Dedup.HotShingleDf}
       |), inter AS (
       |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS inter
       |  FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
       |  JOIN keep k ON k.s = x.s
       |  GROUP BY 1, 2
       |), jp AS (
       |  SELECT doc_a, doc_b,
       |    round(inter / (na.ns + nb.ns - inter), 6) AS jaccard
       |  FROM inter
       |  JOIN sizes na ON na.doc_id = doc_a
       |  JOIN sizes nb ON nb.doc_id = doc_b
       |  WHERE round(inter / (na.ns + nb.ns - inter), 6) >= ${Dedup.JaccardThreshold}
       |), sp AS (
       |  SELECT doc_a, doc_b, jaccard,
       |    least(${splitCase("doc_a")}, ${splitCase("doc_b")}) AS split_a,
       |    greatest(${splitCase("doc_a")}, ${splitCase("doc_b")}) AS split_b
       |  FROM jp
       |)
       |SELECT split_a, split_b, count(*) AS n_pairs,
       |  round(avg(jaccard), 6) AS avg_jaccard,
       |  (CASE WHEN split_a <> split_b THEN 1 ELSE 0 END)::INTEGER AS is_leak
       |FROM sp
       |GROUP BY split_a, split_b
       |ORDER BY split_a, split_b""".stripMargin
  }

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_split_leakage", splitLeakage _, Some(splitLeakageSql)),
    QuerySpec("q_zorder_layout", zorderLayout _, Some(zorderLayoutSql)),
    QuerySpec("q_k_anonymity", kAnonymity _, Some(kAnonymitySql)),
    QuerySpec("q_t_closeness", tCloseness _, Some(tClosenessSql)),
    QuerySpec("q_l_diversity", lDiversity _, Some(lDiversitySql)),
    QuerySpec("q_dedup_clusters", dedupClusters _, Some(dedupClustersSql)),
    QuerySpec("q_hash_sample", hashSample _, Some(hashSampleSql)),
    QuerySpec("q_stratified_sample", stratifiedSample _, Some(stratifiedSampleSql)),
    QuerySpec("q_embedding_centroids", embeddingCentroids _, Some(embeddingCentroidsSql)),
    QuerySpec("q_embedding_quantize", embeddingQuantize _, Some(embeddingQuantizeSql)),
    QuerySpec("q_weighted_sample", weightedSample _, Some(weightedSampleSql)),
    QuerySpec("q_weighted_reservoir", weightedReservoir _, Some(weightedReservoirSql)),
    QuerySpec("q_seq_pack", seqPack _, Some(seqPackSql)),
    QuerySpec("q_dedup_canonical", canonicalCorpus _, Some(canonicalCorpusSql)),
    QuerySpec("q_embed_health", embedHealth _, Some(embedHealthSql)),
    QuerySpec("q_train_shuffle", trainShuffle _, Some(trainShuffleSql)),
    QuerySpec("q_mix_plan", mixPlan _, Some(mixPlanSql)),
    QuerySpec("q_doc_chunks", docChunks _, Some(docChunksSql)),
    QuerySpec("q_group_split", groupSplit _, Some(groupSplitSql)),
    QuerySpec("q_merge_upsert", mergeUpsert _, Some(mergeUpsertSql)),
    QuerySpec("q_time_split", timeSplit _, Some(timeSplitSql)),
  )

}
