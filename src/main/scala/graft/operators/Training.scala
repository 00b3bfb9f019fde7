package graft.operators

import graft.{QueryCache, QueryFamily, QuerySpec, Tables}
import graft.functions.VectorFunctions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Model-training data-prep operators: deterministic k-means over the
  * embedding corpus and hash-based negative sampling for implicit-
  * feedback training sets. Both are standard stages between "clean
  * corpus" and "training run" in a large-scale pipeline.
  *
  * Determinism strategy (the file's theme): every floating-point
  * quantity is quantized to integers up front (k-means) or never
  * exists (negative sampling — pure hashing), so BOTH engines compute
  * bit-identical results regardless of summation order, partitioning,
  * or SIMD width — the same fixed-point idiom as
  * [[GraphRank.itemPagerank]].
  *
  * Scale design:
  *  - k-means: centroids are K·dims rows, broadcast into the
  *    assignment join each round; the corpus-side table never
  *    shuffles (assignment is a map-side broadcast join + one
  *    aggregate keyed by vec_id). One aggregate per round for the
  *    update. This is exactly MLlib's plan shape, minus the
  *    nondeterministic float reductions.
  *  - negative sampling: candidates are generated map-side (explode
  *    of a bounded slot range per user), the item index is a
  *    broadcast dimension, and the positives anti-join shuffles each
  *    candidate once on (user, item) — linear in users·slots, never
  *    users×items.
  */
object Training extends QueryFamily {

  /** k-means cluster count (init = the K lowest vec_ids). */
  val KClusters = 8
  /** Fixed Lloyd's rounds (unrolled identically in the oracle). */
  val KmRounds = 3
  /** Fixed-point scale: embedding value v → q = round((v+1)·1000).
    * Fixture values lie in (−1, 1), so q is always positive — keeping
    * every integer non-negative sidesteps the floor-vs-truncate
    * divergence of integer division on negatives between engines.
    */
  val KmScale = 1000

  /** Quantized (vec_id, pos, q) long table — shared input of every
    * k-means stage; memoized per (session, sfDir) because the Lloyd's
    * rounds re-read it KmRounds+1 times and SemDeDup reads it again.
    */
  private[graft] def quantizedOf(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .withColumn("q", round((col("v").cast("double") + 1.0d) * KmScale, 0).cast("long"))
      .select("vec_id", "pos", "q")

  private[graft] def quantized(spark: SparkSession, sfDir: String): DataFrame =
    QueryCache.memo(spark, s"kmeans_e:$sfDir") {
      quantizedOf(Tables.embeddings(spark, sfDir))
    }

  private[graft] def kmeansAssignOf(e: DataFrame, cent: DataFrame): DataFrame =
    assign(e, cent, Nil)

  /** One Lloyd's assignment: each (vec_id, keys…)'s nearest centroid by
    * exact integer squared distance, (dist, cluster) tie-break. The keys
    * ride every join and grouping: none for k-means, `sub` for PQ (M
    * independent k-means in one dataflow). */
  private def assign(e: DataFrame, c: DataFrame, keys: Seq[String]): DataFrame = {
    val vk = ("vec_id" +: keys).map(col)
    e.join(broadcast(c), keys :+ "pos")
      .groupBy(vk :+ col("cluster"): _*)
      .agg(sum((col("q") - col("c")) * (col("q") - col("c"))).as("dist"))
      .groupBy(vk: _*)
      .agg(min(struct(col("dist"), col("cluster"))).as("m"))
      .select(vk ++ Seq(col("m.cluster").as("cluster"), col("m.dist").as("dist")): _*)
  }

  /** Deterministic Lloyd's k-means per `keys` group: init = the `k`
    * lowest vec_ids, `rounds` rounds, update = integer floor-division
    * mean. Returns the centroids (keys…, cluster, pos, c). */
  private def train(e: DataFrame, k: Int, rounds: Int, keys: Seq[String]): DataFrame = {
    val initIds = e.select("vec_id").distinct().orderBy("vec_id").limit(k)
      .withColumn("cluster", row_number().over(Window.orderBy("vec_id")))
    var cent = e.join(broadcast(initIds), "vec_id")
      .select(keys.map(col) ++ Seq(col("cluster"), col("pos"), col("q").as("c")): _*)
      .localCheckpoint()
    for (_ <- 1 to rounds) {
      val asn = assign(e, cent, keys)
      cent = e.join(asn.select(("vec_id" +: keys :+ "cluster").map(col): _*), "vec_id" +: keys)
        .groupBy((keys ++ Seq("cluster", "pos")).map(col): _*)
        .agg(expr("sum(q) div count(1)").as("c"))
        .localCheckpoint() // K·dims rows; keep each round's plan flat
    }
    cent
  }

  /** Centroids (cluster, pos, c) after [[KmRounds]] Lloyd's rounds. */
  private[graft] def centroidsOf(e: DataFrame, k: Int): DataFrame =
    train(e, k, KmRounds, Nil)

  /** Converged centroids, memoized — q_kmeans_embed and
    * q_semantic_dedup share one training run per session, the
    * feature-store pattern the other model tables follow.
    */
  private[operators] def kmeansCentroids(spark: SparkSession, sfDir: String): DataFrame =
    QueryCache.memo(spark, s"kmeans_cent:$sfDir") {
      centroidsOf(quantized(spark, sfDir), KClusters)
    }

  /** Final assignment (vec_id, cluster, dist) against the converged
    * centroids; memoized for the same sharing reason.
    */
  private[operators] def kmeansAssign(spark: SparkSession, sfDir: String): DataFrame =
    QueryCache.memo(spark, s"kmeans_fin:$sfDir") {
      assign(quantized(spark, sfDir), kmeansCentroids(spark, sfDir), Nil)
    }

  /** Deterministic k-means over `embeddings`: quantize each dimension
    * to integer fixed-point, init centroids from the [[KClusters]]
    * lowest vec_ids, run [[KmRounds]] Lloyd's rounds (assign by exact
    * integer squared distance with (dist, cluster) lexicographic
    * tie-break; update by integer floor-division mean), then report
    * per-cluster size, inertia, and a centroid checksum. All
    * arithmetic is BIGINT ⇒ bit-identical across engines — unlike
    * MLlib KMeans, whose float reductions make cluster boundaries
    * run-order-dependent.
    */
  def kmeansEmbed(spark: SparkSession, sfDir: String): DataFrame = {
    val cent = kmeansCentroids(spark, sfDir)
    val fin = kmeansAssign(spark, sfDir)
    val centSum = cent.groupBy("cluster").agg(sum("c").as("centroid_checksum"))
    fin.groupBy("cluster")
      .agg(count(lit(1)).as("n_vecs"), sum("dist").as("inertia_units"))
      .join(broadcast(centSum), "cluster")
      .select("cluster", "n_vecs", "inertia_units", "centroid_checksum")
      .orderBy("cluster")
  }

  private val KmFinal = KmRounds + 1

  /** Shared oracle CTE chain: quantize (e), init, [[KmRounds]] unrolled
    * assign/update rounds, and the final assignment a{KmFinal}
    * (vec_id, cluster, dist). Reused verbatim by the k-means report and
    * the SemDeDup oracle so both adjudicate the identical model.
    */
  private[operators] val kmeansCteChain: String = {
    // every round's d$k is read by BOTH m$k and a$k (and c$k re-reads
    // e + a$k): without MATERIALIZED DuckDB re-inlines the upstream
    // chain at each reference, doubling work per round — the same
    // CTE-inlining hazard the pagerank oracles hit (verify skill)
    val rounds = (1 to KmRounds).map { k =>
      s"""d$k AS MATERIALIZED (
         |  SELECT e.vec_id, c.cluster, sum((e.q - c.c) * (e.q - c.c))::BIGINT AS dist
         |  FROM e JOIN c${k - 1} c ON e.pos = c.pos
         |  GROUP BY e.vec_id, c.cluster
         |), m$k AS (
         |  SELECT vec_id, min(dist) AS md FROM d$k GROUP BY vec_id
         |), a$k AS MATERIALIZED (
         |  SELECT d.vec_id, min(d.cluster) AS cluster
         |  FROM d$k d JOIN m$k m ON d.vec_id = m.vec_id AND d.dist = m.md
         |  GROUP BY d.vec_id
         |), c$k AS MATERIALIZED (
         |  SELECT a.cluster, e.pos, (sum(e.q) // count(*))::BIGINT AS c
         |  FROM e JOIN a$k a ON e.vec_id = a.vec_id
         |  GROUP BY a.cluster, e.pos
         |)""".stripMargin
    }.mkString(", ")
    s"""e AS MATERIALIZED (
       |  SELECT vec_id, i AS pos,
       |    round((embedding[i]::DOUBLE + 1.0) * $KmScale)::BIGINT AS q
       |  FROM embeddings
       |  CROSS JOIN (SELECT unnest(range(1, (SELECT max(len(embedding)) + 1 FROM embeddings))) AS i)
       |  WHERE i <= len(embedding)
       |), init AS (
       |  SELECT vec_id, row_number() OVER (ORDER BY vec_id) AS cluster
       |  FROM (SELECT DISTINCT vec_id FROM e ORDER BY vec_id LIMIT $KClusters)
       |), c0 AS (
       |  SELECT init.cluster, e.pos, e.q AS c
       |  FROM e JOIN init ON e.vec_id = init.vec_id
       |), $rounds, d$KmFinal AS MATERIALIZED (
       |  SELECT e.vec_id, c.cluster, sum((e.q - c.c) * (e.q - c.c))::BIGINT AS dist
       |  FROM e JOIN c$KmRounds c ON e.pos = c.pos
       |  GROUP BY e.vec_id, c.cluster
       |), m$KmFinal AS (
       |  SELECT vec_id, min(dist) AS md FROM d$KmFinal GROUP BY vec_id
       |), a$KmFinal AS MATERIALIZED (
       |  SELECT d.vec_id, min(d.cluster) AS cluster, min(d.dist) AS dist
       |  FROM d$KmFinal d JOIN m$KmFinal m ON d.vec_id = m.vec_id AND d.dist = m.md
       |  GROUP BY d.vec_id
       |)""".stripMargin
  }

  /** Oracle: the identical integer recurrence, rounds unrolled as
    * chained CTEs (assign k / update k), 1-based list subscripts.
    */
  val kmeansEmbedSql: String =
    s"""WITH $kmeansCteChain, cs AS (
       |  SELECT cluster, sum(c)::BIGINT AS centroid_checksum FROM c$KmRounds GROUP BY cluster
       |)
       |SELECT a.cluster, count(*) AS n_vecs, sum(a.dist)::BIGINT AS inertia_units,
       |  max(cs.centroid_checksum) AS centroid_checksum
       |FROM a$KmFinal a JOIN cs ON a.cluster = cs.cluster
       |GROUP BY a.cluster
       |ORDER BY a.cluster""".stripMargin

  /** External clustering evaluation of the deterministic k-means
    * model against the embeddings' ground-truth `label` column —
    * purity (Σ_c max_l n_cl / N) and NMI
    * (I(C;L) / √(H(C)·H(L))), the two numbers every clustering run is
    * judged by before anyone trusts the clusters for curriculum /
    * SemDeDup decisions. Rides the memoized [[kmeansAssign]] (one
    * training run per session, shared with q_kmeans_embed /
    * q_semantic_dedup), so the model the eval grades IS the model the
    * pipeline uses. Per-cluster rows carry the dominant label (ties →
    * smaller label id) and its share; the corpus-level purity and NMI
    * are attached to every row from 1-row broadcasts. The contingency
    * table is K×L cells — entropy/MI sums run over dozens of terms
    * from identical integer counts on both engines (the
    * [[TextAnalysis.corpusEntropy]] precedent), rounded once.
    *
    * Scale shape: one vec_id equi-join (assignment ⋈ labels), one
    * K×L aggregate, then everything downstream is cell-sized;
    * no window, no quadratic structure.
    */
  def clusterPurity(spark: SparkSession, sfDir: String): DataFrame = {
    val cont = kmeansAssign(spark, sfDir).select("vec_id", "cluster")
      .join(Tables.embeddings(spark, sfDir).select("vec_id", "label"), "vec_id")
      .groupBy("cluster", "label").agg(count(lit(1)).as("n"))
      .localCheckpoint() // K·L cells feed five consumers below
    val nTot = cont.agg(sum("n").as("nn"))
    val cTot = cont.groupBy("cluster").agg(sum("n").as("nc"))
    val lTot = cont.groupBy("label").agg(sum("n").as("nl"))
    val top = cont
      .groupBy("cluster")
      .agg(max(struct(col("n").as("n"), (-col("label")).as("neglab"))).as("m"))
      .select(col("cluster"), col("m.n").as("top_label_n"),
        (-col("m.neglab")).as("top_label"))
    val purity = top.crossJoin(broadcast(nTot))
      .agg(round(sum(col("top_label_n")) / max(col("nn")).cast("double"), 6)
        .as("purity"))
    val mi = cont.join(broadcast(cTot), "cluster").join(broadcast(lTot), "label")
      .crossJoin(broadcast(nTot))
      .agg(round(sum(col("n") / col("nn").cast("double") *
        log(col("n") * col("nn") / (col("nc") * col("nl")).cast("double"))), 6)
        .as("mi"))
    def entropy(tot: DataFrame, cnt: String) =
      tot.crossJoin(broadcast(nTot))
        .agg(sum(-col(cnt) / col("nn").cast("double") *
          log(col(cnt) / col("nn").cast("double"))).as("h"))
    val nmi = mi.crossJoin(entropy(cTot, "nc").select(col("h").as("hc")))
      .crossJoin(entropy(lTot, "nl").select(col("h").as("hl")))
      .select(col("mi"),
        round(col("mi") / sqrt(col("hc") * col("hl")), 6).as("nmi"))
    cTot.join(top, "cluster")
      .withColumn("top_share",
        round(col("top_label_n") / col("nc").cast("double"), 4))
      .crossJoin(broadcast(purity))
      .crossJoin(broadcast(nmi))
      .select(col("cluster"), col("nc").as("n_vecs"), col("top_label"),
        col("top_label_n"), col("top_share"), col("purity"), col("mi"),
        col("nmi"))
      .orderBy("cluster")
  }

  /** Oracle: the shared k-means CTE chain + the identical contingency
    * algebra (DuckDB `ln`; Spark `log` is natural log too). `cont` is
    * MATERIALIZED — five consumers read it, and without the hint DuckDB
    * inlines the whole unrolled Lloyd chain into each (the
    * q_item_pagerank temp-disk lesson). */
  val clusterPuritySql: String =
    s"""WITH $kmeansCteChain, cont AS MATERIALIZED (
       |  SELECT a.cluster, emb.label, count(*)::BIGINT AS n
       |  FROM a$KmFinal a JOIN embeddings emb ON emb.vec_id = a.vec_id
       |  GROUP BY 1, 2
       |), ntot AS MATERIALIZED (SELECT sum(n)::BIGINT AS nn FROM cont),
       |ctot AS MATERIALIZED (SELECT cluster, sum(n)::BIGINT AS nc FROM cont GROUP BY cluster),
       |ltot AS MATERIALIZED (SELECT label, sum(n)::BIGINT AS nl FROM cont GROUP BY label),
       |top AS (
       |  SELECT cluster, n AS top_label_n, label AS top_label FROM (
       |    SELECT cluster, n, label,
       |      row_number() OVER (PARTITION BY cluster ORDER BY n DESC, label ASC) AS rk
       |    FROM cont) WHERE rk = 1
       |), purity AS (
       |  SELECT round(sum(top_label_n) / (SELECT nn FROM ntot)::DOUBLE, 6) AS purity
       |  FROM top
       |), mi AS (
       |  SELECT round(sum(n / nn::DOUBLE * ln(n * nn / (nc * nl)::DOUBLE)), 6) AS mi
       |  FROM cont JOIN ctot USING (cluster) JOIN ltot USING (label) CROSS JOIN ntot
       |), hc AS (
       |  SELECT sum(-nc / nn::DOUBLE * ln(nc / nn::DOUBLE)) AS hc
       |  FROM ctot CROSS JOIN ntot
       |), hl AS (
       |  SELECT sum(-nl / nn::DOUBLE * ln(nl / nn::DOUBLE)) AS hl
       |  FROM ltot CROSS JOIN ntot
       |)
       |SELECT c.cluster, c.nc AS n_vecs, t.top_label, t.top_label_n,
       |  round(t.top_label_n / c.nc::DOUBLE, 4) AS top_share,
       |  p.purity, m.mi, round(m.mi / sqrt(h1.hc * h2.hl), 6) AS nmi
       |FROM ctot c JOIN top t ON t.cluster = c.cluster
       |CROSS JOIN purity p CROSS JOIN mi m CROSS JOIN hc h1 CROSS JOIN hl h2
       |ORDER BY c.cluster""".stripMargin

  /** Internal clustering validity of the same memoized k-means model —
    * the no-label companion to [[clusterPurity]]: simplified silhouette
    * s(x) = (b−a)/max(a,b) with a = squared distance to the own
    * centroid and b = the nearest OTHER centroid (the
    * centroid-distance variant that makes silhouette linear instead of
    * O(n²) — the only form that scales), and the Davies-Bouldin index
    * mean_i max_j (S_i+S_j)/M_ij with S the mean member scatter and M
    * the centroid separation, all in the model's squared fixed-point
    * units. Every numerator/denominator is an exact BIGINT (distance
    * sums, counts, centroid gaps); each emitted double is a closed-form
    * IEEE expression of them. The two corpus means (silhouette, DB) sum
    * doubles once and round — the corpusEntropy precedent.
    *
    * Scale shape: b rides ONE corpus×K aggregate (the same shape as a
    * Lloyd assign round), the DB table is K² cells, and nothing else
    * leaves the cluster grain.
    */
  def clusterValidity(spark: SparkSession, sfDir: String): DataFrame = {
    val asn = kmeansAssign(spark, sfDir)
    val cent = kmeansCentroids(spark, sfDir)
    val allDist = quantized(spark, sfDir).join(broadcast(cent), "pos")
      .groupBy("vec_id", "cluster")
      .agg(sum((col("q") - col("c")) * (col("q") - col("c"))).as("d2"))
    val b = allDist
      .join(asn.select(col("vec_id"), col("cluster").as("own")), "vec_id")
      .where(col("cluster") =!= col("own"))
      .groupBy("vec_id").agg(min("d2").as("b"))
    val sil = asn.select(col("vec_id"), col("cluster"), col("dist").as("a"))
      .join(b, "vec_id")
      .withColumn("s", when(greatest(col("a"), col("b")) === 0L, lit(0.0d))
        .otherwise((col("b") - col("a")) / greatest(col("a"), col("b"))))
      .localCheckpoint() // feeds the per-cluster rows and the corpus mean
    val perC = sil.groupBy("cluster")
      .agg(count(lit(1)).as("n_vecs"), sum("a").as("intra_units"),
        round(avg("s"), 6).as("s_mean"))
    val silAll = sil.agg(round(avg("s"), 6).as("silhouette"))
    val m = cent.select(col("cluster").as("ci"), col("pos"), col("c").as("vi"))
      .join(cent.select(col("cluster").as("cj"), col("pos"), col("c").as("vj")), "pos")
      .where(col("ci") =!= col("cj"))
      .groupBy("ci", "cj")
      .agg(sum((col("vi") - col("vj")) * (col("vi") - col("vj"))).as("m2"))
    val scatter = perC.select(col("cluster"), (col("intra_units") / col("n_vecs")).as("sc"))
    val db = m
      .join(broadcast(scatter.select(col("cluster").as("ci"), col("sc").as("si"))), "ci")
      .join(broadcast(scatter.select(col("cluster").as("cj"), col("sc").as("sj"))), "cj")
      .withColumn("r", (col("si") + col("sj")) / col("m2"))
      .groupBy(col("ci").as("cluster"))
      .agg(max(struct(col("r"), (-col("cj")).as("nj"))).as("mx"))
      .select(col("cluster"), round(col("mx.r"), 6).as("db_ratio"),
        (-col("mx.nj")).as("db_peer"))
      .localCheckpoint() // K rows feed both the row join and the corpus mean
    val dbAll = db.agg(round(avg(col("db_ratio")), 6).as("db_index"))
    perC.join(db, "cluster")
      .crossJoin(broadcast(silAll))
      .crossJoin(broadcast(dbAll))
      .select(col("cluster"), col("n_vecs"), col("intra_units"), col("s_mean"),
        col("db_peer"), col("db_ratio"), col("silhouette"), col("db_index"))
      .orderBy("cluster")
  }

  /** Oracle: the shared (materialized) k-means chain + identical
    * silhouette/DB algebra. The corpus DB mean averages the ROUNDED
    * per-cluster ratios, exactly as the engine emits them. */
  val clusterValiditySql: String =
    s"""WITH $kmeansCteChain, b AS MATERIALIZED (
       |  SELECT d.vec_id, min(d.dist) AS b
       |  FROM d$KmFinal d JOIN a$KmFinal a ON a.vec_id = d.vec_id
       |  WHERE d.cluster != a.cluster
       |  GROUP BY d.vec_id
       |), sil AS MATERIALIZED (
       |  SELECT a.vec_id, a.cluster, a.dist AS a,
       |    CASE WHEN greatest(a.dist, b.b) = 0 THEN 0.0
       |         ELSE (b.b - a.dist) / greatest(a.dist, b.b)::DOUBLE END AS s
       |  FROM a$KmFinal a JOIN b ON b.vec_id = a.vec_id
       |), per_c AS MATERIALIZED (
       |  SELECT cluster, count(*)::BIGINT AS n_vecs, sum(a)::BIGINT AS intra_units,
       |    round(avg(s), 6) AS s_mean
       |  FROM sil GROUP BY cluster
       |), sil_all AS (SELECT round(avg(s), 6) AS silhouette FROM sil),
       |m AS (
       |  SELECT i.cluster AS ci, j.cluster AS cj,
       |    sum((i.c - j.c) * (i.c - j.c))::BIGINT AS m2
       |  FROM c$KmRounds i JOIN c$KmRounds j ON i.pos = j.pos AND i.cluster != j.cluster
       |  GROUP BY 1, 2
       |), scatter AS (
       |  SELECT cluster, intra_units / n_vecs::DOUBLE AS sc FROM per_c
       |), db AS MATERIALIZED (
       |  SELECT ci AS cluster, round(r, 6) AS db_ratio, cj AS db_peer FROM (
       |    SELECT m.ci, m.cj, (si.sc + sj.sc) / m.m2::DOUBLE AS r,
       |      row_number() OVER (PARTITION BY m.ci ORDER BY
       |        (si.sc + sj.sc) / m.m2::DOUBLE DESC, m.cj ASC) AS rk
       |    FROM m JOIN scatter si ON si.cluster = m.ci
       |    JOIN scatter sj ON sj.cluster = m.cj
       |  ) WHERE rk = 1
       |), db_all AS (SELECT round(avg(db_ratio), 6) AS db_index FROM db)
       |SELECT p.cluster, p.n_vecs, p.intra_units, p.s_mean,
       |  d.db_peer, d.db_ratio,
       |  (SELECT silhouette FROM sil_all) AS silhouette,
       |  (SELECT db_index FROM db_all) AS db_index
       |FROM per_c p JOIN db d ON d.cluster = p.cluster
       |ORDER BY p.cluster""".stripMargin

  /** Squared-distance ceiling (fixed-point units) at or below which a
    * within-cluster pair counts as a semantic duplicate. The fixture
    * embeddings are near-random (min pair distance ≈ 0.97M units², 1st
    * percentile ≈ 1.42M), so the ceiling is calibrated to the tightest
    * ~1% of pairs — enough to exercise non-empty removal sets on every
    * SF while staying far under the ~2M random-pair median.
    */
  val SemThreshold = 1300000L

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * deduplication in embedding space — cluster the corpus with
    * k-means, then compare pairs ONLY within a cluster and drop the
    * higher-id member of every pair closer than [[SemThreshold]].
    *
    * Scale design — the whole point of the method is replacing the
    * O(n²) all-pairs scan with Σ c_k² intra-cluster work:
    *  - the k-means model is the memoized [[kmeansAssign]] (shared
    *    with q_kmeans_embed — one training run per session);
    *  - pair generation is an equi-join on `cluster`, so candidates
    *    co-locate in one shuffle and no cross-cluster pair is ever
    *    materialized. At production scale KClusters grows ∝ n to hold
    *    the per-cluster quadratic bounded (the paper's n/√k regime) —
    *    same knob the LSH band count plays in [[Dedup]];
    *  - distance is exact integer squared-distance on the fixed-point
    *    vectors via codegen'd zip_with/aggregate HOFs: the +1 shift of
    *    the quantization cancels in the difference, so the comparison
    *    is shift-invariant and bit-identical cross-engine (on unit-norm
    *    embeddings squared distance orders identically to the paper's
    *    cosine).
    *
    * Output: per-cluster audit — vectors, pairs examined, duplicate
    * pairs, removed, kept.
    */
  def semanticDedup(spark: SparkSession, sfDir: String): DataFrame =
    semanticDedupFrom(Tables.embeddings(spark, sfDir),
      kmeansAssign(spark, sfDir), SemThreshold)

  /** Frame-parameterized core: `emb` (vec_id, embedding) + a cluster
    * assignment (vec_id, cluster) → the per-cluster dedup audit.
    * Exposed for scale validation on synthesized corpora
    * (SemDedupScaleSpec) with the √N cluster sizing the scaladoc
    * prescribes.
    */
  private[graft] def semanticDedupFrom(emb: DataFrame, assignment: DataFrame,
                                       threshold: Long): DataFrame = {
    val qv = emb
      .select(col("vec_id"), expr(
        s"transform(embedding, v -> cast(round((cast(v AS double) + 1.0d) * $KmScale, 0) AS bigint))")
        .as("qv"))
    val v = assignment.select("vec_id", "cluster").join(qv, "vec_id")
    val pairs = v.select(col("cluster"), col("vec_id").as("a"), col("qv").as("qa"))
      .join(v.select(col("cluster"), col("vec_id").as("b"), col("qv").as("qb")),
            Seq("cluster"))
      .where(col("a") < col("b"))
      .withColumn("d", expr(
        "aggregate(zip_with(qa, qb, (x, y) -> (x - y) * (x - y)), 0L, (acc, x) -> acc + x)"))
      .select("cluster", "a", "b", "d")
    val perPair = pairs.groupBy("cluster")
      .agg(count(lit(1)).as("n_pairs"),
           sum((col("d") <= threshold).cast("long")).as("n_dup_pairs"))
    val removed = pairs.where(col("d") <= threshold)
      .select("cluster", "b").distinct()
      .groupBy("cluster").agg(count(lit(1)).as("n_removed"))
    v.groupBy("cluster").agg(count(lit(1)).as("n_vecs"))
      .join(perPair, Seq("cluster"), "left")
      .join(removed, Seq("cluster"), "left")
      .na.fill(0L, Seq("n_pairs", "n_dup_pairs", "n_removed"))
      .withColumn("n_kept", col("n_vecs") - col("n_removed"))
      .select("cluster", "n_vecs", "n_pairs", "n_dup_pairs", "n_removed", "n_kept")
      .orderBy("cluster")
  }

  val semanticDedupSql: String =
    s"""WITH $kmeansCteChain, v AS (
       |  SELECT vec_id, cluster FROM a$KmFinal
       |), p AS (
       |  SELECT v1.cluster, v1.vec_id AS a, v2.vec_id AS b,
       |    sum((e1.q - e2.q) * (e1.q - e2.q))::BIGINT AS d
       |  FROM v v1 JOIN v v2 ON v1.cluster = v2.cluster AND v1.vec_id < v2.vec_id
       |  JOIN e e1 ON e1.vec_id = v1.vec_id
       |  JOIN e e2 ON e2.vec_id = v2.vec_id AND e2.pos = e1.pos
       |  GROUP BY 1, 2, 3
       |), cl AS (
       |  SELECT cluster, count(*) AS n_vecs FROM v GROUP BY cluster
       |), ps AS (
       |  SELECT cluster, count(*) AS n_pairs,
       |    sum(CASE WHEN d <= $SemThreshold THEN 1 ELSE 0 END)::BIGINT AS n_dup_pairs
       |  FROM p GROUP BY cluster
       |), rm AS (
       |  SELECT cluster, count(DISTINCT b) AS n_removed
       |  FROM p WHERE d <= $SemThreshold GROUP BY cluster
       |)
       |SELECT cl.cluster, cl.n_vecs,
       |  coalesce(ps.n_pairs, 0)::BIGINT AS n_pairs,
       |  coalesce(ps.n_dup_pairs, 0)::BIGINT AS n_dup_pairs,
       |  coalesce(rm.n_removed, 0)::BIGINT AS n_removed,
       |  (cl.n_vecs - coalesce(rm.n_removed, 0))::BIGINT AS n_kept
       |FROM cl LEFT JOIN ps ON cl.cluster = ps.cluster
       |LEFT JOIN rm ON cl.cluster = rm.cluster
       |ORDER BY cl.cluster""".stripMargin

  /** Negatives kept per user. */
  val NegK = 5
  /** Candidate slots drawn per user (> NegK to absorb collisions with
    * positives and duplicate draws).
    */
  val NegSlots = 16

  /** Hash-based negative sampling for implicit-feedback training: per
    * user, [[NegSlots]] pseudo-random item draws via the engine-
    * portable h32(md5(user-slot)) hash mapped into a dense item index,
    * deduplicated (min slot wins), anti-joined against the user's
    * positives, and cut to the first [[NegK]] by slot order. The same
    * (user, slot) always yields the same item on any engine, run, or
    * partitioning — the property that makes training sets reproducible
    * and resumable. Output: per-user negative list + checksum.
    */
  def negativeSample(spark: SparkSession, sfDir: String): DataFrame =
    negativeSampleOf(
      positives(spark, sfDir),
      Tables.part(spark, sfDir).select(col("p_partkey").as("item_id")),
      index = Some(catalogIndex(spark, sfDir)))

  /** The distinct (user_id, item_id) positives, memoized per (session,
    * sfDir) and warmed: BOTH samplers consume this frame twice (the
    * draw user set and the anti-join) and the popularity-mass index
    * derives from it too — without the memo each consumer re-plans
    * the lineitem⋈orders interaction chain (the r9s2 rescan sweep's
    * defect class), with it every consumer reads one persisted slim
    * table. Uncapped on purpose: a capped positives set would let a
    * dropped positive slip through the anti-join as a "negative". */
  private[graft] def positives(spark: SparkSession, sfDir: String): DataFrame =
    QueryCache.memo(spark, s"neg_positives:$sfDir") {
      Tables.interactions(spark, sfDir).select("user_id", "item_id").distinct()
    }

  /** The dense item-catalog index, memoized per (session, sfDir): the
    * catalog is static for a given fixture dir, so the three-shuffle
    * [[graft.operators.Relational.denseIndexOf]] chain runs once per
    * session (warmed in Bench) and every consumer reads the persisted
    * slim (item_id, idx) table — which also hands AQE exact size
    * stats, so the idx equi-join in [[negativeSampleOf]] converts to a
    * broadcast at dimension scale without a hint that would OOM a
    * billions-row catalog at 100 TB.
    */
  private[graft] def catalogIndex(spark: SparkSession, sfDir: String): DataFrame =
    QueryCache.memo(spark, s"neg_catalog_index:$sfDir") {
      Relational.denseIndexOf(
        Tables.part(spark, sfDir).select(col("p_partkey").as("item_id")),
        "item_id", "idx")
    }

  /** Frame-parameterized core of [[negativeSample]] (exposed for the
    * off-fixture ≥10⁶-item catalog scale spec): `pos` = distinct
    * (user_id, item_id) positives, `catalog` = unique item_id rows
    * (duplicates would collapse to one index slot — see
    * [[graft.operators.Relational.denseIndexOf]] — and are counted
    * once by the distinct draw-range count below, so a dirty catalog
    * biases nothing). `index` lets the registry path supply the
    * memoized [[catalogIndex]]; absent, the index is derived inline.
    */
  private[graft] def negativeSampleOf(pos: DataFrame, catalog: DataFrame,
      index: Option[DataFrame] = None): DataFrame = {
    // dense item index WITHOUT a catalog-wide global row_number: the
    // item catalog is the one "dimension" that genuinely grows into
    // the billions at 100 TB, so its index rides RankPrefix.before
    // (per-task worst case = one cell of the value domain), and
    // the idx equi-join below is left unhinted — AQE broadcasts it at
    // dimension scale (PlanShapeSpec pins the conversion on the
    // memoized index) and shuffles it at web scale.
    val items = index.getOrElse(Relational.denseIndexOf(catalog, "item_id", "idx"))
    // the draw range comes straight from the catalog — the index chain
    // has exactly ONE consumer (the idx equi-join), never two (the r8
    // form aggregated n_items off the index frame, planning the whole
    // three-shuffle chain twice). countDistinct matches the index's
    // distinct-key slot count even on a dirty catalog.
    val nItems = catalog.agg(countDistinct("item_id").as("n_items"))
    val cands = pos.select("user_id").distinct()
      .select(col("user_id"), explode(sequence(lit(0), lit(NegSlots - 1))).as("slot"))
      .crossJoin(broadcast(nItems))
      .withColumn("idx", expr(
        "cast(conv(substring(md5(concat_ws('-', cast(user_id AS string), cast(slot AS string), 'neg')), 1, 8), 16, 10) AS bigint)") % col("n_items"))
      .join(items, "idx")
      // two draws may map to the same item: keep the earliest slot
      .groupBy("user_id", "item_id").agg(min("slot").as("slot"))
    val negs = cands
      .join(pos, Seq("user_id", "item_id"), "left_anti")
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy(col("slot").asc, col("item_id").asc)))
      .where(col("rk") <= NegK)
    negs.groupBy("user_id")
      .agg(count(lit(1)).as("n_neg"),
           sum("item_id").as("neg_checksum"),
           concat_ws(",", expr(
             "transform(array_sort(collect_list(struct(rk, item_id))), x -> cast(x.item_id AS string))"))
             .as("neg_items"))
      .orderBy("user_id")
  }

  val negativeSampleSql: String =
    s"""WITH pos AS (
       |  SELECT DISTINCT o.o_custkey AS user_id, l.l_partkey AS item_id
       |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
       |), items AS (
       |  SELECT p_partkey AS item_id,
       |    row_number() OVER (ORDER BY p_partkey) - 1 AS idx
       |  FROM part
       |), n AS (
       |  SELECT count(*) AS n_items FROM items
       |), cands AS (
       |  SELECT u.user_id, i.item_id, min(s.slot) AS slot
       |  FROM (SELECT DISTINCT user_id FROM pos) u
       |  CROSS JOIN (SELECT unnest(range(0, $NegSlots)) AS slot) s
       |  JOIN items i ON i.idx =
       |    ('0x' || substr(md5(u.user_id || '-' || s.slot || '-' || 'neg'), 1, 8))::BIGINT
       |      % (SELECT n_items FROM n)
       |  GROUP BY u.user_id, i.item_id
       |), negs AS (
       |  SELECT user_id, item_id, slot,
       |    row_number() OVER (PARTITION BY user_id ORDER BY slot ASC, item_id ASC) AS rk
       |  FROM cands c
       |  WHERE NOT EXISTS (
       |    SELECT 1 FROM pos p WHERE p.user_id = c.user_id AND p.item_id = c.item_id)
       |)
       |SELECT user_id, count(*) AS n_neg,
       |  sum(item_id)::BIGINT AS neg_checksum,
       |  string_agg(item_id::VARCHAR, ',' ORDER BY rk) AS neg_items
       |FROM negs WHERE rk <= $NegK
       |GROUP BY user_id
       |ORDER BY user_id""".stripMargin

  /** Fixed-point scale of one popularity-mass unit (cnt^0.75 · this,
    * rounded — a BIGINT, so the cumulative-mass intervals below are
    * exact integers on every engine). Doubles as the draw-join CELL
    * width: it is the MINIMUM possible item mass (cnt = 1 → exactly
    * this), so every item interval spans ≥ 1 full cell width and a
    * width-W cell can intersect at most TWO intervals — one ending
    * inside it and one (length ≥ W) covering the rest. That makes the
    * per-draw join fan-out ≤ 2 STRUCTURALLY, at any catalog size and
    * any popularity skew. */
  val PopMassScale = 1000000L

  /** Popularity-weighted (unigram^0.75) negative sampling — the
    * word2vec/recsys-standard companion to the uniform
    * [[negativeSample]]: negatives are drawn proportionally to
    * cnt^0.75 of each item's interaction count, so the sampler
    * matches the score distribution the model actually sees at
    * serving time instead of wasting slots on never-seen tail items.
    * Same determinism contract as the uniform tier: draw u =
    * h60(md5(user-slot-negpop)) mod Σmass, mapped through the
    * inverse CDF (the item whose cumulative-mass interval
    * [cum_lo, cum_lo+mass) covers u), min-slot dedup, positive
    * anti-join, first [[NegK]] by slot order.
    *
    * Scale: the cumulative-mass table is
    * [[graft.operators.RankPrefix.before]] weighted by mass (rank
    * intervals are the special case mass ≡ 1), so nothing
    * catalog-sized ever global-sorts; it is memoized per (session,
    * sfDir) like [[catalogIndex]]. The draw→interval range join
    * buckets mass into fixed-width cells of ONE [[PopMassScale]] unit
    * — the minimum possible item mass — and equi-joins on cell: a
    * cell then intersects ≤ 2 item intervals structurally, so each
    * draw meets at most 2 candidate rows before the covering filter
    * (a COARSE cell bucketing would instead pair every draw in a cell
    * with every item in it — quadratic inside hot cells at catalog
    * scale). The item side explodes into Σ mass/W ≈ Σ cnt^0.75 slim
    * (cell, item) rows — sub-linear in the interaction count — and a
    * hot item's draws parallelize across its interval's many cells
    * instead of funnelling into one task (the skew a per-item
    * equi-join would create). Uniform draws over mass land uniformly
    * over equal-width cells, so the join is also draw-load-balanced
    * by construction. cnt^0.75 =
    * sqrt(cnt·sqrt(cnt)): two correctly-rounded IEEE sqrts and one
    * multiply, bit-identical cross-engine where pow(x, 0.75) is not
    * guaranteed to be.
    */
  def negativeSamplePop(spark: SparkSession, sfDir: String): DataFrame =
    negativeSamplePopOf(positives(spark, sfDir),
      cumOpt = Some(popMassIndex(spark, sfDir)))

  /** The memoized cumulative popularity-mass index (item_id, mass,
    * cum_lo) — static per fixture dir, warmed in Bench; the persisted
    * table also hands AQE exact stats for the cell join. */
  private[graft] def popMassIndex(spark: SparkSession, sfDir: String): DataFrame =
    QueryCache.memo(spark, s"neg_pop_mass_index:$sfDir") {
      popMassCumOf(itemPopCounts(positives(spark, sfDir)))
    }

  /** Per-item interaction counts from the distinct positives. */
  private[graft] def itemPopCounts(pos: DataFrame): DataFrame =
    pos.groupBy("item_id").agg(count(lit(1)).as("cnt"))

  /** (item_id, mass, cum_lo) from an (item_id, cnt) histogram: mass =
    * round(cnt^0.75 · [[PopMassScale]]) and cum_lo = Σ mass of items
    * with smaller item_id — [[graft.operators.RankPrefix.before]]
    * weighted by mass.
    * PRECONDITION: `counts` has ONE row per item_id (guaranteed by the
    * [[itemPopCounts]] groupBy; a caller-supplied histogram with a
    * duplicated key would break the kernel's one-row-per-value rule and
    * overlap the key's intervals — same class as denseIndexOf's
    * uniqueness rule, so the scale spec asserts the engine cum table
    * row-for-row against a local prefix, which any duplicate would
    * break loudly). */
  private[graft] def popMassCumOf(counts: DataFrame): DataFrame = {
    val mass = counts
      .select(col("item_id").cast("long").as("item_id"),
        round(sqrt(col("cnt").cast("double") * sqrt(col("cnt").cast("double")))
          * PopMassScale, 0).cast("long").as("mass"))
    RankPrefix.before(mass, Nil, "item_id", "mass")
      .select(col("item_id"), col("mass"), col("mass_before").as("cum_lo"))
  }

  /** Frame-parameterized core of [[negativeSamplePop]] (the scale spec
    * drives it with a synthetic million-item count histogram): `pos` =
    * distinct (user_id, item_id) positives; `countsOpt` overrides the
    * per-item counts (defaults to [[itemPopCounts]] of `pos`);
    * `cumOpt` lets the registry path supply the memoized index. */
  private[graft] def negativeSamplePopOf(pos: DataFrame,
      countsOpt: Option[DataFrame] = None,
      cumOpt: Option[DataFrame] = None): DataFrame = {
    val cum = cumOpt.getOrElse(popMassCumOf(
      countsOpt.getOrElse(itemPopCounts(pos))))
    val tot = cum.agg(sum("mass").as("tot"))
    // each item lands in every min-mass-width cell its interval
    // touches (≥ 1, ≈ cnt^0.75 for a hot item — that's the skew
    // escape: its draws spread over all of them)
    val itemCells = cum
      .withColumn("cell", explode(expr(
        s"sequence(cum_lo div $PopMassScale, (cum_lo + mass - 1) div $PopMassScale)")))
      .select("cell", "item_id", "mass", "cum_lo")
    val draws = pos.select("user_id").distinct()
      .select(col("user_id"), explode(sequence(lit(0), lit(NegSlots - 1))).as("slot"))
      .crossJoin(broadcast(tot))
      .withColumn("u", expr(
        "cast(conv(substring(md5(concat_ws('-', cast(user_id AS string), cast(slot AS string), 'negpop')), 1, 15), 16, 10) AS bigint)") % col("tot"))
      .withColumn("cell", expr(s"u div $PopMassScale"))
      .select("user_id", "slot", "u", "cell")
    val cands = draws.join(itemCells, "cell")
      .where(col("u") >= col("cum_lo") && col("u") < col("cum_lo") + col("mass"))
      .groupBy("user_id", "item_id").agg(min("slot").as("slot"))
    val negs = cands
      .join(pos, Seq("user_id", "item_id"), "left_anti")
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy(col("slot").asc, col("item_id").asc)))
      .where(col("rk") <= NegK)
    negs.groupBy("user_id")
      .agg(count(lit(1)).as("n_neg"),
           sum("item_id").as("neg_checksum"),
           concat_ws(",", expr(
             "transform(array_sort(collect_list(struct(rk, item_id))), x -> cast(x.item_id AS string))"))
             .as("neg_items"))
      .orderBy("user_id")
  }

  val negativeSamplePopSql: String =
    s"""WITH pos AS (
       |  SELECT DISTINCT o.o_custkey AS user_id, l.l_partkey AS item_id
       |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
       |), m AS MATERIALIZED (
       |  SELECT item_id,
       |    round(sqrt(cnt * sqrt(cnt)) * $PopMassScale)::BIGINT AS mass
       |  FROM (SELECT item_id, count(*)::DOUBLE AS cnt FROM pos GROUP BY 1)
       |), cum AS MATERIALIZED (
       |  SELECT item_id, mass,
       |    (sum(mass) OVER (ORDER BY item_id ASC) - mass)::BIGINT AS cum_lo
       |  FROM m
       |), t AS (
       |  SELECT sum(mass)::BIGINT AS tot FROM m
       |), draws AS MATERIALIZED (
       |  SELECT u.user_id, s.slot,
       |    ('0x' || substr(md5(u.user_id || '-' || s.slot || '-' || 'negpop'), 1, 15))::BIGINT
       |      % (SELECT tot FROM t) AS u
       |  FROM (SELECT DISTINCT user_id FROM pos) u
       |  CROSS JOIN (SELECT unnest(range(0, $NegSlots)) AS slot) s
       |), cands AS (
       |  SELECT d.user_id, c.item_id, min(d.slot) AS slot
       |  FROM draws d JOIN cum c ON d.u >= c.cum_lo AND d.u < c.cum_lo + c.mass
       |  GROUP BY 1, 2
       |), negs AS (
       |  SELECT user_id, item_id, slot,
       |    row_number() OVER (PARTITION BY user_id ORDER BY slot ASC, item_id ASC) AS rk
       |  FROM cands c
       |  WHERE NOT EXISTS (
       |    SELECT 1 FROM pos p WHERE p.user_id = c.user_id AND p.item_id = c.item_id)
       |)
       |SELECT user_id, count(*) AS n_neg,
       |  sum(item_id)::BIGINT AS neg_checksum,
       |  string_agg(item_id::VARCHAR, ',' ORDER BY rk) AS neg_items
       |FROM negs WHERE rk <= $NegK
       |GROUP BY user_id
       |ORDER BY user_id""".stripMargin

  /** View-count cap for the calibration bins (the long tail collapses
    * into the top bin) and the smoothing constant of the propensity
    * score. */
  val CalibCap = 15L
  val CalibK = 5.0

  /** Calibration audit of a purchase-propensity score: the smoothed
    * monotone score p̂ = views/(views+K) per user, binned BY VALUE
    * (capped view count — no population-wide ntile sort), with the
    * observed purchase rate per bin and the calibration gap. This is
    * the reliability-diagram table every ranking pipeline checks before
    * trusting scores as probabilities — expressed engine-portably so
    * the whole table is oracle-backed (unlike a learned model's).
    *
    * Scale: one user aggregate, one bin aggregate over ≤ cap+1 rows.
    * Value-keyed bins are the deliberate choice: decile binning would
    * need a global sort of the user population; capped-count bins are
    * deterministic, stable across runs, and preserve the monotone
    * score ordering.
    */
  def calibrationBins(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    Tables.events(spark, sfDir)
      .groupBy("user_id")
      .agg(sum((col("event_type") === "view").cast("long")).as("n_views"),
           max((col("event_type") === "purchase").cast("long")).as("purchased"))
      .withColumn("bin", least(col("n_views"), lit(CalibCap)))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_users"),
           round(avg(col("n_views") / (col("n_views") + CalibK)), 6).as("pred_rate"),
           round(avg("purchased"), 6).as("obs_rate"))
      .withColumn("gap", round(col("pred_rate") - col("obs_rate"), 6))
      .orderBy("bin")
  }

  val calibrationBinsSql: String =
    s"""WITH per_user AS (
       |  SELECT user_id,
       |    sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS n_views,
       |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS purchased
       |  FROM events GROUP BY user_id
       |)
       |SELECT least(n_views, $CalibCap)::BIGINT AS bin, count(*) AS n_users,
       |  round(avg(n_views / (n_views + $CalibK)), 6) AS pred_rate,
       |  round(avg(purchased), 6) AS obs_rate,
       |  round(round(avg(n_views / (n_views + $CalibK)), 6)
       |        - round(avg(purchased), 6), 6) AS gap
       |FROM per_user
       |GROUP BY 1
       |ORDER BY bin""".stripMargin

  /** Hashed feature space dimensionality (the hashing trick). */
  val FhDims = 32
  /** Documents whose vectors are emitted (bounded demonstration head;
    * the vectorizer itself is corpus-wide by construction). */
  val FhDocs = 20

  /** Feature hashing (Weinberger et al. 2009): signed hashed
    * bag-of-words vectors over the document corpus — the fixed-width,
    * vocabulary-free featurizer every large-scale text trainer uses
    * when a learned vocab is too big or too slow to ship. Each token
    * lands in bucket h mod [[FhDims]] with sign from the next hash
    * bit (the unbiasedness trick: collisions cancel in expectation
    * instead of accumulating), via the engine-portable h32(md5)
    * hash. Emits the sparse (doc, dim, value) triples for the first
    * [[FhDocs]] docs.
    *
    * Scale: pure map + one narrow aggregate keyed (doc, dim); the
    * doc-id head filter pushes into the parquet scan. No vocabulary
    * table exists at any scale.
    */
  def featureHash(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .where(col("doc_id") < FhDocs)
      .select(col("doc_id"),
        explode(split(expr(TextNorm.normSpark), " ")).as("tok"))
      .where(length(col("tok")) > 0)
      .withColumn("h", expr("cast(conv(substring(md5(tok), 1, 8), 16, 10) AS bigint)"))
      .withColumn("dim", (col("h") % FhDims).cast("int"))
      .withColumn("sgn", when(expr(s"(h div $FhDims) % 2") === 0, 1).otherwise(-1))
      .groupBy("doc_id", "dim")
      .agg(sum("sgn").as("val"))
      .where(col("val") =!= 0)
      .orderBy("doc_id", "dim")

  val featureHashSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id,
       |    unnest(string_split(${TextNorm.normDuck}, ' ')) AS tok
       |  FROM documents WHERE doc_id < $FhDocs
       |), hashed AS (
       |  SELECT doc_id,
       |    ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h
       |  FROM toks WHERE len(tok) > 0
       |)
       |SELECT doc_id, (h % $FhDims)::INT AS dim,
       |  sum(CASE WHEN (h // $FhDims) % 2 = 0 THEN 1 ELSE -1 END)::BIGINT AS val
       |FROM hashed
       |GROUP BY 1, 2
       |HAVING sum(CASE WHEN (h // $FhDims) % 2 = 0 THEN 1 ELSE -1 END) <> 0
       |ORDER BY doc_id, dim""".stripMargin

  /** Prior pseudo-count mass for the target encoder. */
  val TeM = 50.0

  /** Leave-one-out target encoding of item brand against the return
    * outcome (l_returnflag = 'R') — the tabular-ML categorical encoder
    * done leakage-safe: each row's own label is excluded from its
    * encoding, with the global rate as a smoothing prior. Because the
    * target is binary, the per-row LOO values collapse to exactly two
    * per brand (own label 0 or 1), so the audit emits the CLOSED FORM
    * per brand — loo_pos/loo_neg, the blended mean, and the plain
    * smoothed encoding — without materializing a per-row table.
    *
    * Scale: one brand aggregate (broadcast dim attach) + a 1-row
    * global prior. The per-row encoded column, when a training job
    * materializes it, is a broadcast join of this 25-row table keyed
    * by (brand, own-label) — no per-row state.
    */
  def targetEncode(spark: SparkSession, sfDir: String): DataFrame = {
    val rows = Tables.lineitem(spark, sfDir)
      .select(col("l_partkey"), (col("l_returnflag") === "R").cast("int").as("y"))
      .join(broadcast(Tables.part(spark, sfDir).select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
    val byBrand = rows.groupBy(col("p_brand").as("brand"))
      .agg(count(lit(1)).as("n"), sum("y").as("n_pos"))
    val prior = byBrand.agg((sum("n_pos").cast("double") / sum("n")).as("p0"))
    byBrand.crossJoin(broadcast(prior))
      .withColumn("raw_rate", round(col("n_pos").cast("double") / col("n"), 6))
      .withColumn("enc_rate",
        round((col("n_pos") + lit(TeM) * col("p0")) / (col("n") + lit(TeM)), 6))
      .withColumn("loo_pos",
        round((col("n_pos") - 1 + lit(TeM) * col("p0")) / (col("n") - 1 + lit(TeM)), 6))
      .withColumn("loo_neg",
        round((col("n_pos") + lit(TeM) * col("p0")) / (col("n") - 1 + lit(TeM)), 6))
      .select("brand", "n", "n_pos", "raw_rate", "enc_rate", "loo_pos", "loo_neg")
      .orderBy("brand")
  }

  val targetEncodeSql: String =
    s"""WITH rows_ AS (
       |  SELECT p.p_brand AS brand,
       |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
       |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
       |), by_brand AS (
       |  SELECT brand, count(*) AS n, sum(y)::BIGINT AS n_pos FROM rows_ GROUP BY 1
       |), prior AS (
       |  SELECT sum(n_pos)::DOUBLE / sum(n) AS p0 FROM by_brand
       |)
       |SELECT brand, n, n_pos,
       |  round(n_pos::DOUBLE / n, 6) AS raw_rate,
       |  round((n_pos + $TeM * p0) / (n + $TeM), 6) AS enc_rate,
       |  round((n_pos - 1 + $TeM * p0) / (n - 1 + $TeM), 6) AS loo_pos,
       |  round((n_pos + $TeM * p0) / (n - 1 + $TeM), 6) AS loo_neg
       |FROM by_brand CROSS JOIN prior
       |ORDER BY brand""".stripMargin

  /** Reference source whose length distribution others are mapped onto. */
  val QnRef = "src0"

  /** Quantile normalization of document length across crawl sources:
    * each doc's within-source percent-rank is mapped onto the
    * REFERENCE source's empirical quantile function (linear
    * interpolation between the two bracketing reference order
    * statistics) — the batch-effect correction that makes one global
    * length/quality threshold meaningful when sources have shifted
    * scales (the microarray-normalization classic applied to corpus
    * mixing). Emits the per-source before/after audit.
    *
    * Scale: BOTH sides of the mapping are length-domain-bounded, not
    * corpus-bounded. The reference's empirical quantile function is a
    * step function of rank whose steps are the ref length HISTOGRAM's
    * rank intervals (value at 0-based rank k = the n_chars whose
    * [start, start+cnt) interval covers k — the doc_id tie-break of
    * the retired ranked-table form never changed the VALUE at a rank,
    * only which doc held it), so it is represented as ≤ |length
    * domain| intervals from [[graft.operators.RankPrefix.before]]
    * — the ref source grows with the corpus, its distinct lengths
    * don't, and nothing ref-sized ever global-sorts or broadcasts.
    * The interpolation is evaluated once per DISTINCT (source,
    * n_chars) — the same bounded level the percent_rank side already
    * lives on — so the two interval probes are bounded×bounded
    * broadcast joins, and the per-doc side only ever takes one
    * broadcast equi-join of the finished lookup.
    */
  def quantileNorm(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir).select(col("doc_id"), col("source"), col("n_chars"))
    // ONE corpus aggregate: the ref histogram, the per-source doc
    // counts and the percent-rank prefixes are all views of the
    // (source, n_chars) histogram — severed once so the interval/
    // prefix consumers below don't each re-plan the documents scan
    // (r9s2 rescan sweep: documents×18 prints before this)
    val hist = d.groupBy("source", "n_chars").agg(count(lit(1)).as("__c"))
      .localCheckpoint()
    val refHist = hist.where(col("source") === QnRef)
      .select(col("n_chars").cast("long").as("rv"), col("__c").as("__cnt"))
    val refIval = RankPrefix.before(refHist, Nil, "rv", "__cnt")
      .select(col("rv"), col("__cnt_before").as("rk_s"),
        (col("__cnt_before") + col("__cnt") - 1L).as("rk_e"))
    val nRef = refHist.agg(sum("__cnt").as("n_ref"))
    // percent_rank = (rank−1)/(n−1) with rank() tie semantics — it
    // depends only on the (source, n_chars) HISTOGRAM, so it is
    // computed from histogram prefixes (≤ |char-length domain| rows
    // per source) instead of a per-source window over every doc row:
    // the r8 rule that no task's window should hold a corpus-growing
    // partition (a source's docs grow with the corpus; its distinct
    // lengths don't). Spark defines percent_rank = 0 for a 1-row
    // partition; the guard mirrors that.
    val wH = Window.partitionBy("source").orderBy("n_chars")
      .rowsBetween(Window.unboundedPreceding, -1)
    val nSrc = hist.groupBy("source").agg(sum("__c").as("__n"))
    val prkOf = hist
      .withColumn("__before", coalesce(sum("__c").over(wH), lit(0L)))
      .join(nSrc, "source")
      .withColumn("prk",
        when(col("__n") > 1,
          col("__before").cast("double") / (col("__n") - 1).cast("double"))
          .otherwise(lit(0.0)))
      .select("source", "n_chars", "prk")
    val lookup = prkOf.crossJoin(broadcast(nRef))
      .withColumn("pos", col("prk") * (col("n_ref") - 1))
      .withColumn("lo", floor(col("pos")).cast("long"))
      .withColumn("hi", ceil(col("pos")).cast("long"))
      .join(broadcast(refIval.select(col("rk_s").as("lo_s"),
          col("rk_e").as("lo_e"), col("rv").as("v_lo"))),
        col("lo") >= col("lo_s") && col("lo") <= col("lo_e"))
      .join(broadcast(refIval.select(col("rk_s").as("hi_s"),
          col("rk_e").as("hi_e"), col("rv").as("v_hi"))),
        col("hi") >= col("hi_s") && col("hi") <= col("hi_e"))
      // same expression tree as the retired per-doc form: v_lo/v_hi
      // are the same long values the ranked table held at lo/hi, so
      // per-doc norm_chars is bit-identical and the unchanged oracle's
      // hash-match is the proof the rewrite is plan-only
      .withColumn("norm_chars",
        col("v_lo") + (col("v_hi") - col("v_lo")) * (col("pos") - col("lo")))
      .select("source", "n_chars", "norm_chars")
    val normed = d.join(broadcast(lookup), Seq("source", "n_chars"))
    normed.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
           round(avg("n_chars"), 4).as("mean_raw"),
           round(avg("norm_chars"), 4).as("mean_norm"),
           round(min("norm_chars"), 4).as("min_norm"),
           round(max("norm_chars"), 4).as("max_norm"))
      .orderBy("source")
  }

  val quantileNormSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, source, n_chars FROM documents
       |), ref AS (
       |  SELECT n_chars AS rv,
       |    row_number() OVER (ORDER BY n_chars ASC, doc_id ASC) - 1 AS rk
       |  FROM d WHERE source = '$QnRef'
       |), nr AS (SELECT count(*) AS n_ref FROM ref),
       |pr AS (
       |  SELECT doc_id, source, n_chars,
       |    percent_rank() OVER (PARTITION BY source ORDER BY n_chars ASC) AS prk
       |  FROM d
       |), pos AS (
       |  SELECT *, prk * (n_ref - 1) AS pos,
       |    floor(prk * (n_ref - 1))::BIGINT AS lo,
       |    ceil(prk * (n_ref - 1))::BIGINT AS hi
       |  FROM pr CROSS JOIN nr
       |), normed AS (
       |  SELECT p.source, p.n_chars,
       |    rl.rv + (rh.rv - rl.rv) * (p.pos - p.lo) AS norm_chars
       |  FROM pos p
       |  JOIN ref rl ON rl.rk = p.lo
       |  JOIN ref rh ON rh.rk = p.hi
       |)
       |SELECT source, count(*) AS n_docs,
       |  round(avg(n_chars), 4) AS mean_raw,
       |  round(avg(norm_chars), 4) AS mean_norm,
       |  round(min(norm_chars), 4) AS min_norm,
       |  round(max(norm_chars), 4) AS max_norm
       |FROM normed GROUP BY source ORDER BY source""".stripMargin

  /** PQ subspace width in dims (64-dim fixture → 32 subspaces). The
    * fixture embeddings are near-isotropic — PQ's hardest case (no
    * variance to concentrate) — so narrow subspaces are what buys
    * recall. Measured mean recall@10 at K=16: 8-dim 0.30, 4-dim 0.46,
    * 2-dim 0.56; 2-dim at K=32 reaches 0.70 (TrainingSpec floors the
    * band at 0.5). Real text/image embeddings concentrate variance
    * and do better at the same code budget. */
  val PqSubDim = 2
  /** Codewords per subspace (production 8-bit PQ uses 256; 32 keeps
    * the oracle unroll tractable while exercising the identical
    * plan shape — the constant, not the mechanism, changes at scale). */
  val PqK = 32
  /** Lloyd's rounds per subspace codebook (unrolled in the oracle). */
  val PqRounds = 2
  /** ADC query vectors (the lowest vec_ids) and neighbors returned. */
  val PqNQueries = 5
  val PqTopK = 10

  /** Quantized table with the subspace key attached. */
  private[graft] def pqSub(spark: SparkSession, sfDir: String): DataFrame =
    pqSubOf(quantized(spark, sfDir))

  /** Frame-parameterized variant (scale specs feed synthetic corpora). */
  private[graft] def pqSubOf(eq: DataFrame): DataFrame =
    eq.withColumn("sub", expr(s"pos div $PqSubDim"))

  /** Product-quantization codebooks: an INDEPENDENT deterministic
    * k-means per subspace ([[PqK]] codewords, [[PqRounds]] Lloyd's
    * rounds, init = the K lowest vec_ids' sub-vectors), run as ONE
    * dataflow with `sub` as a grouping key — M trainings for the
    * price of one shuffle per round. Memoized: codes and ADC share
    * the model.
    */
  private[graft] def pqCodebooks(spark: SparkSession, sfDir: String): DataFrame =
    QueryCache.memo(spark, s"pq_cb:$sfDir") {
      pqCodebooksOf(pqSub(spark, sfDir))
    }

  private[graft] def pqCodebooksOf(es: DataFrame): DataFrame =
    train(es, PqK, PqRounds, Seq("sub"))

  /** Product quantization + asymmetric distance computation — the
    * billion-scale ANN serving layout (Jégou et al., PAMI 2011). Each
    * vector is compressed to M = dims/[[PqSubDim]] codeword ids; a
    * query's distance to ANY database vector is then a SUM OF M TABLE
    * LOOKUPS against a per-query lookup table of exact integer
    * squared distances to every codeword.
    *
    * Emits the ADC top-[[PqTopK]] neighbors of the [[PqNQueries]]
    * lowest-id vectors (self excluded), all arithmetic BIGINT.
    *
    * Scale: this is THE pattern that replaces brute force at 10⁹
    * vectors — codebooks (M·K·subdim rows) and LUTs (Q·M·K rows)
    * broadcast; the only big table is codes (N·M rows ≪ raw floats),
    * scanned once with a broadcast hash join + partial aggregate. No
    * pair blow-up, no shuffle of the corpus; at real scale the same
    * scan nests inside IVF cells ([[Similarity]]'s q_knn_ivf tier).
    */
  def pqAdc(spark: SparkSession, sfDir: String): DataFrame =
    pqAdcFrom(pqSub(spark, sfDir), pqCodebooks(spark, sfDir), PqNQueries, PqTopK,
      codes = Some(pqCodes(spark, sfDir)))

  /** Memoized PQ code table per (session, sfDir): the model artifact
    * every ADC consumer (q_pq_adc, q_ivf_pq) serves from — static
    * once the codebooks are trained, so the N·M assignment aggregate
    * runs once per session (warmed in Bench) instead of once per
    * query. */
  private[graft] def pqCodes(spark: SparkSession, sfDir: String): DataFrame =
    QueryCache.memo(spark, s"pq_codes:$sfDir") {
      pqCodesOf(pqSub(spark, sfDir), pqCodebooks(spark, sfDir))
    }

  private[graft] def pqAdcFrom(es: DataFrame, cent: DataFrame,
                               nQueries: Int, topK: Int,
                               codes: Option[DataFrame] = None): DataFrame = {
    val cd = codes.getOrElse(pqCodesOf(es, cent))
    val qIds = es.select("vec_id").distinct().orderBy("vec_id").limit(nQueries)
    val lut = lutOf(es.join(broadcast(qIds), "vec_id"), cent)
    val adc = cd.join(broadcast(lut), Seq("sub", "cluster"))
      .where(col("query_id") =!= col("vec_id"))
      .groupBy("query_id", "vec_id")
      .agg(sum("d").as("adc_dist_units"))
    graft.functions.TopKByScore.windowRanked(adc, "query_id", topK,
        col("adc_dist_units").asc, col("vec_id"))
      .select("query_id", "rk", "vec_id", "adc_dist_units")
      .orderBy("query_id", "rk")
  }

  /** Code table (vec_id, sub, cluster) for a frame — exposed for the
    * scale spec's compression accounting. */
  private[graft] def pqCodesOf(es: DataFrame, cent: DataFrame): DataFrame =
    assign(es, cent, Seq("sub")).select("vec_id", "sub", "cluster")

  /** Per-query ADC lookup table over the `vec_id < nQueries` query
    * set: exact integer squared distance from each query's sub-vector
    * to every codeword — Q·M·K rows, broadcastable at any corpus
    * size. Shared by [[graft.operators.Similarity.ivfPq]]'s re-rank
    * stage ([[pqAdcFrom]] keeps its own order-by-limit query set). */
  private[graft] def pqLutOf(es: DataFrame, cent: DataFrame, nQueries: Int): DataFrame =
    lutOf(es.where(col("vec_id") < nQueries), cent)

  /** The ADC lookup table of the query rows `qs` (a subset of the
    * quantized `es` rows): (query_id, sub, cluster, d). */
  private def lutOf(qs: DataFrame, cent: DataFrame): DataFrame =
    qs.select(col("vec_id").as("query_id"), col("sub"), col("pos"), col("q").as("qq"))
      .join(broadcast(cent), Seq("sub", "pos"))
      .groupBy("query_id", "sub", "cluster")
      .agg(sum((col("qq") - col("c")) * (col("qq") - col("c"))).as("d"))

  /** The unrolled PQ-training CTE chain, shared verbatim by
    * [[pqAdcSql]] and [[graft.operators.Similarity.ivfPqSql]]: the
    * quantized `e` table, seeded `c0`, [[PqRounds]] Lloyd's rounds,
    * ending in the final codebook `c$PqRounds` and the `codes`
    * assignment table. `e` and `codes` are MATERIALIZED — both have
    * several downstream consumers and DuckDB re-runs an inlined CTE's
    * whole chain once per reader. */
  private[graft] val pqTrainCtes: String = mkPqTrainCtes("", None)

  /** Generalized PQ-training chain builder: `p` prefixes every CTE
    * name (so two chains — e.g. frozen vs retrained codebooks — can
    * coexist in ONE oracle), and `trainPredOpt` (a predicate builder
    * over a vec_id column reference) EXCLUDES matching vectors from
    * codebook TRAINING (init seeds + Lloyd's rounds) while the final
    * `${p}codes` assignment still encodes the FULL corpus — exactly
    * the frozen-codebook ingest semantics: the arriving batch is
    * encoded against codebooks it never influenced. With p = "" and
    * no predicate this is byte-identical to the r11 chain. */
  private[graft] def mkPqTrainCtes(p: String,
      trainPredOpt: Option[String => String]): String = {
    val pqFinal = PqRounds + 1
    // inside the init subquery the quantized table's column is bare
    // vec_id; inside the round CTEs it is e.vec_id
    val initW = trainPredOpt.fold("")(f => s" WHERE NOT (${f("vec_id")})")
    val trainAnd = trainPredOpt.fold("")(f => s" AND NOT (${f("e.vec_id")})")
    val rounds = (1 to PqRounds).map { k =>
      s"""${p}d$k AS (
         |  SELECT e.vec_id, e.sub, c.cluster,
         |    sum((e.q - c.c) * (e.q - c.c))::BIGINT AS dist
         |  FROM ${p}e e JOIN ${p}c${k - 1} c ON e.sub = c.sub AND e.pos = c.pos$trainAnd
         |  GROUP BY 1, 2, 3
         |), ${p}m$k AS (
         |  SELECT vec_id, sub, min(dist) AS md FROM ${p}d$k GROUP BY 1, 2
         |), ${p}a$k AS (
         |  SELECT d.vec_id, d.sub, min(d.cluster) AS cluster
         |  FROM ${p}d$k d JOIN ${p}m$k m
         |    ON d.vec_id = m.vec_id AND d.sub = m.sub AND d.dist = m.md
         |  GROUP BY 1, 2
         |), ${p}c$k AS (
         |  SELECT e.sub, a.cluster, e.pos, (sum(e.q) // count(*))::BIGINT AS c
         |  FROM ${p}e e JOIN ${p}a$k a ON e.vec_id = a.vec_id AND e.sub = a.sub
         |  GROUP BY 1, 2, 3
         |)""".stripMargin
    }.mkString(", ")
    s"""${p}e AS MATERIALIZED (
       |  SELECT vec_id, i - 1 AS pos, ((i - 1) // $PqSubDim) AS sub,
       |    round((embedding[i]::DOUBLE + 1.0) * $KmScale)::BIGINT AS q
       |  FROM embeddings
       |  CROSS JOIN (SELECT unnest(range(1, (SELECT max(len(embedding)) + 1 FROM embeddings))) AS i)
       |  WHERE i <= len(embedding)
       |), ${p}init AS (
       |  SELECT vec_id, row_number() OVER (ORDER BY vec_id) AS cluster
       |  FROM (SELECT DISTINCT vec_id FROM ${p}e$initW ORDER BY vec_id LIMIT $PqK)
       |), ${p}c0 AS (
       |  SELECT e.sub, init.cluster, e.pos, e.q AS c
       |  FROM ${p}e e JOIN ${p}init init ON e.vec_id = init.vec_id
       |), $rounds, ${p}d$pqFinal AS (
       |  SELECT e.vec_id, e.sub, c.cluster,
       |    sum((e.q - c.c) * (e.q - c.c))::BIGINT AS dist
       |  FROM ${p}e e JOIN ${p}c$PqRounds c ON e.sub = c.sub AND e.pos = c.pos
       |  GROUP BY 1, 2, 3
       |), ${p}m$pqFinal AS (
       |  SELECT vec_id, sub, min(dist) AS md FROM ${p}d$pqFinal GROUP BY 1, 2
       |), ${p}codes AS MATERIALIZED (
       |  SELECT d.vec_id, d.sub, min(d.cluster) AS cluster
       |  FROM ${p}d$pqFinal d JOIN ${p}m$pqFinal m
       |    ON d.vec_id = m.vec_id AND d.sub = m.sub AND d.dist = m.md
       |  GROUP BY 1, 2
       |)""".stripMargin
  }

  /** Name of the final codebook CTE inside a [[mkPqTrainCtes]] chain. */
  private[graft] def pqFinalCbOf(p: String): String = s"${p}c$PqRounds"

  /** Name of the final codebook CTE inside [[pqTrainCtes]]. */
  private[graft] val pqFinalCb: String = pqFinalCbOf("")

  /** Oracle: identical integer PQ training (rounds unrolled, `sub` in
    * every grouping), codes, LUT, and ADC ranking. */
  val pqAdcSql: String = {
    s"""WITH $pqTrainCtes, qs AS (
       |  SELECT DISTINCT vec_id FROM e ORDER BY vec_id LIMIT $PqNQueries
       |), lut AS (
       |  SELECT e.vec_id AS query_id, c.sub, c.cluster,
       |    sum((e.q - c.c) * (e.q - c.c))::BIGINT AS d
       |  FROM e JOIN qs ON e.vec_id = qs.vec_id
       |  JOIN c$PqRounds c ON c.sub = e.sub AND c.pos = e.pos
       |  GROUP BY 1, 2, 3
       |), adc AS (
       |  SELECT l.query_id, cd.vec_id, sum(l.d)::BIGINT AS adc_dist_units
       |  FROM codes cd JOIN lut l ON l.sub = cd.sub AND l.cluster = cd.cluster
       |  WHERE l.query_id <> cd.vec_id
       |  GROUP BY 1, 2
       |)
       |SELECT query_id, rk, vec_id, adc_dist_units FROM (
       |  SELECT query_id, vec_id, adc_dist_units,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY adc_dist_units ASC, vec_id ASC) AS rk
       |  FROM adc
       |) WHERE rk <= $PqTopK
       |ORDER BY query_id, rk""".stripMargin
  }

  /** Coreset size for the greedy k-center selection. */
  val KcK = 8

  /** Greedy k-center coreset (farthest-first traversal, Gonzalez
    * 1985 — the 2-approximation): seed at the lowest vec_id, then
    * repeatedly select the vector FARTHEST from every already-selected
    * center (exact integer squared distance, ties to the smaller id).
    * The classic diversity-sampling pass for training-data selection:
    * the chosen K vectors cover the corpus with the smallest max
    * distance any greedy method guarantees, and the recorded
    * radius_units (the picked point's distance at selection) is the
    * coverage-radius curve — how much diversity each additional
    * sample buys. Complements [[semanticDedup]]: that removes
    * redundancy, this picks the spanning exemplars.
    *
    * Scale: each round is ONE broadcast join (the new center is a
    * dims-row table) + a partial aggregate over the corpus, and the
    * min-dist state is one long per vector — K linear passes, no
    * pairwise table. The per-round 1-row `head` is the greedy
    * selection witness (same driver-side class as the CC convergence
    * check). All arithmetic BIGINT ⇒ engine-exact. At 10⁹ vectors the
    * same rounds run over the PQ-compressed table.
    */
  def kcenterCoreset(spark: SparkSession, sfDir: String): DataFrame = {
    val e = quantized(spark, sfDir)
    val seed = e.agg(min("vec_id")).head.getLong(0)
    def d2To(center: Long): DataFrame =
      e.join(broadcast(e.where(col("vec_id") === center)
          .select(col("pos"), col("q").as("cq"))), "pos")
        .groupBy("vec_id")
        .agg(sum((col("q") - col("cq")) * (col("q") - col("cq"))).as("nd"))
    var dist = d2To(seed).withColumnRenamed("nd", "dist").localCheckpoint()
    val sel = scala.collection.mutable.ArrayBuffer((1, seed, 0L))
    for (k <- 2 to KcK) {
      val pick = dist.orderBy(col("dist").desc, col("vec_id").asc).head
      sel += ((k, pick.getLong(0), pick.getLong(1)))
      dist = dist.join(d2To(pick.getLong(0)), "vec_id")
        .select(col("vec_id"), least(col("dist"), col("nd")).as("dist"))
        .localCheckpoint() // state = one long per vector; flat lineage
    }
    import spark.implicits._
    sel.toSeq.toDF("rk", "vec_id", "radius_units").orderBy("rk")
  }

  /** Oracle: the greedy rounds unrolled — each round recomputes the
    * distance to the newly selected center and folds it in with
    * least(). */
  val kcenterCoresetSql: String = {
    val rounds = (2 to KcK).map { k =>
      s"""s$k AS (
         |  SELECT vec_id, dist FROM d${k - 1}
         |  ORDER BY dist DESC, vec_id ASC LIMIT 1
         |), n$k AS (
         |  SELECT e.vec_id, sum((e.q - c.q) * (e.q - c.q))::BIGINT AS dist
         |  FROM e JOIN e c ON c.vec_id = (SELECT vec_id FROM s$k) AND c.pos = e.pos
         |  GROUP BY e.vec_id
         |), d$k AS (
         |  SELECT d.vec_id, least(d.dist, n.dist) AS dist
         |  FROM d${k - 1} d JOIN n$k n ON n.vec_id = d.vec_id
         |)""".stripMargin
    }.mkString(", ")
    val out = (2 to KcK).map { k =>
      s"SELECT $k AS rk, vec_id, dist AS radius_units FROM s$k"
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH e AS (
       |  SELECT vec_id, i AS pos,
       |    round((embedding[i]::DOUBLE + 1.0) * $KmScale)::BIGINT AS q
       |  FROM embeddings
       |  CROSS JOIN (SELECT unnest(range(1, (SELECT max(len(embedding)) + 1 FROM embeddings))) AS i)
       |  WHERE i <= len(embedding)
       |), d1 AS (
       |  SELECT e.vec_id, sum((e.q - c.q) * (e.q - c.q))::BIGINT AS dist
       |  FROM e JOIN e c ON c.vec_id = (SELECT min(vec_id) FROM e) AND c.pos = e.pos
       |  GROUP BY e.vec_id
       |), $rounds
       |SELECT rk::INTEGER AS rk, vec_id, radius_units FROM (
       |  SELECT 1 AS rk, (SELECT min(vec_id) FROM e) AS vec_id, 0::BIGINT AS radius_units
       |  UNION ALL
       |  $out
       |) ORDER BY rk""".stripMargin
  }

  /** Power-iteration rounds for the PC1 estimate (unrolled in the
    * oracle) and the per-round vector scale. */
  val Pc1Rounds = 8
  val Pc1Scale = 1000L

  /** Join-free integer covariance of the quantized embedding corpus:
    * (i, j, cij) cells from map-side generated per-row outer products
    * (see [[embedPc1]]'s scale note). Exposed for the plan-shape pin —
    * the checkpoint in embedPc1 hides this stage from the final plan.
    */
  private[graft] def pc1CovOf(emb: DataFrame, e: DataFrame): DataFrame = {
    val m = e.groupBy("pos").agg(expr("sum(q) div count(1)").as("m"))
    val mArr = m.agg(sort_array(collect_list(struct(col("pos"), col("m")))).as("ms"))
      .select(transform(col("ms"), s => s.getField("m")).as("m_arr"))
    emb
      .select(expr(
        s"transform(embedding, v -> cast(round((cast(v AS double) + 1.0d) * $KmScale, 0) AS bigint))")
        .as("q_arr"))
      .crossJoin(broadcast(mArr))
      .select(zip_with(col("q_arr"), col("m_arr"), (q, mm) => q - mm).as("c_arr"))
      .select(col("c_arr"), posexplode(col("c_arr")).as(Seq("i", "ci")))
      .select(col("i"), col("ci"), posexplode(col("c_arr")).as(Seq("j", "cj")))
      .groupBy("i", "j").agg(sum(col("ci") * col("cj")).as("cij"))
  }

  /** Leading principal component of the embedding corpus by
    * fixed-point power iteration — the "is there a dominant
    * direction" diagnostic behind anisotropy audits and
    * mean-centering decisions (a PC1 that explains a large variance
    * share means cosine similarities are dominated by one axis and
    * whitening would help; the near-isotropic fixture should show a
    * LOW ratio). Covariance is EXACT BIGINT (integer-centered
    * quantized values), and each iteration renormalizes with
    * sign(x)·((|x|·scale) div max|x|) — abs before the integer
    * division, because floor-vs-truncate on negatives is exactly
    * where Spark `div` and DuckDB `//` disagree. After
    * [[Pc1Rounds]] rounds the vector is integer-exact on both
    * engines (v_checksum pins it); only the final Rayleigh ratio is
    * floating point, rounded well above its 1e-12 cross-engine
    * noise.
    *
    * Scale: the covariance aggregate is JOIN-FREE — each embedding
    * row already holds its whole vector, so the centered values come
    * from a zip_with against the broadcast mean array and the dims²
    * products are emitted map-side by two generators straight into
    * the partial aggregate. Nothing corpus-sized ever shuffles: the
    * only exchange in the covariance stage carries the dims²
    * partially-combined cells (the r6 formulation self-joined the
    * exploded corpus on vec_id, shuffling corpus×dims rows twice for
    * the same result). The iteration itself runs on dims² × dims
    * rows behind broadcasts. Overflow headroom: a cell |cij| ≤
    * N·KmScale² and the renorm product |w|·Pc1Scale ≤
    * dims·N·KmScale²·Pc1Scale — int64-safe to ~10¹⁰ vectors at the
    * fixture's dims/scales; beyond that move cij/w to DECIMAL(38,0)
    * (both engines support it; same escape hatch revenueGini
    * documents for its rank sums).
    */
  def embedPc1(spark: SparkSession, sfDir: String): DataFrame = {
    val cov = pc1CovOf(Tables.embeddings(spark, sfDir), quantized(spark, sfDir))
      .localCheckpoint()
    var v = cov.select(col("j").as("pos")).distinct()
      .withColumn("v", lit(Pc1Scale))
    for (_ <- 1 to Pc1Rounds) {
      val raw = cov.join(broadcast(v.withColumnRenamed("pos", "j")), "j")
        .groupBy(col("i").as("pos")).agg(sum(col("cij") * col("v")).as("w"))
      val mx = raw.agg(max(abs(col("w"))).as("mx"))
      v = raw.crossJoin(broadcast(mx))
        .select(col("pos"),
          (signum(col("w")).cast("long") *
            expr(s"(abs(w) * $Pc1Scale) div mx")).as("v"))
        .localCheckpoint()
    }
    val trace = cov.where(col("i") === col("j")).agg(sum("cij").as("trace"))
    val quad = cov
      .join(broadcast(v.select(col("pos").as("i"), col("v").as("vi"))), "i")
      .join(broadcast(v.select(col("pos").as("j"), col("v").as("vj"))), "j")
      .agg(sum(col("cij").cast("double") * col("vi") * col("vj")).as("num"))
    val norm2 = v.agg(sum(col("v") * col("v")).as("n2"), sum("v").as("v_checksum"))
    val top = v.orderBy(abs(col("v")).desc, col("pos").asc).limit(1)
      .select(col("pos").as("top_dim"))
    spark.range(1).select(lit(1).as("one"))
      .crossJoin(broadcast(quad)).crossJoin(broadcast(norm2))
      .crossJoin(broadcast(trace)).crossJoin(broadcast(top))
      .select(
        col("top_dim"),
        col("v_checksum"),
        round(col("num") / (col("n2").cast("double") * col("trace")), 6)
          .as("pc1_var_share"))
  }

  val embedPc1Sql: String = {
    val rounds = (1 to Pc1Rounds).map { k =>
      s"""r$k AS MATERIALIZED (
         |  SELECT cov.i AS pos, sum(cov.cij * p.v)::BIGINT AS w
         |  FROM cov JOIN v${k - 1} p ON p.pos = cov.j
         |  GROUP BY cov.i
         |), v$k AS MATERIALIZED (
         |  SELECT pos,
         |    (sign(w)::BIGINT * ((abs(w) * $Pc1Scale) // (SELECT max(abs(w)) FROM r$k)))::BIGINT AS v
         |  FROM r$k
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH e AS (
       |  SELECT vec_id, i - 1 AS pos,
       |    round((embedding[i]::DOUBLE + 1.0) * $KmScale)::BIGINT AS q
       |  FROM embeddings
       |  CROSS JOIN (SELECT unnest(range(1, (SELECT max(len(embedding)) + 1 FROM embeddings))) AS i)
       |  WHERE i <= len(embedding)
       |), m AS (
       |  SELECT pos, (sum(q) // count(*))::BIGINT AS m FROM e GROUP BY pos
       |), c AS (
       |  SELECT e.vec_id, e.pos, e.q - m.m AS c FROM e JOIN m ON m.pos = e.pos
       |), cov AS MATERIALIZED (
       |  SELECT a.pos AS i, b.pos AS j, sum(a.c * b.c)::BIGINT AS cij
       |  FROM c a JOIN c b ON a.vec_id = b.vec_id
       |  GROUP BY 1, 2
       |), v0 AS MATERIALIZED (
       |  SELECT DISTINCT j AS pos, $Pc1Scale AS v FROM cov
       |), $rounds, tr AS (
       |  SELECT sum(cij)::BIGINT AS trace FROM cov WHERE i = j
       |), quad AS (
       |  SELECT sum(cov.cij::DOUBLE * vi.v * vj.v) AS num
       |  FROM cov JOIN v$Pc1Rounds vi ON vi.pos = cov.i
       |  JOIN v$Pc1Rounds vj ON vj.pos = cov.j
       |), n2 AS (
       |  SELECT sum(v * v)::BIGINT AS n2, sum(v)::BIGINT AS v_checksum FROM v$Pc1Rounds
       |), top AS (
       |  SELECT pos AS top_dim FROM v$Pc1Rounds
       |  ORDER BY abs(v) DESC, pos ASC LIMIT 1
       |)
       |SELECT top.top_dim, n2.v_checksum,
       |  round(quad.num / (n2.n2::DOUBLE * tr.trace), 6) AS pc1_var_share
       |FROM top, n2, quad, tr""".stripMargin
  }

  /** Force-build the memoized model tables (k-means centroids +
    * assignment, PQ codebooks) — see [[Recsys.warm]]. */
  def warm(spark: SparkSession, sfDir: String): Unit = {
    kmeansAssign(spark, sfDir).count()
    pqCodebooks(spark, sfDir).count()
    pqCodes(spark, sfDir).count()
    catalogIndex(spark, sfDir).count()
    positives(spark, sfDir).count()
    popMassIndex(spark, sfDir).count()
  }

  /** Chosen/rejected candidates kept per user BEFORE pairing — the
    * cap that keeps the per-user pair product at C² = 4, not |items|². */
  val DpoCandC = 2
  /** Pairs emitted (global head on the exact integer margin). */
  val DpoTop = 100

  /** Preference-pair construction — the DPO/RLHF-style training-data
    * step that turns graded interactions into (prompt, chosen,
    * rejected) triples: per user, the [[DpoCandC]] strongest items
    * (quantity-weighted implicit rating, ties broken ascending by
    * item) pair against the [[DpoCandC]] weakest (ties broken
    * descending, so the two candidate sets stay disjoint whenever the
    * user has > 2·C items), keeping only strict-preference pairs
    * (margin > 0, distinct items). Margin = exact integer strength
    * difference, so ranking needs no float tie-break.
    *
    * Scale: both candidate ranks are per-user partitioned windows
    * over the SAME partitioning (one shuffle, two row_numbers), the
    * pair join fans out ≤ C² = 4 rows per user, and the output head is
    * a global top-[[DpoTop]] on exact BIGINTs (TakeOrderedAndProject).
    * Nothing corpus-sized ever sorts globally.
    */
  def dpoPairs(spark: SparkSession, sfDir: String): DataFrame = {
    val i = Tables.interactions(spark, sfDir)
      .select(col("user_id"), col("item_id"),
        round(col("strength"), 0).cast("long").as("s"))
    val wTop = Window.partitionBy("user_id")
      .orderBy(col("s").desc, col("item_id").asc)
    val wBot = Window.partitionBy("user_id")
      .orderBy(col("s").asc, col("item_id").desc)
    val ranked = i.withColumn("rt", row_number().over(wTop))
      .withColumn("rb", row_number().over(wBot))
    val chosen = ranked.where(col("rt") <= DpoCandC)
      .select(col("user_id"), col("item_id").as("chosen_item"), col("s").as("s_c"))
    val rejected = ranked.where(col("rb") <= DpoCandC)
      .select(col("user_id"), col("item_id").as("rejected_item"), col("s").as("s_r"))
    chosen.join(rejected, "user_id")
      .where(col("chosen_item") =!= col("rejected_item") && col("s_c") > col("s_r"))
      .withColumn("margin", col("s_c") - col("s_r"))
      .withColumn("rk", row_number().over(Window.orderBy(
        col("margin").desc, col("user_id").asc,
        col("chosen_item").asc, col("rejected_item").asc)))
      .where(col("rk") <= DpoTop)
      .select("rk", "user_id", "chosen_item", "rejected_item", "margin")
      .orderBy("rk")
  }

  val dpoPairsSql: String =
    s"""WITH inter AS (
       |${Tables.interactionsSql}
       |), i AS (
       |  SELECT user_id, item_id, CAST(round(strength) AS BIGINT) AS s FROM inter
       |), rnk AS (
       |  SELECT user_id, item_id, s,
       |    row_number() OVER (PARTITION BY user_id ORDER BY s DESC, item_id ASC) AS rt,
       |    row_number() OVER (PARTITION BY user_id ORDER BY s ASC, item_id DESC) AS rb
       |  FROM i
       |), c AS (
       |  SELECT user_id, item_id AS chosen_item, s AS s_c FROM rnk WHERE rt <= $DpoCandC
       |), rj AS (
       |  SELECT user_id, item_id AS rejected_item, s AS s_r FROM rnk WHERE rb <= $DpoCandC
       |), p AS (
       |  SELECT c.user_id, c.chosen_item, rj.rejected_item, c.s_c - rj.s_r AS margin
       |  FROM c JOIN rj ON rj.user_id = c.user_id
       |  WHERE c.chosen_item <> rj.rejected_item AND c.s_c > rj.s_r
       |)
       |SELECT rk, user_id, chosen_item, rejected_item, margin FROM (
       |  SELECT user_id, chosen_item, rejected_item, margin,
       |    row_number() OVER (ORDER BY margin DESC, user_id ASC,
       |      chosen_item ASC, rejected_item ASC) AS rk
       |  FROM p
       |) WHERE rk <= $DpoTop
       |ORDER BY rk""".stripMargin

  /** Per-group sample cap for the MMD correctness tier (the bounded
    * quadratic: ≤ MmdN² kernel evaluations per block — the
    * embeddingNearDup / fuzzyNames precedent). */
  val MmdN = 256
  /** Kernel fixed-point scale: k ∈ [0,1] → round(k·10⁹) BIGINT, so the
    * 3 pair sums are exact integers and summation order cannot move
    * the result (a last-ulp exp wobble shifts a sum by 10⁻⁹ relative —
    * 8 orders below the 6-dp output rounding). */
  val MmdScale = 1000000000L

  /** Kernel two-sample drift test (MMD²) in embedding space — the
    * modern complement of the per-feature [[Stats.psiDrift]] histogram:
    * does the label-0 embedding cloud differ from label-1 AS A
    * DISTRIBUTION? Unbiased MMD² = mean k(x,x') + mean k(y,y') −
    * 2·mean k(x,y) with the RBF kernel k = exp(−‖x−y‖²/d) (γ = 1/d,
    * the standard dimension heuristic — a fixed constant, so no
    * median-bandwidth nondeterminism). Distances come from the codegen
    * [[graft.functions.FloatDot]] identity ‖x−y‖² = ‖x‖²+‖y‖²−2x·y;
    * kernels are fixed-pointed to [[MmdScale]] units before summation.
    *
    * Scale: both samples cap at the [[MmdN]] smallest vec_ids per
    * label (deterministic), so the three kernel blocks are ≤ MmdN²
    * broadcast-joined map-side evaluations — the documented bounded
    * correctness tier; at population scale the same statistic runs on
    * these caps as a SAMPLE estimate (MMD concentrates at O(1/√n)),
    * which is how production drift monitors run it anyway.
    */
  def embedMmd(spark: SparkSession, sfDir: String): DataFrame = {
    import VectorFunctions.floatDot
    // per-label sample selection via the bounded top-K AGGREGATE, not a
    // per-label window — a 2-value partition key would funnel each
    // label's whole corpus through one sorting task at scale, while the
    // partial top-K keeps every task's state at MmdN ids
    val sampleIds = graft.functions.TopKByScore.rows(
        Tables.embeddings(spark, sfDir).where(col("label").isin(0, 1)), Seq("label"),
        MmdN, -col("vec_id").cast("double"), col("vec_id"), lit(0L))
      .select(col("label"), col("id").as("vec_id"))
    val capped = Tables.embeddings(spark, sfDir)
      .join(broadcast(sampleIds.select("vec_id")), "vec_id")
      .select(col("vec_id"), col("label"), col("embedding"),
        floatDot(col("embedding"), col("embedding")).as("nsq"))
      .localCheckpoint() // three kernel blocks read it
    val x = capped.where(col("label") === 0)
    val y = capped.where(col("label") === 1)
    def kcol(a: String, b: String) =
      round(exp((lit(2.0) * floatDot(col(s"$a.embedding"), col(s"$b.embedding"))
        - col(s"$a.nsq") - col(s"$b.nsq")) / lit(64.0)) * MmdScale, 0)
        .cast("long")
    def block(l: DataFrame, r: DataFrame, same: Boolean, name: String) = {
      val j = if (same)
        l.as("a").join(broadcast(r.as("b")), col("a.vec_id") < col("b.vec_id"))
      else l.as("a").crossJoin(broadcast(r.as("b")))
      j.agg(sum(kcol("a", "b")).as(s"s_$name"), count(lit(1)).as(s"n_$name"))
    }
    val nx = x.agg(count(lit(1)).as("n_x"))
    val ny = y.agg(count(lit(1)).as("n_y"))
    block(x, x, same = true, "xx")
      .crossJoin(broadcast(block(y, y, same = true, "yy")))
      .crossJoin(broadcast(block(x, y, same = false, "xy")))
      .crossJoin(broadcast(nx)).crossJoin(broadcast(ny))
      .select(col("n_x"), col("n_y"),
        round(col("s_xx").cast("double") / col("n_xx") / MmdScale, 6).as("mean_kxx"),
        round(col("s_yy").cast("double") / col("n_yy") / MmdScale, 6).as("mean_kyy"),
        round(col("s_xy").cast("double") / col("n_xy") / MmdScale, 6).as("mean_kxy"),
        round((col("s_xx").cast("double") / col("n_xx")
          + col("s_yy").cast("double") / col("n_yy")
          - lit(2.0) * col("s_xy").cast("double") / col("n_xy")) / MmdScale, 6)
          .as("mmd2"))
  }

  val embedMmdSql: String = {
    val dot = VectorFunctions.duckDot("a.embedding", "b.embedding")
    s"""WITH capped AS MATERIALIZED (
       |  SELECT vec_id, label, embedding,
       |    ${VectorFunctions.duckDot("embedding", "embedding")} AS nsq
       |  FROM (
       |    SELECT vec_id, label, embedding,
       |      row_number() OVER (PARTITION BY label ORDER BY vec_id) AS crk
       |    FROM embeddings WHERE label IN (0, 1)
       |  ) WHERE crk <= $MmdN
       |), xx AS (
       |  SELECT sum(CAST(round(exp((2.0 * $dot - a.nsq - b.nsq) / 64.0) * $MmdScale)
       |    AS BIGINT))::BIGINT AS s_xx, count(*)::BIGINT AS n_xx
       |  FROM capped a JOIN capped b
       |    ON a.label = 0 AND b.label = 0 AND a.vec_id < b.vec_id
       |), yy AS (
       |  SELECT sum(CAST(round(exp((2.0 * $dot - a.nsq - b.nsq) / 64.0) * $MmdScale)
       |    AS BIGINT))::BIGINT AS s_yy, count(*)::BIGINT AS n_yy
       |  FROM capped a JOIN capped b
       |    ON a.label = 1 AND b.label = 1 AND a.vec_id < b.vec_id
       |), xy AS (
       |  SELECT sum(CAST(round(exp((2.0 * $dot - a.nsq - b.nsq) / 64.0) * $MmdScale)
       |    AS BIGINT))::BIGINT AS s_xy, count(*)::BIGINT AS n_xy
       |  FROM capped a JOIN capped b ON a.label = 0 AND b.label = 1
       |), ns AS (
       |  SELECT sum(CASE WHEN label = 0 THEN 1 ELSE 0 END)::BIGINT AS n_x,
       |    sum(CASE WHEN label = 1 THEN 1 ELSE 0 END)::BIGINT AS n_y
       |  FROM capped
       |)
       |SELECT n_x, n_y,
       |  round(s_xx::DOUBLE / n_xx / $MmdScale, 6) AS mean_kxx,
       |  round(s_yy::DOUBLE / n_yy / $MmdScale, 6) AS mean_kyy,
       |  round(s_xy::DOUBLE / n_xy / $MmdScale, 6) AS mean_kxy,
       |  round((s_xx::DOUBLE / n_xx + s_yy::DOUBLE / n_yy
       |    - 2.0 * s_xy::DOUBLE / n_xy) / $MmdScale, 6) AS mmd2
       |FROM xx, yy, xy, ns""".stripMargin
  }

  /** Corruption span length (characters — the fixture has no token
    * column; the machinery is identical either way). */
  val SpanLen = 20L
  /** Target corruption rate, percent of characters. */
  val MaskPct = 15L
  /** Hard per-doc span cap: bounds the explode fan-out regardless of
    * document length (a 1 GB outlier doc must not emit millions of
    * span rows into the window). */
  val MaxSpans = 64L
  /** Seed prefix for the engine-portable span-position hash. */
  val SpanSeed = "span42"
  /** Docs shorter than two spans are left uncorrupted (excluded). */
  val SpanMinChars: Long = 2 * SpanLen

  /** Span-corruption planning (the T5/UL2 denoising-objective prep):
    * for every document, place n = clamp(1, [[MaxSpans]],
    * n_chars·[[MaskPct]]% / [[SpanLen]]) deterministic mask spans of
    * [[SpanLen]] chars at hash-derived positions, merge overlapping/
    * touching spans into islands (the exact interval-union via the
    * sessionization idiom: running max-end → island flag → cumulative
    * island id), and audit the REALIZED corruption rate per source —
    * random placement overlaps, so realized masking always undershoots
    * the target and the training-data pipeline needs the audit before
    * fixing the objective's mask-rate constant.
    *
    * Everything is exact integers: positions come from the portable
    * h32(md5) hash mod the valid start range, islands are integer
    * intervals, and the rate is a basis-point floor-div — so the
    * oracle hash-matches bit-for-bit. Scale shape: per-doc fan-out is
    * ≤ [[MaxSpans]] rows (bounded explode), the merge window
    * partitions by doc_id (corpus-cardinality keys), and the final
    * aggregate is map-side combinable down to one row per source.
    */
  def spanCorruption(spark: SparkSession, sfDir: String): DataFrame =
    spanCorruptionFrom(
      Tables.documents(spark, sfDir).select(col("doc_id"), col("source"), col("n_chars")))

  /** Frame-parameterized core — the edge spec drives it with planted
    * boundary-length docs. Expects (doc_id, source, n_chars). */
  private[graft] def spanCorruptionFrom(docs: DataFrame): DataFrame = {
    val d = docs
      .where(col("n_chars") >= SpanMinChars)
      .withColumn("n_spans",
        least(lit(MaxSpans),
              greatest(lit(1L), expr(s"(n_chars * $MaskPct) div (100 * $SpanLen)"))))
    val spans = d
      .withColumn("k", explode(sequence(lit(0L), col("n_spans") - 1)))
      .withColumn("h", expr(
        s"cast(conv(substring(md5(concat('$SpanSeed:', cast(doc_id AS string), " +
          s"'-', cast(k AS string))), 1, 8), 16, 10) AS bigint)"))
      .withColumn("st", col("h") % (col("n_chars") - SpanLen + 1))
      .withColumn("en", col("st") + SpanLen)
    val wPrev = Window.partitionBy("doc_id").orderBy("st", "k")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wCum = Window.partitionBy("doc_id").orderBy("st", "k")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val islands = spans
      .withColumn("new_isl",
        when(col("st") > coalesce(max("en").over(wPrev), lit(-1L)), 1L).otherwise(0L))
      .withColumn("isl", sum("new_isl").over(wCum))
      .groupBy("doc_id", "source", "n_chars", "n_spans", "isl")
      .agg(min("st").as("mst"), max("en").as("men"))
    val perDoc = islands
      .groupBy("doc_id", "source", "n_chars", "n_spans")
      .agg(count(lit(1)).as("n_islands"), sum(col("men") - col("mst")).as("masked"))
    perDoc.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
           sum("n_spans").as("total_spans"),
           sum("n_islands").as("total_islands"),
           sum("masked").as("total_masked_chars"),
           expr("(sum(masked) * 10000) div sum(n_chars)").as("mask_rate_bp"))
      .orderBy("source")
  }

  /** Oracle: identical hash positions via a bounded numbers join
    * (k < n_spans ≤ [[MaxSpans]]) + the same interval-union windows. */
  val spanCorruptionSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, source, n_chars,
       |    least($MaxSpans, greatest(1, (n_chars * $MaskPct) // (100 * $SpanLen))) AS n_spans
       |  FROM documents WHERE n_chars >= $SpanMinChars
       |), nums AS (
       |  SELECT unnest(range($MaxSpans)) AS k
       |), spans AS (
       |  SELECT doc_id, source, n_chars, n_spans, k,
       |    ('0x' || substr(md5('$SpanSeed:' || doc_id || '-' || k), 1, 8))::BIGINT
       |      % (n_chars - $SpanLen + 1) AS st
       |  FROM d CROSS JOIN nums WHERE k < n_spans
       |), flagged AS (
       |  SELECT doc_id, source, n_chars, n_spans, st, st + $SpanLen AS en,
       |    CASE WHEN st > coalesce(max(st + $SpanLen) OVER (
       |      PARTITION BY doc_id ORDER BY st, k
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
       |    THEN 1 ELSE 0 END AS new_isl, k
       |  FROM spans
       |), islands AS (
       |  SELECT doc_id, source, n_chars, n_spans, isl,
       |    min(st) AS mst, max(en) AS men
       |  FROM (
       |    SELECT doc_id, source, n_chars, n_spans, st, en,
       |      sum(new_isl) OVER (PARTITION BY doc_id ORDER BY st, k
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
       |    FROM flagged
       |  ) GROUP BY doc_id, source, n_chars, n_spans, isl
       |), perdoc AS (
       |  SELECT doc_id, source, n_chars, n_spans,
       |    count(*) AS n_islands, sum(men - mst) AS masked
       |  FROM islands GROUP BY doc_id, source, n_chars, n_spans
       |)
       |SELECT source, count(*)::BIGINT AS n_docs,
       |  sum(n_spans)::BIGINT AS total_spans,
       |  sum(n_islands)::BIGINT AS total_islands,
       |  sum(masked)::BIGINT AS total_masked_chars,
       |  ((sum(masked) * 10000) // sum(n_chars))::BIGINT AS mask_rate_bp
       |FROM perdoc GROUP BY source
       |ORDER BY source""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_embed_mmd", embedMmd _, Some(embedMmdSql)),
    QuerySpec("q_span_corruption", spanCorruption _, Some(spanCorruptionSql)),
    QuerySpec("q_dpo_pairs", dpoPairs _, Some(dpoPairsSql)),
    QuerySpec("q_embed_pc1", embedPc1 _, Some(embedPc1Sql)),
    QuerySpec("q_kcenter_coreset", kcenterCoreset _, Some(kcenterCoresetSql)),
    QuerySpec("q_pq_adc", pqAdc _, Some(pqAdcSql)),
    QuerySpec("q_feature_hash", featureHash _, Some(featureHashSql)),
    QuerySpec("q_target_encode", targetEncode _, Some(targetEncodeSql)),
    QuerySpec("q_quantile_norm", quantileNorm _, Some(quantileNormSql)),
    QuerySpec("q_kmeans_embed", kmeansEmbed _, Some(kmeansEmbedSql)),
    QuerySpec("q_cluster_purity", clusterPurity _, Some(clusterPuritySql)),
    QuerySpec("q_cluster_validity", clusterValidity _, Some(clusterValiditySql)),
    QuerySpec("q_semantic_dedup", semanticDedup _, Some(semanticDedupSql)),
    QuerySpec("q_negative_sample", negativeSample _, Some(negativeSampleSql)),
    QuerySpec("q_negative_sample_pop", negativeSamplePop _, Some(negativeSamplePopSql)),
    QuerySpec("q_calibration_bins", calibrationBins _, Some(calibrationBinsSql)),
  )
}
