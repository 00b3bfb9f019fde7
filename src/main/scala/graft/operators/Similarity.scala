package graft.operators

import graft.{QueryFamily, QuerySpec, Tables}
import graft.functions.TopKByScore
import graft.sources.Sources
import org.apache.spark.ml.feature.BucketedRandomProjectionLSH
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Nearest-neighbour search over the embedding column (SURVEY.md §2.10
  * L3): exact brute-force cosine top-k against a broadcast query side
  * (the ground truth of every recall audit); IVF cell probe (the first
  * NCells vectors quantize, each query probes its NProbe nearest cells),
  * plain, filtered, composed with PQ/ADC + exact L2 re-rank, and served
  * from persisted tables that are built, grown, compacted and
  * tombstoned; recall audits by probe depth, re-rank depth, filter
  * buffer and ingest policy; within-cell hard negatives and mutual-kNN
  * graphs; MLlib and sign-random-projection LSH.
  *
  * Each search step is written once: [[cosAB]], [[bruteScored]],
  * [[centroidScored]], [[probeJoin]], [[exactL2]], [[cumulative]],
  * [[recallLedger]] and [[basisPoints]]; per-key top-K is
  * [[graft.functions.TopKByScore]]'s `windowRanked`, `ranked` or `rows`.
  *
  * All cosine math folds left-to-right in DOUBLE on both engines
  * (zip_with+aggregate ↔ list_reduce), so values are bit-identical and
  * rankings (on 6dp-rounded cosine + id tie-break) are engine-stable.
  */
object Similarity extends QueryFamily {

  /** Number of query vectors (lowest vec_ids). */
  val NQueries = 20
  /** Neighbors returned per query. */
  val K = 5
  /** IVF probe centroids: the first NCells vectors act as the coarse
    * quantizer — deterministic and engine-reproducible (a seeded KMeans
    * would be neither SQL-expressible nor cross-engine stable).
    */
  val NCells = 10

  /** Cells each QUERY probes (multi-probe IVF): the classic recall
    * lever — corpus vectors stay uniquely assigned (the index is
    * unchanged), queries fan out to their $NProbe nearest cells, so
    * candidates grow from ~N/cells to ~N·probe/cells while the true
    * neighbor only needs to land in ANY probed cell. Measured recall
    * vs the exact tier: 0.62 single-probe, 0.76 at 3/10 cells, 0.81
    * at 4/10 (the chosen point — past half the corpus the subset
    * search stops paying for itself); LlmPipelineSpec pins the floor.
    */
  val NProbe = 4

  /** Metadata predicate for the filtered-ANN tiers: neighbors must
    * carry this ground-truth label (~10% of the fixture corpus — a
    * selective predicate, the regime where the pre- vs post-filter
    * choice actually matters). Declared ahead of every SQL string
    * that interpolates it (object vals initialize in declaration
    * order — a later declaration would interpolate 0). */
  val FilterLabel = 7

  /** Widest post-filter buffer the recovery curve sweeps. */
  val FilterBufMax = 50

  import graft.functions.VectorFunctions.{floatDot, floatNorm}

  /** Codegen'd dot over the aliased join sides — identical fold order to
    * the DuckDB list_reduce oracle (see graft.functions.FloatDot).
    */
  private def dotAB: Column = floatDot(col("a.embedding"), col("b.embedding"))

  /** Cosine of join sides `a`/`b`, rounded to 6dp before any ranking
    * reads it, so both engines rank on the same digits (as every
    * oracle's `round(dot / (a.nrm * b.nrm), 6)` does). */
  private def cosAB: Column = round(dotAB / (col("a.nrm") * col("b.nrm")), 6)

  private def withNorm(df: DataFrame): DataFrame =
    df.withColumn("nrm", floatNorm(col("embedding")))

  /** `num` in basis points of `den`, 0 where `den` is 0 (an empty truth
    * set is a real input, and ANSI mode throws on a zero divisor). */
  private def basisPoints(num: String, den: String): Column =
    when(col(den) > 0, expr(s"($num * 10000) div $den")).otherwise(lit(0L))

  /** The exact scoring pass: the broadcast `vec_id < nQueries` rows of
    * `e` (normed) × `neighbours(e)`, self excluded, as (query_id,
    * neighbor_id, cos); the corpus streams past with no shuffle. */
  private def bruteScored(e: DataFrame, nQueries: Int,
      neighbours: DataFrame => DataFrame = identity): DataFrame = {
    val q = broadcast(e.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("embedding"), col("nrm")))
    q.as("a").join(neighbours(e).as("b"), col("a.qid") =!= col("b.vec_id"))
      .select(col("a.qid").as("query_id"), col("b.vec_id").as("neighbor_id"),
              cosAB.as("cos"))
  }

  /** Exact brute-force top-K cosine neighbors for the first $NQueries
    * vectors. The query side is tiny by construction → broadcast; the
    * corpus streams past it with zero shuffle before the per-query
    * top-K window.
    */
  def knnBruteForce(spark: SparkSession, sfDir: String): DataFrame =
    knnBruteFrom(Tables.embeddings(spark, sfDir), NQueries, K)

  /** Frame-parameterized exact tier — AnnScaleSpec runs it as ground
    * truth on a synthesized corpus far larger than the fixture. */
  private[graft] def knnBruteFrom(e0: DataFrame, nQueries: Int, k: Int): DataFrame =
    TopKByScore.windowRanked(bruteScored(withNorm(e0.select("vec_id", "embedding")), nQueries),
        "query_id", k, col("cos").desc, col("neighbor_id"))
      .select(col("query_id"), col("rk"), col("neighbor_id"), col("cos"))
      .orderBy("query_id", "rk")

  private val normDuck = graft.functions.VectorFunctions.duckNorm("embedding")
  private val dotDuck = graft.functions.VectorFunctions.duckDot("a.embedding", "b.embedding")

  val knnBruteForceSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, embedding, $normDuck AS nrm FROM embeddings
       |), scored AS (
       |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
       |    round($dotDuck / (a.nrm * b.nrm), 6) AS cos
       |  FROM e a JOIN e b ON a.vec_id < $NQueries AND a.vec_id <> b.vec_id
       |), ranked AS (
       |  SELECT query_id, neighbor_id, cos,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rk
       |  FROM scored
       |)
       |SELECT query_id, rk, neighbor_id, cos
       |FROM ranked WHERE rk <= $K
       |ORDER BY query_id, rk""".stripMargin

  /** IVF-style cell probe: assign every vector to its nearest of the
    * $NCells probe centroids (by cosine, deterministic tie-break), then
    * answer each query from its $NProbe nearest cells (multi-probe) —
    * candidates shrink from N to ~N·$NProbe/$NCells, and the reported
    * `cell` is the probed cell the neighbor lives in. Recall vs the
    * exact tier is measured in LlmPipelineSpec; the oracle checks the
    * pipeline itself.
    */
  def knnIvf(spark: SparkSession, sfDir: String): DataFrame =
    knnIvfFrom(Tables.embeddings(spark, sfDir), NCells, NProbe, NQueries, K)

  /** The candidate set of the cell-probe search (the scored join before
    * ranking) — exposed so AnnScaleSpec can COUNT candidates against
    * the brute-force pair space on a large synthesized corpus. */
  private[graft] def ivfScored(e0: DataFrame, nCells: Int, nProbe: Int,
                               nQueries: Int): DataFrame = {
    // the index: every corpus vector lives in exactly ONE cell,
    // assigned by the map-side argmax (no corpus-sized window)
    val assigned = cellAssignFrom(e0, nCells)
    // the probe list: each query fans out to its nProbe nearest cells
    // — the rank window runs over the nQueries × nCells QUERY subset,
    // never the corpus
    val probes = queryProbes(e0, nCells, nQueries).where(col("crk") <= nProbe)
      .select(col("vec_id").as("qid"), col("embedding"), col("nrm"), col("cid"))
    probeJoin(probes, assigned, probeCols = Seq(col("a.cid").as("cell")))
  }

  /** The IVF probe join: `probes` (qid, embedding, nrm, cid, …) ⋈ the
    * inverted `lists` (vec_id, embedding, nrm, cid, …) on `cid`, the
    * query itself excluded, as (query_id, `probeCols` of `a`,
    * neighbor_id, `listCols` of `b`, cos). A neighbour lives in one
    * cell, so it appears at most once per query. */
  private def probeJoin(probes: DataFrame, lists: DataFrame,
      probeCols: Seq[Column] = Nil, listCols: Seq[Column] = Nil): DataFrame =
    probes.as("a")
      .join(lists.as("b"), col("a.cid") === col("b.cid") && col("a.qid") =!= col("b.vec_id"))
      .select((col("a.qid").as("query_id") +: probeCols) ++
              (col("b.vec_id").as("neighbor_id") +: listCols) :+ cosAB.as("cos"): _*)

  /** Every (query, cell) scored and rank-ordered per query — the probe
    * preference list. The query subset is filtered BEFORE the centroid
    * join, so the frame is nQueries × nCells rows by construction (the
    * corpus never enters it) and the per-query rank window sorts
    * ≤ nCells rows per task.
    */
  private def queryProbes(e0: DataFrame, nCells: Int, nQueries: Int): DataFrame =
    queryProbesTo(e0, e0, nCells, nQueries)

  /** Probe list against a decoupled quantizer (see [[cellAssignTo]]). */
  private[graft] def queryProbesTo(e0: DataFrame, centSrc: DataFrame, nCells: Int,
                            nQueries: Int): DataFrame = {
    val wAssign = Window.partitionBy(col("vec_id")).orderBy(col("csim").desc, col("cid").asc)
    val e = withNorm(e0.select("vec_id", "embedding"))
    centroidScored(e.where(col("vec_id") < nQueries), centSrc, nCells)
      .withColumn("crk", row_number().over(wAssign))
  }

  /** `e` (vec_id, embedding, nrm) × the broadcast `vec_id < nCells`
    * centroids of `centSrc`, adding (cid, csim): the probe list ranks
    * it per query, the cell assignment takes its argmax per vector. */
  private def centroidScored(e: DataFrame, centSrc: DataFrame, nCells: Int): DataFrame = {
    val cents = broadcast(withNorm(centSrc.select("vec_id", "embedding"))
      .where(col("vec_id") < nCells)
      .select(col("vec_id").as("cid"), col("embedding"), col("nrm")))
    e.as("b").join(cents.as("a"))
      .select(col("b.vec_id").as("vec_id"), col("b.embedding").as("embedding"),
              col("b.nrm").as("nrm"), col("cid"), cosAB.as("csim"))
  }

  /** Frame-parameterized IVF tier: the scale test widens cells to
    * ~sqrt(N) (the standard IVF sizing) while the fixture query keeps
    * the oracle-pinned constants. */
  private[graft] def knnIvfFrom(e0: DataFrame, nCells: Int, nProbe: Int,
                                nQueries: Int, k: Int): DataFrame =
    rankIvf(ivfScored(e0, nCells, nProbe, nQueries), k)

  /** The top-K ranking over an [[ivfScored]] candidate frame — split
    * out so the scale spec can cache one candidate pass and reuse it
    * for both the volume count and the ranked answer. */
  private[graft] def rankIvf(scored: DataFrame, k: Int): DataFrame =
    TopKByScore.windowRanked(scored, "query_id", k, col("cos").desc, col("neighbor_id"))
      .select(col("query_id"), col("cell"), col("rk"), col("neighbor_id"), col("cos"))
      .orderBy("query_id", "rk")

  val knnIvfSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, embedding, $normDuck AS nrm FROM embeddings
       |), cellranked AS (
       |  SELECT b.vec_id, b.embedding, b.nrm, a.vec_id AS cid,
       |    row_number() OVER (PARTITION BY b.vec_id
       |      ORDER BY round($dotDuck / (a.nrm * b.nrm), 6) DESC, a.vec_id ASC) AS crk
       |  FROM e b JOIN e a ON a.vec_id < $NCells
       |), assigned AS (
       |  SELECT vec_id, embedding, nrm, cid FROM cellranked WHERE crk = 1
       |), probes AS (
       |  SELECT vec_id AS qid, embedding, nrm, cid FROM cellranked
       |  WHERE vec_id < $NQueries AND crk <= $NProbe
       |), scored AS (
       |  SELECT a.qid AS query_id, a.cid AS cell, b.vec_id AS neighbor_id,
       |    round($dotDuck / (a.nrm * b.nrm), 6) AS cos
       |  FROM probes a
       |  JOIN assigned b ON a.cid = b.cid AND a.qid <> b.vec_id
       |), ranked AS (
       |  SELECT query_id, cell, neighbor_id, cos,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rk
       |  FROM scored
       |)
       |SELECT query_id, cell, rk, neighbor_id, cos
       |FROM ranked WHERE rk <= $K
       |ORDER BY query_id, rk""".stripMargin

  /** The IVF tuning artifact: recall@[[K]] and candidate cost at EVERY
    * probe depth 1..[[NCells]] in one pass — the curve an ANN operator
    * reads to pick [[NProbe]] (the measured 0.62/0.76/0.81 ladder in
    * [[knnIvf]]'s scaladoc came from exactly this audit, run by hand;
    * this query makes it a first-class, oracle-checked output).
    * Ground truth needs no second scan: probing all [[NCells]] cells
    * IS the exact search, so the p = NCells row doubles as the truth
    * set and its recall is 10000 bp by construction — a built-in
    * self-check. Hits and basis points are exact integers.
    *
    * Scale shape (r8): candidates ride the same cell-equi-join as
    * [[knnIvf]], and the whole curve is O(candidates + nCells) — the
    * nested-candidate-set monotonicity (a full-probe top-K element is
    * never displaced at any smaller depth once its cell is probed)
    * turns both curve columns into cumulative sums of two ≤nCells-row
    * pn histograms; truth comes from one bounded TopKByScore pass.
    * The r7 explode-to-every-depth formulation paid O(candidates ×
    * nCells) rows and a per-(query, depth) window for the same
    * numbers. Like every recall audit here, at corpus scale it runs
    * over a hash-sampled query set (q_hash_sample gate).
    */
  def ivfRecallCurve(spark: SparkSession, sfDir: String): DataFrame =
    ivfRecallCurveFrom(Tables.embeddings(spark, sfDir), NCells, NQueries, K)

  private[graft] def ivfRecallCurveFrom(e0: DataFrame, nCells: Int,
                                        nQueries: Int, k: Int): DataFrame = {
    val assigned = cellAssignFrom(e0, nCells)
    val qpref = queryProbes(e0, nCells, nQueries)
      .select(col("vec_id").as("qid"), col("embedding"), col("nrm"),
              col("cid"), col("crk").as("pn"))
    val cand = probeJoin(qpref, assigned, probeCols = Seq(col("a.pn").as("pn")))
      .localCheckpoint() // read twice: truth top-K + the pn histogram
    // The r7 formulation exploded every candidate to all probe depths
    // >= its pn and ranked a top-K window PER (query, depth) —
    // O(candidates × nCells) rows for a curve that is O(candidates +
    // nCells): because the candidate sets are NESTED in p, a truth
    // element (top-K at FULL probe, i.e. fewer than k candidates beat
    // it overall) can never be displaced at any smaller p once its own
    // cell is probed — the monotonicity the r7s4 notes proved. So
    //   n_hits(p)       = #{truth t : pn_t <= p}   and
    //   n_candidates(p) = #{cand c  : pn_c <= p}
    // are cumulative sums of two pn histograms (<= nCells rows each),
    // accumulated over a generated probe spine by a broadcast
    // triangle join — no explode, no per-depth window, identical
    // output. Truth itself comes from the bounded TopKByScore
    // aggregate (same (cos DESC, neighbor_id ASC) order as the old
    // window), carrying pn through as the extra slot.
    val truth = TopKByScore.rows(cand, Seq("query_id"),
        k, col("cos"), col("neighbor_id"), col("pn").cast("long"))
      .select(col("extra").cast("int").as("pn"))
    val candHist = cand.groupBy("pn").agg(count(lit(1)).as("cnt"))
    val hitHist = truth.groupBy("pn").agg(count(lit(1)).as("hcnt"))
    val spine = e0.sparkSession.range(1, nCells + 1L)
      .select(col("id").cast("int").as("p"))
    val counts = spine.join(broadcast(candHist), col("pn") <= col("p"))
      .groupBy("p").agg(sum("cnt").as("n_candidates"))
    val hits = spine.join(broadcast(hitHist), col("pn") <= col("p"))
      .groupBy("p").agg(sum("hcnt").as("n_hits"))
    counts.join(hits, Seq("p"), "left")
      .select(col("p").cast("long").as("probe"), col("n_candidates"),
              coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      .withColumn("recall_bp", expr(s"(n_hits * 10000) div ${nQueries.toLong * k}"))
      .orderBy("probe")
  }

  val ivfRecallCurveSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, embedding, $normDuck AS nrm FROM embeddings
       |), cellranked AS MATERIALIZED (
       |  SELECT b.vec_id, b.embedding, b.nrm, a.vec_id AS cid,
       |    row_number() OVER (PARTITION BY b.vec_id
       |      ORDER BY round($dotDuck / (a.nrm * b.nrm), 6) DESC, a.vec_id ASC) AS crk
       |  FROM e b JOIN e a ON a.vec_id < $NCells
       |), assigned AS (
       |  SELECT vec_id, embedding, nrm, cid FROM cellranked WHERE crk = 1
       |), qpref AS (
       |  SELECT vec_id AS qid, embedding, nrm, cid, crk AS pn
       |  FROM cellranked WHERE vec_id < $NQueries
       |), cand AS (
       |  SELECT a.qid, a.pn, b.vec_id AS nid,
       |    round($dotDuck / (a.nrm * b.nrm), 6) AS cos
       |  FROM qpref a JOIN assigned b ON a.cid = b.cid AND a.qid <> b.vec_id
       |), nums AS (
       |  SELECT unnest(range(1, $NCells + 1)) AS p
       |), expanded AS MATERIALIZED (
       |  SELECT c.qid, n.p, c.nid, c.cos FROM cand c JOIN nums n ON c.pn <= n.p
       |), top AS MATERIALIZED (
       |  SELECT qid, p, nid FROM (
       |    SELECT qid, p, nid,
       |      row_number() OVER (PARTITION BY qid, p ORDER BY cos DESC, nid ASC) AS rk
       |    FROM expanded
       |  ) WHERE rk <= $K
       |), truth AS (
       |  SELECT qid, nid FROM top WHERE p = $NCells
       |), hits AS (
       |  SELECT t.p, count(*) AS n_hits
       |  FROM top t JOIN truth u ON t.qid = u.qid AND t.nid = u.nid
       |  GROUP BY t.p
       |), cc AS (
       |  SELECT p, count(*) AS n_candidates FROM expanded GROUP BY p
       |)
       |SELECT cc.p::BIGINT AS probe, cc.n_candidates,
       |  coalesce(h.n_hits, 0)::BIGINT AS n_hits,
       |  ((coalesce(h.n_hits, 0) * 10000) // ${NQueries.toLong * K})::BIGINT AS recall_bp
       |FROM cc LEFT JOIN hits h ON h.p = cc.p
       |ORDER BY probe""".stripMargin

  /** ADC shortlist depth the exact re-rank refines (the production
    * re-rank buffer: ~10× the final K). */
  val IvfPqRerank = 50

  /** Composed IVF→PQ retrieval — the 10⁹-vector production ANN shape
    * (Jégou et al., PAMI 2011) end to end, assembled from the two
    * already-oracle-backed halves: the IVF coarse quantizer shortlists
    * each query's [[NProbe]] nearest cells ([[knnIvf]]'s index), the
    * PQ/ADC layer scores ONLY the shortlist by M integer table lookups
    * ([[graft.operators.Training.pqAdc]]'s codes + LUT), and the exact
    * integer-L2 re-rank refines the ADC top-[[IvfPqRerank]] to the
    * final top-[[K]]. Output carries both distances and the ADC rank,
    * so the re-rank's promotions are auditable per row.
    *
    * Scale: this composition is exactly why both halves exist — at
    * 10⁹ vectors neither brute force (N·Q floats) nor flat ADC (N·M
    * lookups/query) survives alone. Candidates ride the IVF cell
    * equi-join (~N·probe/cells rows), the code table joins the
    * shortlist by vec_id (AQE broadcasts the bounded shortlist side),
    * LUT/codebooks broadcast, the per-query ADC top-R cut is the
    * bounded [[graft.functions.TopKByScore]] aggregate (a window here
    * would sort corpus-growing candidate partitions), and the exact
    * re-rank touches only Q·R·dims quantized rows. AnnScaleSpec runs
    * the composition at 10⁵ vectors/316 cells against exact-L2 ground
    * truth.
    */
  def ivfPq(spark: SparkSession, sfDir: String): DataFrame = {
    val e0 = Tables.embeddings(spark, sfDir)
    ivfPqFrom(e0, Training.pqSub(spark, sfDir),
      Training.pqCodebooks(spark, sfDir), NCells, NProbe, NQueries,
      IvfPqRerank, K, codesOpt = Some(Training.pqCodes(spark, sfDir)))
  }

  /** The IVF shortlist scored by ADC — (query_id, neighbor_id,
    * adc_dist_units) — shared by the retrieval ([[ivfPqFrom]]) and
    * its re-rank-depth tuning audit ([[ivfPqRerankCurveFrom]]).
    * `e0` = raw embeddings (IVF side), `es` = quantized (vec_id, pos,
    * sub, q) rows, `cent` = trained PQ codebooks for `es`; the
    * registry path passes the memoized code table via `codesOpt`. */
  private def ivfPqAdcFrom(e0: DataFrame, es: DataFrame, cent: DataFrame,
      nCells: Int, nProbe: Int, nQueries: Int,
      codesOpt: Option[DataFrame], labelOpt: Option[Int] = None,
      assignedOpt: Option[DataFrame] = None,
      centSrcOpt: Option[DataFrame] = None): DataFrame = {
    // the serve tier passes the PERSISTED index tables: cell
    // assignments (assignedOpt) and the coarse-quantizer centroid
    // table (centSrcOpt) come from the reloaded catalog instead of
    // being rebuilt from the corpus
    val a0 = assignedOpt
      .map(_.select(col("vec_id").as("neighbor_id"), col("cid")))
      .getOrElse(cellAssignFrom(e0, nCells)
        .select(col("vec_id").as("neighbor_id"), col("cid")))
    // filtered serving: the predicate prunes the inverted lists BEFORE
    // the ADC pass — the pre-filter strategy q_knn_filtered proved out,
    // composed into the production IVF→PQ shape
    val assigned = labelOpt match {
      case Some(l) => a0.join(
        e0.where(col("label") === l).select(col("vec_id").as("neighbor_id")),
        "neighbor_id")
      case None => a0
    }
    val probes = queryProbesTo(e0, centSrcOpt.getOrElse(e0), nCells, nQueries)
      .where(col("crk") <= nProbe)
      .select(col("vec_id").as("query_id"), col("cid"))
    val shortlist = probes.join(assigned, "cid")
      .where(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id")
    val codes = codesOpt.getOrElse(Training.pqCodesOf(es, cent))
    val lut = Training.pqLutOf(es, cent, nQueries)
    shortlist
      .join(codes.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
      .join(broadcast(lut), Seq("query_id", "sub", "cluster"))
      .groupBy("query_id", "neighbor_id")
      .agg(sum("d").as("adc_dist_units"))
  }

  private[graft] def ivfPqFrom(e0: DataFrame, es: DataFrame, cent: DataFrame,
      nCells: Int, nProbe: Int, nQueries: Int, rerank: Int, k: Int,
      codesOpt: Option[DataFrame] = None,
      labelOpt: Option[Int] = None,
      assignedOpt: Option[DataFrame] = None,
      centSrcOpt: Option[DataFrame] = None): DataFrame = {
    val adc = ivfPqAdcFrom(e0, es, cent, nCells, nProbe, nQueries, codesOpt,
      labelOpt, assignedOpt, centSrcOpt)
    // ADC top-R per query via the bounded aggregate: score = −dist
    // (TopKByScore keeps (score DESC, id ASC) = (dist ASC, id ASC),
    // the oracle's row_number order); dist ≤ dims·(2·KmScale)² ≈
    // 2.6e8 ≪ 2⁵³, so the double negation is exact
    val shortTop = TopKByScore.ranked(adc, Seq("query_id"), rerank,
        -col("adc_dist_units").cast("double"), col("neighbor_id"), col("adc_dist_units"))
      .select(col("query_id"), col("rk").as("adc_rk"),
        col("id").as("neighbor_id"), col("extra").as("adc_dist_units"))
    val exact = exactL2(shortTop, es, nQueries, "adc_rk", "adc_dist_units")
    TopKByScore.windowRanked(exact, "query_id", k, col("exact_dist_units").asc, col("neighbor_id"))
      .select("query_id", "rk", "neighbor_id", "adc_rk", "adc_dist_units",
        "exact_dist_units")
      .orderBy("query_id", "rk")
  }

  /** Exact integer L2 (`exact_dist_units`) of each (query_id,
    * neighbor_id) in `pairs` over quantized rows `es`, the query rows
    * broadcast; `carry` names further `pairs` columns to keep. */
  private def exactL2(pairs: DataFrame, es: DataFrame, nQueries: Int,
      carry: String*): DataFrame =
    pairs
      .join(es.select(col("vec_id").as("neighbor_id"), col("pos"),
        col("q").as("nq")), "neighbor_id")
      .join(broadcast(es.where(col("vec_id") < nQueries)
          .select(col("vec_id").as("query_id"), col("pos"), col("q").as("qq"))),
        Seq("query_id", "pos"))
      .groupBy("query_id", "neighbor_id" +: carry: _*)
      .agg(sum((col("nq") - col("qq")) * (col("nq") - col("qq"))).as("exact_dist_units"))

  /** Oracle: the knnIvf cell CTEs + the shared PQ-training chain +
    * shortlist-scoped ADC + the two-stage re-rank, all exact
    * integers past the 6dp cell ranking. `shortlistFilter` splices a
    * metadata predicate into the shortlist join (the filtered-serving
    * variant); empty for the unfiltered tier. */
  private def mkIvfPqSql(shortlistFilter: String, centRestrict: String = "",
      trainCtes: String = Training.pqTrainCtes,
      cbName: String = Training.pqFinalCb): String =
    s"""WITH ef AS MATERIALIZED (
       |  SELECT vec_id, embedding, $normDuck AS nrm FROM embeddings
       |), cellranked AS MATERIALIZED (
       |  SELECT b.vec_id, a.vec_id AS cid,
       |    row_number() OVER (PARTITION BY b.vec_id
       |      ORDER BY round($dotDuck / (a.nrm * b.nrm), 6) DESC, a.vec_id ASC) AS crk
       |  FROM ef b JOIN ef a ON a.vec_id < $NCells$centRestrict
       |), assigned AS (
       |  SELECT vec_id, cid FROM cellranked WHERE crk = 1
       |), probes AS (
       |  SELECT vec_id AS query_id, cid FROM cellranked
       |  WHERE vec_id < $NQueries AND crk <= $NProbe
       |), shortlist AS MATERIALIZED (
       |  SELECT p.query_id, b.vec_id AS neighbor_id
       |  FROM probes p JOIN assigned b ON p.cid = b.cid AND p.query_id <> b.vec_id$shortlistFilter
       |), $trainCtes, lut AS MATERIALIZED (
       |  SELECT e.vec_id AS query_id, c.sub, c.cluster,
       |    sum((e.q - c.c) * (e.q - c.c))::BIGINT AS d
       |  FROM e JOIN $cbName c ON c.sub = e.sub AND c.pos = e.pos
       |  WHERE e.vec_id < $NQueries
       |  GROUP BY 1, 2, 3
       |), adc AS MATERIALIZED (
       |  SELECT s.query_id, s.neighbor_id, sum(l.d)::BIGINT AS adc_dist_units
       |  FROM shortlist s
       |  JOIN codes cd ON cd.vec_id = s.neighbor_id
       |  JOIN lut l ON l.query_id = s.query_id
       |    AND l.sub = cd.sub AND l.cluster = cd.cluster
       |  GROUP BY 1, 2
       |), shorttop AS MATERIALIZED (
       |  SELECT query_id, neighbor_id, adc_dist_units, adc_rk FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |      ORDER BY adc_dist_units ASC, neighbor_id ASC) AS adc_rk
       |    FROM adc) WHERE adc_rk <= $IvfPqRerank
       |), exact AS (
       |  SELECT st.query_id, st.neighbor_id, st.adc_rk, st.adc_dist_units,
       |    sum((en.q - eq.q) * (en.q - eq.q))::BIGINT AS exact_dist_units
       |  FROM shorttop st
       |  JOIN e en ON en.vec_id = st.neighbor_id
       |  JOIN e eq ON eq.vec_id = st.query_id AND eq.pos = en.pos
       |  GROUP BY 1, 2, 3, 4
       |)
       |SELECT query_id, rk, neighbor_id, adc_rk, adc_dist_units, exact_dist_units
       |FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY exact_dist_units ASC, neighbor_id ASC) AS rk
       |  FROM exact)
       |WHERE rk <= $K
       |ORDER BY query_id, rk""".stripMargin

  val ivfPqSql: String = mkIvfPqSql("")

  /** Filtered serving through the FULL composed tier — [[knnFiltered]]
    * proved pre-filtering is the strategy (post-filtering craters);
    * this composes that winning strategy into the production IVF→PQ
    * shape end to end: the predicate prunes the inverted lists, the
    * ADC scores ONLY matching candidates (selectivity × the usual
    * shortlist — the filter makes the expensive stage CHEAPER, the
    * opposite of post-filtering's wasted work), and the exact re-rank
    * runs on the surviving buffer. Same output contract as [[ivfPq]];
    * every returned neighbor satisfies the predicate by construction.
    */
  def ivfPqFiltered(spark: SparkSession, sfDir: String): DataFrame = {
    val e0 = Tables.embeddings(spark, sfDir)
    ivfPqFrom(e0, Training.pqSub(spark, sfDir),
      Training.pqCodebooks(spark, sfDir), NCells, NProbe, NQueries,
      IvfPqRerank, K, codesOpt = Some(Training.pqCodes(spark, sfDir)),
      labelOpt = Some(FilterLabel))
  }

  val ivfPqFilteredSql: String = mkIvfPqSql(
    s" AND b.vec_id IN (SELECT vec_id FROM embeddings WHERE label = $FilterLabel)")

  /** The five persisted artifacts of the composed IVF→PQ index,
    * reloaded from the catalog: inverted-list cell assignments, the
    * coarse-quantizer centroid table, the PQ codebooks, the PQ code
    * table, and the quantized vectors the exact re-rank reads. */
  private case class ServeIndex(cells: DataFrame, centroids: DataFrame,
      codebooks: DataFrame, codes: DataFrame, vectorsQ: DataFrame)

  /** Catalog names, unique + deterministic per fixture dir (the same
    * session may serve several SFs). */
  private[graft] def serveTableNames(sfDir: String): Map[String, String] =
    Seq("cells", "centroids", "codebooks", "codes", "vectors_q")
      .map(n => n -> Sources.serveName(s"ivf_$n", sfDir)).toMap

  /** Build-once: write the index artifacts as EXTERNAL catalog tables
    * through [[graft.sources.Sources.publish]] (a warehouse-rooted
    * location with a fresh nonce per build, the previous build retired
    * — no stale-data aliasing across sessions or JVMs; a production
    * deployment points the location at its index volume instead). The
    * corpus-sized tables are BUCKETED on their serve-side join keys —
    * inverted lists by cell, codes and quantized vectors by vec_id — so
    * at 10⁹ vectors a probe reads only matching buckets and the
    * shortlist joins co-locate without reshuffling the corpus. Guarded
    * by [[graft.QueryCache.once]], so the write happens once per
    * (session, sfDir) and the serve query pays only the reads.
    */
  private[graft] def ensureServeIndex(spark: SparkSession, sfDir: String): Unit =
    graft.QueryCache.once(spark, s"ivf_serve_written:$sfDir") {
      val names = serveTableNames(sfDir)
      val e0 = Tables.embeddings(spark, sfDir)
      Sources.publish(cellAssignFrom(e0, NCells).select("vec_id", "cid"),
        names("cells"), Seq("cid"), 8, Seq("cid"))
      Sources.publish(e0.where(col("vec_id") < NCells).select("vec_id", "embedding"),
        names("centroids"))
      Sources.publish(Training.pqCodebooks(spark, sfDir), names("codebooks"))
      Sources.publish(Training.pqCodes(spark, sfDir),
        names("codes"), Seq("vec_id"), 8, Seq("vec_id"))
      Sources.publish(Training.pqSub(spark, sfDir),
        names("vectors_q"), Seq("vec_id"), 8, Seq("vec_id"))
    }

  private def serveIndex(spark: SparkSession, sfDir: String): ServeIndex = {
    ensureServeIndex(spark, sfDir)
    val names = serveTableNames(sfDir)
    ServeIndex(spark.table(names("cells")), spark.table(names("centroids")),
      spark.table(names("codebooks")), spark.table(names("codes")),
      spark.table(names("vectors_q")))
  }

  /** Serve the composed IVF→PQ retrieval from the PERSISTED index —
    * the build-once/serve-many leg a 10⁹-vector deployment runs for
    * months: [[ensureServeIndex]] writes the cell assignments,
    * centroids, PQ codebooks, code table and quantized vectors as
    * bucketed external catalog tables, and THIS query answers
    * [[ivfPq]]'s exact retrieval reading ONLY those reloaded tables
    * (plus the raw query vectors, which at serve time arrive fresh).
    * Output is row-identical to the in-session build by construction
    * — parquet round-trips every artifact losslessly (longs + float
    * arrays) — and the shared [[ivfPqSql]] oracle pins it at 3 SFs;
    * ServeIndexSpec proves reload causes ZERO re-assignment and that
    * a fresh session reads the same index.
    *
    * Scale: the session-memoized index ([[graft.QueryCache]]) has the
    * wrong lifetime for a real deployment — an index is built once
    * and served by many later jobs. This is that path: cells are
    * bucketed by cid (a probe reads only its inverted lists), codes
    * and quantized vectors by vec_id (the shortlist joins co-locate),
    * and nothing in the serve plan rebuilds or reshuffles the corpus.
    */
  def ivfServe(spark: SparkSession, sfDir: String): DataFrame = {
    val ix = serveIndex(spark, sfDir)
    ivfPqFrom(Tables.embeddings(spark, sfDir), ix.vectorsQ, ix.codebooks,
      NCells, NProbe, NQueries, IvfPqRerank, K,
      codesOpt = Some(ix.codes), assignedOpt = Some(ix.cells),
      centSrcOpt = Some(ix.centroids))
  }

  /** Identical contract to [[ivfPqSql]]: serving from the reloaded
    * index must be indistinguishable from the in-session build. */
  val ivfServeSql: String = ivfPqSql

  /** FILTERED serving from the PERSISTED index — the per-request shape
    * of a production retrieval API (r11 verdict #3): compose
    * [[ivfPqFiltered]]'s pre-filter strategy (the predicate prunes the
    * inverted lists BEFORE the ADC pass, so the filter makes the
    * expensive stage cheaper) with [[ivfServe]]'s reloaded catalog
    * index. Every index artifact comes from the persisted tables; the
    * raw corpus is read only for the query vectors and the label
    * predicate (at deployment the label column lives in a persisted
    * attribute table keyed by vec_id — same join shape). Output is
    * row-identical to the in-session filtered build, so the shared
    * [[ivfPqFilteredSql]] oracle pins it.
    */
  def ivfServeFiltered(spark: SparkSession, sfDir: String): DataFrame = {
    val ix = serveIndex(spark, sfDir)
    ivfPqFrom(Tables.embeddings(spark, sfDir), ix.vectorsQ, ix.codebooks,
      NCells, NProbe, NQueries, IvfPqRerank, K,
      codesOpt = Some(ix.codes), labelOpt = Some(FilterLabel),
      assignedOpt = Some(ix.cells), centSrcOpt = Some(ix.centroids))
  }

  /** Identical contract to [[ivfPqFilteredSql]]: the reloaded index
    * must serve the filtered request indistinguishably. */
  val ivfServeFilteredSql: String = ivfPqFilteredSql

  /** Re-rank-depth tuning audit for [[ivfPq]] — the knob the composed
    * tier turns the way [[ivfRecallCurve]] turns probe depth: recall
    * of the exact-re-ranked top-[[K]] at EVERY ADC depth R = 1..
    * [[IvfPqRerank]], against the exact top-K of the FULL shortlist.
    * The same nested-candidate monotonicity applies: a truth element
    * (exact top-K among all shortlist candidates — fewer than K beat
    * it anywhere) is never displaced from the exact top-K of any
    * ADC-top-R set containing it, so hits(R) = #{truth t : adc_rk_t ≤
    * R} — one cumulative histogram, no per-depth re-rank.
    *
    * Scale: one exact-distance pass over the shortlist (the audit's
    * cost, same class as the probe curve's candidate pass; at corpus
    * scale it runs over a hash-sampled query set), truth from the
    * bounded TopKByScore aggregate, and each truth member's ADC rank
    * from a broadcast theta join against the K·Q-row truth side —
    * never a corpus-growing rank window. The curve itself is ≤
    * [[IvfPqRerank]] rows off two broadcast histograms.
    */
  def ivfPqRerankCurve(spark: SparkSession, sfDir: String): DataFrame = {
    val e0 = Tables.embeddings(spark, sfDir)
    ivfPqRerankCurveFrom(e0, Training.pqSub(spark, sfDir),
      Training.pqCodebooks(spark, sfDir), NCells, NProbe, NQueries,
      IvfPqRerank, K, codesOpt = Some(Training.pqCodes(spark, sfDir)))
  }

  private[graft] def ivfPqRerankCurveFrom(e0: DataFrame, es: DataFrame,
      cent: DataFrame, nCells: Int, nProbe: Int, nQueries: Int, rerank: Int,
      k: Int, codesOpt: Option[DataFrame] = None): DataFrame = {
    val adc = ivfPqAdcFrom(e0, es, cent, nCells, nProbe, nQueries, codesOpt)
      .localCheckpoint() // three consumers: exact pass, truth attach, rank join
    val exactAll = exactL2(adc.select("query_id", "neighbor_id"), es, nQueries)
    val truth = TopKByScore.rows(exactAll, Seq("query_id"), k,
        -col("exact_dist_units").cast("double"), col("neighbor_id"), lit(0L))
      .select(col("query_id"), col("id").as("neighbor_id"))
    val truthAdc = adc.join(broadcast(truth), Seq("query_id", "neighbor_id"))
      .select(col("query_id").as("t_qid"), col("neighbor_id").as("t_nid"),
        col("adc_dist_units").as("t_adc"))
    // ADC rank of a truth member = candidates at-or-before it under
    // (adc ASC, nid ASC); (adc, nid) is unique per query so the count
    // equals the oracle's row_number
    val ranks = adc.join(broadcast(truthAdc),
        col("query_id") === col("t_qid") &&
        (col("adc_dist_units") < col("t_adc") ||
         (col("adc_dist_units") === col("t_adc") &&
          col("neighbor_id") <= col("t_nid"))))
      .groupBy("t_qid", "t_nid")
      .agg(count(lit(1)).as("adc_rk"))
    val hist = ranks.where(col("adc_rk") <= rerank)
      .groupBy("adc_rk").agg(count(lit(1)).as("hcnt"))
    cumulative(hist, "adc_rk", "hcnt", rerank, "rerank", "n_hits")
      .withColumn("recall_bp", expr(s"(n_hits * 10000) div ${nQueries.toLong * k}"))
      .orderBy("rerank")
  }

  /** Cumulative depth curve: per `depth` 1..`n`, the sum of the
    * broadcast histogram's `cnt` over `rank <= depth` as `out` (0 where
    * none). */
  private def cumulative(hist: DataFrame, rank: String, cnt: String,
      n: Int, depth: String, out: String): DataFrame =
    hist.sparkSession.range(1, n + 1L).select(col("id").as(depth))
      .join(broadcast(hist), col(rank) <= col(depth), "left")
      .groupBy(depth)
      .agg(coalesce(sum(cnt), lit(0L)).as(out))

  /** Oracle: the composed chain's CTEs + window-rank formulations of
    * the same truth/rank/cumulative-histogram pipeline. */
  val ivfPqRerankCurveSql: String =
    s"""WITH ef AS MATERIALIZED (
       |  SELECT vec_id, embedding, $normDuck AS nrm FROM embeddings
       |), cellranked AS MATERIALIZED (
       |  SELECT b.vec_id, a.vec_id AS cid,
       |    row_number() OVER (PARTITION BY b.vec_id
       |      ORDER BY round($dotDuck / (a.nrm * b.nrm), 6) DESC, a.vec_id ASC) AS crk
       |  FROM ef b JOIN ef a ON a.vec_id < $NCells
       |), assigned AS (
       |  SELECT vec_id, cid FROM cellranked WHERE crk = 1
       |), probes AS (
       |  SELECT vec_id AS query_id, cid FROM cellranked
       |  WHERE vec_id < $NQueries AND crk <= $NProbe
       |), shortlist AS MATERIALIZED (
       |  SELECT p.query_id, b.vec_id AS neighbor_id
       |  FROM probes p JOIN assigned b ON p.cid = b.cid AND p.query_id <> b.vec_id
       |), ${Training.pqTrainCtes}, lut AS MATERIALIZED (
       |  SELECT e.vec_id AS query_id, c.sub, c.cluster,
       |    sum((e.q - c.c) * (e.q - c.c))::BIGINT AS d
       |  FROM e JOIN ${Training.pqFinalCb} c ON c.sub = e.sub AND c.pos = e.pos
       |  WHERE e.vec_id < $NQueries
       |  GROUP BY 1, 2, 3
       |), adc AS MATERIALIZED (
       |  SELECT s.query_id, s.neighbor_id, sum(l.d)::BIGINT AS adc_dist_units
       |  FROM shortlist s
       |  JOIN codes cd ON cd.vec_id = s.neighbor_id
       |  JOIN lut l ON l.query_id = s.query_id
       |    AND l.sub = cd.sub AND l.cluster = cd.cluster
       |  GROUP BY 1, 2
       |), exactall AS MATERIALIZED (
       |  SELECT s.query_id, s.neighbor_id,
       |    sum((en.q - eq.q) * (en.q - eq.q))::BIGINT AS exact_dist_units
       |  FROM shortlist s
       |  JOIN e en ON en.vec_id = s.neighbor_id
       |  JOIN e eq ON eq.vec_id = s.query_id AND eq.pos = en.pos
       |  GROUP BY 1, 2
       |), truth AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id, row_number() OVER (PARTITION BY query_id
       |      ORDER BY exact_dist_units ASC, neighbor_id ASC) AS xrk
       |    FROM exactall) WHERE xrk <= $K
       |), adcranked AS (
       |  SELECT query_id, neighbor_id, row_number() OVER (PARTITION BY query_id
       |    ORDER BY adc_dist_units ASC, neighbor_id ASC) AS adc_rk
       |  FROM adc
       |), thr AS MATERIALIZED (
       |  SELECT a.query_id, a.adc_rk FROM adcranked a
       |  JOIN truth t ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
       |), nums AS (SELECT unnest(range(1, $IvfPqRerank + 1)) AS rerank)
       |SELECT n.rerank::BIGINT AS rerank,
       |  count(t.adc_rk)::BIGINT AS n_hits,
       |  ((count(t.adc_rk) * 10000) // ${NQueries.toLong * K})::BIGINT AS recall_bp
       |FROM nums n LEFT JOIN thr t ON t.adc_rk <= n.rerank
       |GROUP BY n.rerank
       |ORDER BY rerank""".stripMargin

  /** Filtered ANN — "top-[[K]] neighbors WHERE label = [[FilterLabel]]",
    * the first operational knob a user of [[ivfPq]] reaches for — with
    * BOTH production strategies side by side, per query:
    *
    *   - `pre`:  the predicate is applied to the inverted lists BEFORE
    *     scoring (filter → search). Candidates shrink to the matching
    *     subset of the probed cells; recall stays at the IVF tier's
    *     level because the top-K is taken among matching vectors only.
    *   - `post`: the classic trap — search → filter. The UNfiltered
    *     top-[[K]] shortlist is retrieved first and the predicate
    *     applied after; under a selective predicate most of the
    *     shortlist dies and recall craters (the measured gap this
    *     query exists to expose; [[knnFilteredCurve]] measures the
    *     buffer-widening recovery).
    *
    * Output per (mode, query): candidates scored, results surviving,
    * hits against the FILTERED brute-force truth (exact top-K among
    * all label-matching vectors), and per-query recall in basis
    * points (exact integers; denominator = min(K, matching corpus)).
    *
    * Scale: the index is FROZEN (cells from the full corpus — a
    * predicate never re-clusters a 10⁹-vector index); the pre path is
    * the cell equi-join with the predicate pushed into the probed
    * lists (~N·probe·sel/cells rows), the post path is [[knnIvf]]'s
    * candidate set; both top-Ks ride the bounded
    * [[graft.functions.TopKByScore]] aggregate, and the truth pass is
    * the audit's inherent selectivity·N·Q cost (at corpus scale it
    * runs over a hash-sampled query set, like every recall audit
    * here). The K·Q-row truth set broadcasts to flag hits.
    */
  def knnFiltered(spark: SparkSession, sfDir: String): DataFrame =
    knnFilteredFrom(Tables.embeddings(spark, sfDir), NCells, NProbe,
      NQueries, K, FilterLabel,
      candOpt = Some(filteredCand(spark, sfDir)),
      truthOpt = Some(filteredTruth(spark, sfDir)))

  /** Memoized labeled IVF candidate set — shared by [[knnFiltered]]
    * and [[knnFilteredCurve]] (same probes, same cells, same scoring
    * pass). */
  private[graft] def filteredCand(spark: SparkSession, sfDir: String): DataFrame =
    graft.QueryCache.memo(spark, s"filtered_ann_cand:$sfDir") {
      filteredCandFrom(Tables.embeddings(spark, sfDir), NCells, NProbe, NQueries)
        .localCheckpoint()
    }

  /** Memoized filtered brute-force truth (per query: match count +
    * exact top-[[K]] among label-matching vectors) — shared ground
    * truth for both filtered-ANN queries. */
  private[graft] def filteredTruth(spark: SparkSession, sfDir: String): DataFrame =
    graft.QueryCache.memo(spark, s"filtered_ann_truth:$sfDir") {
      filteredTruthFrom(Tables.embeddings(spark, sfDir), NQueries, K, FilterLabel)
        .localCheckpoint()
    }

  /** The labeled candidate set of the filtered search: [[ivfScored]]'s
    * cell equi-join with each neighbor's label carried through (one
    * co-keyed vec_id join re-attaches metadata — at scale exactly the
    * shuffle you want, and AQE broadcasts the slim side when small). */
  private[graft] def filteredCandFrom(e0: DataFrame, nCells: Int, nProbe: Int,
                                      nQueries: Int): DataFrame = {
    val assigned = cellAssignFrom(e0, nCells)
      .join(e0.select(col("vec_id"), col("label")), "vec_id")
    val probes = queryProbes(e0, nCells, nQueries).where(col("crk") <= nProbe)
      .select(col("vec_id").as("qid"), col("embedding"), col("nrm"), col("cid"))
    probeJoin(probes, assigned, listCols = Seq(col("b.label").as("label")))
  }

  /** Exact filtered ground truth, one row per query: n_match
    * label-matching corpus vectors (self excluded) + the bounded
    * top-[[K]] among them (the [[knnBruteFrom]] shape restricted to
    * the predicate — tiny query side broadcasts, matching corpus
    * streams past it). */
  private[graft] def filteredTruthFrom(e0: DataFrame, nQueries: Int, k: Int,
                                       label: Int): DataFrame = {
    bruteScored(withNorm(e0.select("vec_id", "embedding", "label")), nQueries,
        _.where(col("label") === label))
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_match"),
           TopKByScore.topK(
             k, col("cos"), col("neighbor_id"), lit(0L)).as("tk"))
      .withColumn("n_truth", least(lit(k.toLong), col("n_match")))
  }

  private[graft] def knnFilteredFrom(e0: DataFrame, nCells: Int, nProbe: Int,
      nQueries: Int, k: Int, label: Int,
      candOpt: Option[DataFrame] = None,
      truthOpt: Option[DataFrame] = None): DataFrame = {
    val cand = candOpt.getOrElse(
      filteredCandFrom(e0, nCells, nProbe, nQueries).localCheckpoint())
    val truthAgg = truthOpt.getOrElse(filteredTruthFrom(e0, nQueries, k, label))
    val truthSet = truthAgg.select(col("query_id"), explode(col("tk")).as("t"))
      .select(col("query_id"), col("t.id").as("neighbor_id"), lit(1L).as("hit"))
    // pre: predicate pushed into the candidate lists, THEN top-K —
    // count + bounded top-K in ONE aggregate pass
    val pre = cand.where(col("label") === label)
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_scored"),
           TopKByScore.topK(
             k, col("cos"), col("neighbor_id"), lit(0L)).as("tk"))
    val preOut = pre.select(col("query_id"), col("n_scored"), explode(col("tk")).as("t"))
      .select(col("query_id"), col("n_scored"), col("t.id").as("neighbor_id"))
      .join(broadcast(truthSet), Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id", "n_scored")
      .agg(count(lit(1)).as("n_results"),
           sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
      .withColumn("mode", lit("pre"))
    // post: UNfiltered top-K first (label rides TopKByScore's extra
    // slot), predicate applied to the survivors after
    val post = cand.groupBy("query_id")
      .agg(count(lit(1)).as("n_scored"),
           TopKByScore.topK(
             k, col("cos"), col("neighbor_id"), col("label").cast("long")).as("tk"))
    val postOut = post.select(col("query_id"), col("n_scored"), explode(col("tk")).as("t"))
      .select(col("query_id"), col("n_scored"), col("t.id").as("neighbor_id"),
              (col("t.extra") === label).cast("long").as("keep"))
      .join(broadcast(truthSet), Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id", "n_scored")
      .agg(sum(col("keep")).as("n_results"),
           sum(col("keep") * coalesce(col("hit"), lit(0L))).as("n_hits"))
      .withColumn("mode", lit("post"))
    // (mode × query) spine so a query with ZERO matching candidates
    // (or zero surviving results) still emits its row
    val qSpine = e0.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"))
      .join(truthAgg.select("query_id", "n_truth"), Seq("query_id"), "left")
      .na.fill(0L, Seq("n_truth"))
    qSpine.withColumn("mode", lit("pre"))
      .unionByName(qSpine.withColumn("mode", lit("post")))
      .join(preOut.unionByName(postOut), Seq("mode", "query_id"), "left")
      .select(col("mode"), col("query_id"), col("n_truth"),
              coalesce(col("n_scored"), lit(0L)).as("n_scored"),
              coalesce(col("n_results"), lit(0L)).as("n_results"),
              coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      .withColumn("recall_bp", basisPoints("n_hits", "n_truth"))
      .orderBy("mode", "query_id")
  }

  /** Shared oracle CTE prefix: labeled cell ranking + assignment +
    * probes + the labeled candidate set + the filtered truth. */
  private def filteredCtes: String =
    s"""e AS (
       |  SELECT vec_id, embedding, label, $normDuck AS nrm FROM embeddings
       |), cellranked AS MATERIALIZED (
       |  SELECT b.vec_id, b.embedding, b.nrm, b.label, a.vec_id AS cid,
       |    row_number() OVER (PARTITION BY b.vec_id
       |      ORDER BY round($dotDuck / (a.nrm * b.nrm), 6) DESC, a.vec_id ASC) AS crk
       |  FROM e b JOIN e a ON a.vec_id < $NCells
       |), assigned AS (
       |  SELECT vec_id, embedding, nrm, label, cid FROM cellranked WHERE crk = 1
       |), probes AS (
       |  SELECT vec_id AS qid, embedding, nrm, cid FROM cellranked
       |  WHERE vec_id < $NQueries AND crk <= $NProbe
       |), cand AS MATERIALIZED (
       |  SELECT a.qid AS query_id, b.vec_id AS neighbor_id, b.label,
       |    round($dotDuck / (a.nrm * b.nrm), 6) AS cos
       |  FROM probes a JOIN assigned b ON a.cid = b.cid AND a.qid <> b.vec_id
       |), truth AS MATERIALIZED (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY a.vec_id
       |        ORDER BY round($dotDuck / (a.nrm * b.nrm), 6) DESC, b.vec_id ASC) AS rk
       |    FROM e a JOIN e b ON a.vec_id < $NQueries AND a.vec_id <> b.vec_id
       |      AND b.label = $FilterLabel
       |  ) WHERE rk <= $K
       |), truthn AS (
       |  SELECT q.vec_id AS query_id, count(b.vec_id)::BIGINT AS n_match
       |  FROM embeddings q LEFT JOIN embeddings b
       |    ON b.label = $FilterLabel AND b.vec_id <> q.vec_id
       |  WHERE q.vec_id < $NQueries
       |  GROUP BY 1
       |)""".stripMargin

  val knnFilteredSql: String =
    s"""WITH $filteredCtes, precnt AS (
       |  SELECT query_id, count(*)::BIGINT AS n_scored
       |  FROM cand WHERE label = $FilterLabel GROUP BY 1
       |), pretop AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id, row_number() OVER (PARTITION BY query_id
       |      ORDER BY cos DESC, neighbor_id ASC) AS rk
       |    FROM cand WHERE label = $FilterLabel
       |  ) WHERE rk <= $K
       |), preout AS (
       |  SELECT c.query_id, c.n_scored, count(p.neighbor_id)::BIGINT AS n_results,
       |    sum(CASE WHEN t.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_hits
       |  FROM precnt c
       |  LEFT JOIN pretop p ON p.query_id = c.query_id
       |  LEFT JOIN truth t ON t.query_id = p.query_id AND t.neighbor_id = p.neighbor_id
       |  GROUP BY 1, 2
       |), postcnt AS (
       |  SELECT query_id, count(*)::BIGINT AS n_scored FROM cand GROUP BY 1
       |), posttop AS (
       |  SELECT query_id, neighbor_id, label FROM (
       |    SELECT query_id, neighbor_id, label, row_number() OVER (PARTITION BY query_id
       |      ORDER BY cos DESC, neighbor_id ASC) AS rk
       |    FROM cand
       |  ) WHERE rk <= $K
       |), postout AS (
       |  SELECT c.query_id, c.n_scored,
       |    sum(CASE WHEN p.label = $FilterLabel THEN 1 ELSE 0 END)::BIGINT AS n_results,
       |    sum(CASE WHEN p.label = $FilterLabel AND t.neighbor_id IS NOT NULL
       |             THEN 1 ELSE 0 END)::BIGINT AS n_hits
       |  FROM postcnt c
       |  LEFT JOIN posttop p ON p.query_id = c.query_id
       |  LEFT JOIN truth t ON t.query_id = p.query_id AND t.neighbor_id = p.neighbor_id
       |  GROUP BY 1, 2
       |), spine AS (
       |  SELECT m.mode, q.vec_id AS query_id,
       |    least(coalesce(n.n_match, 0), $K)::BIGINT AS n_truth
       |  FROM (SELECT vec_id FROM embeddings WHERE vec_id < $NQueries) q
       |  CROSS JOIN (SELECT 'pre' AS mode UNION ALL SELECT 'post') m
       |  LEFT JOIN truthn n ON n.query_id = q.vec_id
       |)
       |SELECT s.mode, s.query_id, s.n_truth,
       |  coalesce(o.n_scored, 0)::BIGINT AS n_scored,
       |  coalesce(o.n_results, 0)::BIGINT AS n_results,
       |  coalesce(o.n_hits, 0)::BIGINT AS n_hits,
       |  (CASE WHEN s.n_truth > 0
       |        THEN (coalesce(o.n_hits, 0) * 10000) // s.n_truth
       |        ELSE 0 END)::BIGINT AS recall_bp
       |FROM spine s
       |LEFT JOIN (
       |  SELECT 'pre' AS mode, query_id, n_scored, n_results, n_hits FROM preout
       |  UNION ALL
       |  SELECT 'post' AS mode, query_id, n_scored, n_results, n_hits FROM postout
       |) o ON o.mode = s.mode AND o.query_id = s.query_id
       |ORDER BY s.mode, s.query_id""".stripMargin

  /** The post-filter recovery curve — the tuning audit [[knnFiltered]]
    * calls for, the way [[ivfPqRerankCurve]] tunes the ADC buffer:
    * recall of search-then-filter at EVERY shortlist buffer depth
    * R = 1..[[FilterBufMax]] against the filtered brute-force truth.
    * The production rule of thumb (buffer ≈ K/selectivity) becomes a
    * measured row instead of folklore: at ~10% selectivity the
    * buffer-5 row is [[knnFiltered]]'s cratered `post` mode and the
    * deeper rows show the recovery toward the pre-filter ceiling
    * (bounded by IVF recall — a truth member whose cell was never
    * probed is unrecoverable at ANY buffer; that residual gap is the
    * pre-filter argument).
    *
    * Same cumulative-histogram economics as every curve here: hits
    * and kept counts are monotone in R (the unfiltered ADC-free rank
    * of a candidate is fixed), so the whole curve is two ≤[[
    * FilterBufMax]]-row histograms off one bounded top-R pass — no
    * per-depth re-rank, O(candidates + bufMax) beyond the shared
    * passes.
    */
  def knnFilteredCurve(spark: SparkSession, sfDir: String): DataFrame =
    knnFilteredCurveFrom(Tables.embeddings(spark, sfDir), NCells, NProbe,
      NQueries, K, FilterLabel, FilterBufMax,
      candOpt = Some(filteredCand(spark, sfDir)),
      truthOpt = Some(filteredTruth(spark, sfDir)))

  private[graft] def knnFilteredCurveFrom(e0: DataFrame, nCells: Int,
      nProbe: Int, nQueries: Int, k: Int, label: Int, bufMax: Int,
      candOpt: Option[DataFrame] = None,
      truthOpt: Option[DataFrame] = None): DataFrame = {
    val cand = candOpt.getOrElse(
      filteredCandFrom(e0, nCells, nProbe, nQueries).localCheckpoint())
    val truthAgg = truthOpt.getOrElse(filteredTruthFrom(e0, nQueries, k, label))
    val truthSet = truthAgg.select(col("query_id"), explode(col("tk")).as("t"))
      .select(col("query_id"), col("t.id").as("neighbor_id"))
    val totTruth = truthAgg.agg(sum("n_truth").as("total_truth"))
    val kept = TopKByScore.ranked(cand, Seq("query_id"), bufMax,
        col("cos"), col("neighbor_id"), col("label").cast("long"))
      .select(col("query_id"), col("rk"), col("id").as("neighbor_id"), col("extra").as("lbl"))
      .where(col("lbl") === label)
      .localCheckpoint() // two consumers: kept histogram + hit histogram
    val keptHist = kept.groupBy("rk").agg(count(lit(1)).as("kcnt"))
    val hitHist = kept
      .join(broadcast(truthSet), Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("rk").agg(count(lit(1)).as("hcnt"))
    val kc = cumulative(keptHist, "rk", "kcnt", bufMax, "buffer", "n_kept")
    val hc = cumulative(hitHist, "rk", "hcnt", bufMax, "buffer", "n_hits")
    kc.join(hc, Seq("buffer"))
      .crossJoin(broadcast(totTruth))
      .withColumn("recall_bp", basisPoints("n_hits", "total_truth"))
      .select("buffer", "n_kept", "n_hits", "recall_bp")
      .orderBy("buffer")
  }

  val knnFilteredCurveSql: String =
    s"""WITH $filteredCtes, tot AS (
       |  SELECT coalesce(sum(least(n_match, $K)), 0)::BIGINT AS total_truth
       |  FROM truthn
       |), kept AS MATERIALIZED (
       |  SELECT query_id, neighbor_id, rk FROM (
       |    SELECT query_id, neighbor_id, label,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY cos DESC, neighbor_id ASC) AS rk
       |    FROM cand
       |  ) WHERE rk <= $FilterBufMax AND label = $FilterLabel
       |), khist AS (
       |  SELECT rk, count(*)::BIGINT AS kcnt FROM kept GROUP BY 1
       |), hhist AS (
       |  SELECT k.rk, count(*)::BIGINT AS hcnt
       |  FROM kept k JOIN truth t
       |    ON t.query_id = k.query_id AND t.neighbor_id = k.neighbor_id
       |  GROUP BY 1
       |), nums AS (SELECT unnest(range(1, $FilterBufMax + 1)) AS buffer),
       |kc AS (
       |  SELECT n.buffer, coalesce(sum(k.kcnt), 0)::BIGINT AS n_kept
       |  FROM nums n LEFT JOIN khist k ON k.rk <= n.buffer GROUP BY 1
       |), hc AS (
       |  SELECT n.buffer, coalesce(sum(h.hcnt), 0)::BIGINT AS n_hits
       |  FROM nums n LEFT JOIN hhist h ON h.rk <= n.buffer GROUP BY 1
       |)
       |SELECT kc.buffer::BIGINT AS buffer, kc.n_kept, hc.n_hits,
       |  (CASE WHEN t.total_truth > 0
       |        THEN (hc.n_hits * 10000) // t.total_truth
       |        ELSE 0 END)::BIGINT AS recall_bp
       |FROM kc JOIN hc ON kc.buffer = hc.buffer CROSS JOIN tot t
       |ORDER BY buffer""".stripMargin

  /** Ingest-batch selector: ~20% of vectors by the engine-portable
    * row-key hash (the [[graft.operators.PipelineOps.hashSample]]
    * idiom — reproducible across runs, engines and partitionings).
    * Deliberately includes some `vec_id < NCells` vectors, so the
    * frozen index genuinely differs from a rebuild at the fixture. */
  private def isIngestBatch: Column =
    expr("cast(conv(substring(md5(concat_ws('-', cast(vec_id AS string), 'ingest')), 1, 8), 16, 10) AS bigint)") % 5 === 0

  /** The same selector over an arbitrary column reference — the
    * frozen-codebook chains and centroid restrictions splice it onto
    * aliased columns. */
  private def ingestBatchDuckOn(c: String): String =
    s"('0x' || substr(md5($c || '-ingest'), 1, 8))::BIGINT % 5 = 0"

  private val ingestBatchDuck = ingestBatchDuckOn("vec_id")

  /** Frozen-index assignment of the MERGED corpus, memoized per
    * (session, sfDir): centroids from the standing base only, every
    * vector (base + new batch) assigned to them, `is_new` flagged.
    * Shared by [[ivfIngest]] and [[ivfIngestRecall]]. */
  private[graft] def ingestFrozen(spark: SparkSession, sfDir: String): DataFrame =
    graft.QueryCache.memo(spark, s"ivf_ingest_frozen:$sfDir") {
      val e0 = Tables.embeddings(spark, sfDir)
      frozenAssign(e0, e0.where(!isIngestBatch), NCells).localCheckpoint()
    }

  /** [[cellAssignTo]] of the merged corpus against base-derived
    * centroids, with membership flagged (a vector absent from `base`
    * is the new batch). */
  private[graft] def frozenAssign(e0: DataFrame, base: DataFrame,
                                  nCells: Int): DataFrame =
    cellAssignTo(e0, base, nCells)
      .join(base.select(col("vec_id"), lit(0L).as("__b")), Seq("vec_id"), "left")
      .withColumn("is_new", col("__b").isNull)
      .select("vec_id", "embedding", "nrm", "cid", "is_new")

  /** Rebuilt (from-scratch) assignment of the merged corpus, memoized
    * per (session, sfDir): the audit arm BOTH ingest queries compare
    * against — without the memo each invocation eagerly re-ran the
    * full-corpus assignment (the r10 advisor's finding), so one sweep
    * paid it twice. An index rebuild is a materialization in
    * production too. */
  private[graft] def ingestRebuilt(spark: SparkSession, sfDir: String): DataFrame =
    graft.QueryCache.memo(spark, s"ivf_ingest_rebuilt:$sfDir") {
      cellAssignFrom(Tables.embeddings(spark, sfDir), NCells).localCheckpoint()
    }

  /** Incremental ANN ingest — the steady-state corpus-growth path
    * ([[graft.operators.Dedup]]'s q_dedup_incremental, transposed to
    * the ANN index): a new ~20% batch of embeddings is assigned into
    * the FROZEN IVF cells (centroids from the standing base — no
    * retrain, no re-cluster of the resident 10⁹ vectors), and the
    * output audits what that freeze costs: per cell, resident count,
    * ingested count, growth in basis points, and `n_drift` — how many
    * of the cell's vectors a from-scratch rebuild would place in a
    * DIFFERENT cell (at the fixture the hash batch removes some
    * `vec_id < NCells` centroids, so the frozen quantizer genuinely
    * coarsens and the drift is non-zero — the measured argument for
    * periodic re-index).
    *
    * Scale: one [[cellAssignTo]] pass over the merged corpus (map-side
    * argmax against ≤[[NCells]] broadcast centroids — the ingest
    * itself touches only the new batch at steady state; the full-pass
    * form here also yields the drift audit), one rebuilt-assignment
    * pass for the audit, and a slim vec_id-keyed join between them.
    * Nothing quadratic, nothing resident re-shuffled by the ingest.
    */
  def ivfIngest(spark: SparkSession, sfDir: String): DataFrame = {
    val e0 = Tables.embeddings(spark, sfDir)
    ivfIngestFrom(e0, e0.where(!isIngestBatch), NCells,
      frozenOpt = Some(ingestFrozen(spark, sfDir)),
      rebuiltOpt = Some(ingestRebuilt(spark, sfDir)))
  }

  private[graft] def ivfIngestFrom(e0: DataFrame, base: DataFrame, nCells: Int,
      frozenOpt: Option[DataFrame] = None,
      rebuiltOpt: Option[DataFrame] = None): DataFrame = {
    val frozen = frozenOpt.getOrElse(
      frozenAssign(e0, base, nCells).localCheckpoint())
    // slim (vec_id, cid) rebuild, severed once (memoized in the
    // registry path — see ingestRebuilt)
    val rebuilt = rebuiltOpt.getOrElse(cellAssignFrom(e0, nCells).localCheckpoint())
      .select(col("vec_id"), col("cid").as("cid_rebuilt"))
    val drift = frozen.select("vec_id", "cid").join(rebuilt, "vec_id")
      .where(col("cid") =!= col("cid_rebuilt"))
      .groupBy("cid").agg(count(lit(1)).as("n_drift"))
    frozen.groupBy("cid")
      .agg(sum(when(col("is_new"), 0L).otherwise(1L)).as("n_base"),
           sum(when(col("is_new"), 1L).otherwise(0L)).as("n_new"))
      .join(drift, Seq("cid"), "left")
      .select(col("cid").as("cell"), col("n_base"), col("n_new"),
              (col("n_base") + col("n_new")).as("n_total"),
              basisPoints("n_new", "n_base").as("growth_bp"),
              coalesce(col("n_drift"), lit(0L)).as("n_drift"))
      .orderBy("cell")
  }

  /** Shared oracle CTEs for the ingest pair: frozen + rebuilt cell
    * rankings over the merged corpus. */
  private def ingestCtes: String =
    s"""e AS (
       |  SELECT vec_id, embedding, $normDuck AS nrm FROM embeddings
       |), base AS (
       |  SELECT vec_id FROM embeddings WHERE NOT ($ingestBatchDuck)
       |), fcr AS MATERIALIZED (
       |  SELECT b.vec_id, a.vec_id AS cid,
       |    row_number() OVER (PARTITION BY b.vec_id
       |      ORDER BY round($dotDuck / (a.nrm * b.nrm), 6) DESC, a.vec_id ASC) AS crk
       |  FROM e b JOIN e a ON a.vec_id < $NCells
       |    AND a.vec_id IN (SELECT vec_id FROM base)
       |), fassigned AS (
       |  SELECT vec_id, cid FROM fcr WHERE crk = 1
       |), rcr AS MATERIALIZED (
       |  SELECT b.vec_id, a.vec_id AS cid,
       |    row_number() OVER (PARTITION BY b.vec_id
       |      ORDER BY round($dotDuck / (a.nrm * b.nrm), 6) DESC, a.vec_id ASC) AS crk
       |  FROM e b JOIN e a ON a.vec_id < $NCells
       |), rassigned AS (
       |  SELECT vec_id, cid FROM rcr WHERE crk = 1
       |)""".stripMargin

  val ivfIngestSql: String =
    s"""WITH $ingestCtes, drift AS (
       |  SELECT f.cid, count(*)::BIGINT AS n_drift
       |  FROM fassigned f JOIN rassigned r ON f.vec_id = r.vec_id
       |  WHERE f.cid <> r.cid GROUP BY 1
       |), g AS (
       |  SELECT f.cid,
       |    sum(CASE WHEN b.vec_id IS NULL THEN 0 ELSE 1 END)::BIGINT AS n_base,
       |    sum(CASE WHEN b.vec_id IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_new
       |  FROM fassigned f LEFT JOIN base b ON b.vec_id = f.vec_id
       |  GROUP BY 1
       |)
       |SELECT g.cid::BIGINT AS cell, g.n_base, g.n_new,
       |  (g.n_base + g.n_new)::BIGINT AS n_total,
       |  (CASE WHEN g.n_base > 0 THEN (g.n_new * 10000) // g.n_base
       |        ELSE 0 END)::BIGINT AS growth_bp,
       |  coalesce(d.n_drift, 0)::BIGINT AS n_drift
       |FROM g LEFT JOIN drift d ON d.cid = g.cid
       |ORDER BY cell""".stripMargin

  /** The recall side of [[ivfIngest]]'s freeze-vs-rebuild ledger:
    * multi-probe IVF search over the MERGED corpus through the frozen
    * index vs through a from-scratch rebuild, both against the exact
    * brute-force truth — the drift audit a 100-TB corpus runs to
    * decide when incremental ingest has degraded the quantizer enough
    * to justify a re-index. Two rows, exact integer hit counts.
    *
    * Scale shape: both arms are [[knnIvf]]'s cell equi-join (bounded
    * candidates), top-K via the bounded TopKByScore aggregate, truth
    * via the broadcast-query brute pass (the audit's inherent cost —
    * sampled query set at corpus scale).
    */
  def ivfIngestRecall(spark: SparkSession, sfDir: String): DataFrame = {
    val e0 = Tables.embeddings(spark, sfDir)
    ivfIngestRecallFrom(e0, e0.where(!isIngestBatch), NCells, NProbe,
      NQueries, K, frozenOpt = Some(ingestFrozen(spark, sfDir)),
      rebuiltOpt = Some(ingestRebuilt(spark, sfDir)))
  }

  private[graft] def ivfIngestRecallFrom(e0: DataFrame, base: DataFrame,
      nCells: Int, nProbe: Int, nQueries: Int, k: Int,
      frozenOpt: Option[DataFrame] = None,
      rebuiltOpt: Option[DataFrame] = None): DataFrame = {
    val frozen = frozenOpt.getOrElse(
      frozenAssign(e0, base, nCells).localCheckpoint())
    val truth = knnBruteFrom(e0, nQueries, k)
      .select(col("query_id"), col("neighbor_id"))
    def topOn(assigned: DataFrame, centSrc: DataFrame): DataFrame = {
      val probes = queryProbesTo(e0, centSrc, nCells, nQueries).where(col("crk") <= nProbe)
        .select(col("vec_id").as("qid"), col("embedding"), col("nrm"), col("cid"))
        .localCheckpoint() // ≤ nQueries·nProbe rows; severs the probe spine
      TopKByScore.rows(probeJoin(probes, assigned), Seq("query_id"),
          k, col("cos"), col("neighbor_id"), lit(0L))
        .select(col("query_id"), col("id").as("neighbor_id"))
    }
    val rebuilt = rebuiltOpt.getOrElse(
      cellAssignFrom(e0, nCells).localCheckpoint()) // rebuild arm, once
    recallLedger(truth, Seq("query_id", "neighbor_id"),
      "frozen" -> topOn(frozen, base), "rebuilt" -> topOn(rebuilt, e0))
  }

  /** Recall ledger: one (variant, n_truth, n_hits, recall_bp) row per
    * named arm, hits being the arm's `keys` found in the broadcast
    * `truth` (checkpointed: every hit join and the denominator read it). */
  private def recallLedger(truth: DataFrame, keys: Seq[String],
      arms: (String, DataFrame)*): DataFrame = {
    val t = truth.localCheckpoint()
    arms.map { case (tag, got) =>
      got.select(keys.map(col): _*)
        .join(broadcast(t), keys, "left_semi")
        .agg(count(lit(1)).as("n_hits"))
        .select(lit(tag).as("variant"), col("n_hits"))
    }.reduce(_ unionByName _)
      .crossJoin(broadcast(t.agg(count(lit(1)).as("n_truth"))))
      .select(col("variant"), col("n_truth"), col("n_hits"))
      .withColumn("recall_bp", basisPoints("n_hits", "n_truth"))
      .orderBy("variant")
  }

  val ivfIngestRecallSql: String =
    s"""WITH $ingestCtes, truth AS MATERIALIZED (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY a.vec_id
       |        ORDER BY round($dotDuck / (a.nrm * b.nrm), 6) DESC, b.vec_id ASC) AS rk
       |    FROM e a JOIN e b ON a.vec_id < $NQueries AND a.vec_id <> b.vec_id
       |  ) WHERE rk <= $K
       |), tn AS (SELECT count(*)::BIGINT AS n_truth FROM truth),
       |ftop AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY a.vec_id
       |        ORDER BY round($dotDuck / (a.nrm * b.nrm), 6) DESC, b.vec_id ASC) AS rk
       |    FROM fcr p JOIN e a ON a.vec_id = p.vec_id
       |    JOIN fassigned f2 ON f2.cid = p.cid AND f2.vec_id <> p.vec_id
       |    JOIN e b ON b.vec_id = f2.vec_id
       |    WHERE p.vec_id < $NQueries AND p.crk <= $NProbe
       |  ) WHERE rk <= $K
       |), rtop AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY a.vec_id
       |        ORDER BY round($dotDuck / (a.nrm * b.nrm), 6) DESC, b.vec_id ASC) AS rk
       |    FROM rcr p JOIN e a ON a.vec_id = p.vec_id
       |    JOIN rassigned r2 ON r2.cid = p.cid AND r2.vec_id <> p.vec_id
       |    JOIN e b ON b.vec_id = r2.vec_id
       |    WHERE p.vec_id < $NQueries AND p.crk <= $NProbe
       |  ) WHERE rk <= $K
       |), v AS (
       |  SELECT 'frozen' AS variant,
       |    (SELECT count(*) FROM ftop t JOIN truth u
       |     ON u.query_id = t.query_id AND u.neighbor_id = t.neighbor_id)::BIGINT AS n_hits
       |  UNION ALL
       |  SELECT 'rebuilt' AS variant,
       |    (SELECT count(*) FROM rtop t JOIN truth u
       |     ON u.query_id = t.query_id AND u.neighbor_id = t.neighbor_id)::BIGINT AS n_hits
       |)
       |SELECT v.variant, tn.n_truth, v.n_hits,
       |  (CASE WHEN tn.n_truth > 0 THEN (v.n_hits * 10000) // tn.n_truth
       |        ELSE 0 END)::BIGINT AS recall_bp
       |FROM v CROSS JOIN tn
       |ORDER BY variant""".stripMargin

  /** Catalog names of the INGEST-lineage IVF index — the frozen
    * quantizer trained on the standing base, persisted as an IVF-flat
    * layout: the inverted lists WITH their vectors (what a real
    * IVF-flat index stores per cell), bucketed by cell, plus the
    * coarse centroid table. Distinct from [[serveTableNames]]'s
    * full-corpus PQ lineage: this one exists to GROW. */
  private[graft] def ingestIndexNames(sfDir: String): Map[String, String] =
    Seq("lists", "centroids").map(n => n -> Sources.serveName(s"ivfing_$n", sfDir)).toMap

  /** Build-once: persist the BASE corpus's IVF-flat index (lists
    * bucketed by cid, centroids from the base's `vec_id < NCells`
    * members — the frozen quantizer q_ivf_ingest audits). */
  private[graft] def ensureIngestIndex(spark: SparkSession, sfDir: String): Unit =
    graft.QueryCache.once(spark, s"ivf_serve_ingest_written:$sfDir") {
      val names = ingestIndexNames(sfDir)
      val base = Tables.embeddings(spark, sfDir).where(!isIngestBatch)
      Sources.publish(cellAssignTo(base, base, NCells),
        names("lists"), Seq("cid"), 8, Seq("cid"))
      Sources.publish(base.where(col("vec_id") < NCells).select("vec_id", "embedding"),
        names("centroids"))
    }

  /** Grow-only ingest APPEND: the arriving batch is assigned into the
    * frozen cells against the RELOADED centroid table (the assignment
    * scans only the batch — the resident 10⁹ vectors are untouched)
    * and appended into the bucketed lists table. Bucketed appends
    * write their own per-bucket files alongside the resident ones
    * (readers merge a bucket's files), so the resident index is never
    * rewritten or reshuffled — SourcesSpec pins that contract by file
    * listing. Memoized so the batch lands exactly once per session. */
  private[graft] def ensureIngestAppend(spark: SparkSession, sfDir: String): Unit =
    graft.QueryCache.once(spark, s"ivf_serve_ingest_appended:$sfDir") {
      ensureIngestIndex(spark, sfDir)
      val names = ingestIndexNames(sfDir)
      val batch = Tables.embeddings(spark, sfDir).where(isIngestBatch)
      Sources.appendBucketedTable(
        cellAssignTo(batch, spark.table(names("centroids")), NCells),
        names("lists"), Seq("cid"), 8, Seq("cid"))
    }

  /** Serve multi-probe IVF retrieval from the GROWN persisted index —
    * the leg q_ivf_ingest was missing (r11 verdict #2): the base index
    * is built once ([[ensureIngestIndex]]), the arriving batch appends
    * into the bucketed inverted lists without touching resident files
    * ([[ensureIngestAppend]]), and retrieval reads ONLY the reloaded
    * tables plus the raw query vectors. Row-identical by construction
    * to an in-session frozen-quantizer search over the merged corpus
    * ([[ivfServeIngestTwin]] — ServeIndexSpec compares them), and the
    * oracle recomputes exactly that search.
    *
    * Scale: the steady-state corpus-growth path end to end — each
    * day's batch pays one map-side argmax against ≤[[NCells]]
    * broadcast centroids plus a bucketed append; a probe's equi-join
    * reads only its cells' buckets; nothing resident is ever
    * reshuffled. The drift ledger (q_ivf_ingest/q_ivf_ingest_recall)
    * tells the operator when the accumulated freeze cost justifies a
    * re-index.
    */
  def ivfServeIngest(spark: SparkSession, sfDir: String): DataFrame = {
    ensureIngestAppend(spark, sfDir)
    val names = ingestIndexNames(sfDir)
    ivfFlatRetrieve(spark, sfDir,
      spark.table(names("lists")), spark.table(names("centroids")))
  }

  /** Multi-probe IVF-flat retrieval against persisted (or live) lists
    * + centroid tables — shared by the grown-index serve, its
    * compacted sibling, and the in-session twin. */
  private def ivfFlatRetrieve(spark: SparkSession, sfDir: String,
      lists: DataFrame, cents: DataFrame): DataFrame = {
    val probes = queryProbesTo(Tables.embeddings(spark, sfDir), cents, NCells, NQueries)
      .where(col("crk") <= NProbe)
      .select(col("vec_id").as("qid"), col("embedding"), col("nrm"), col("cid"))
    rankIvf(probeJoin(probes, lists, probeCols = Seq(col("a.cid").as("cell"))), K)
  }

  /** Catalog name of the COMPACTED ingest index (one table: the
    * rewritten inverted lists; centroids are shared with the ingest
    * lineage — compaction never touches the quantizer). */
  private[graft] def compactIndexName(sfDir: String): String =
    Sources.serveName("ivfcmp_lists", sfDir)

  /** Index COMPACTION — the maintenance job the grow-only contract
    * eventually demands: every [[ensureIngestAppend]] lands its own
    * per-bucket files, so after months of daily batches a bucket is
    * hundreds of small files and scan cost degrades (open/seek
    * overhead, no bucket-level sort). Compaction
    * ([[graft.sources.Sources.compact]]) reads the grown table ONCE and
    * rewrites it as a fresh bucketed + sorted table, after which
    * readers see the identical rows in the minimal file layout.
    * ServeIndexSpec pins both halves: strictly fewer data files AND
    * bit-identical retrieval. */
  private[graft] def ensureIngestCompact(spark: SparkSession, sfDir: String): Unit =
    graft.QueryCache.once(spark, s"ivf_serve_compacted:$sfDir") {
      ensureIngestAppend(spark, sfDir)
      Sources.compact(spark, ingestIndexNames(sfDir)("lists"), compactIndexName(sfDir))
    }

  /** Serve from the COMPACTED index — must be indistinguishable from
    * the grown index it rewrote (shared oracle, declared after
    * [[ivfServeIngestSql]] below — the init-order discipline the
    * aliasing first draft of this val violated and InitOrderSpec now
    * guards for lowercase vals too), completing the operational
    * lifecycle: build → grow → compact → serve. */
  def ivfServeCompact(spark: SparkSession, sfDir: String): DataFrame = {
    ensureIngestCompact(spark, sfDir)
    ivfFlatRetrieve(spark, sfDir,
      spark.table(compactIndexName(sfDir)),
      spark.table(ingestIndexNames(sfDir)("centroids")))
  }

  /** The in-session twin of [[ivfServeIngest]]: the same frozen-
    * quantizer multi-probe search computed from live frames (no
    * catalog) — ServeIndexSpec pins served == in-session. */
  private[graft] def ivfServeIngestTwin(spark: SparkSession, sfDir: String): DataFrame = {
    val e0 = Tables.embeddings(spark, sfDir)
    val base = e0.where(!isIngestBatch)
    ivfFlatRetrieve(spark, sfDir, cellAssignTo(e0, base, NCells), base)
  }

  /** Oracle: [[knnIvfSql]]'s multi-probe search with the quantizer
    * restricted to BASE centroids (the frozen index the grown lists
    * table embodies) over the merged corpus. `neighborFilter` splices
    * a predicate into the retrieval join's neighbor side — the
    * tombstone-mask variant. */
  private def mkIvfServeIngestSql(neighborFilter: String): String =
    s"""WITH e AS (
       |  SELECT vec_id, embedding, $normDuck AS nrm FROM embeddings
       |), fbase AS (
       |  SELECT vec_id FROM embeddings WHERE NOT ($ingestBatchDuck)
       |), cellranked AS MATERIALIZED (
       |  SELECT b.vec_id, b.embedding, b.nrm, a.vec_id AS cid,
       |    row_number() OVER (PARTITION BY b.vec_id
       |      ORDER BY round($dotDuck / (a.nrm * b.nrm), 6) DESC, a.vec_id ASC) AS crk
       |  FROM e b JOIN e a ON a.vec_id < $NCells
       |    AND a.vec_id IN (SELECT vec_id FROM fbase)
       |), assigned AS (
       |  SELECT vec_id, embedding, nrm, cid FROM cellranked WHERE crk = 1
       |), probes AS (
       |  SELECT vec_id AS qid, embedding, nrm, cid FROM cellranked
       |  WHERE vec_id < $NQueries AND crk <= $NProbe
       |), scored AS (
       |  SELECT a.qid AS query_id, a.cid AS cell, b.vec_id AS neighbor_id,
       |    round($dotDuck / (a.nrm * b.nrm), 6) AS cos
       |  FROM probes a
       |  JOIN assigned b ON a.cid = b.cid AND a.qid <> b.vec_id$neighborFilter
       |), ranked AS (
       |  SELECT query_id, cell, neighbor_id, cos,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rk
       |  FROM scored
       |)
       |SELECT query_id, cell, rk, neighbor_id, cos
       |FROM ranked WHERE rk <= $K
       |ORDER BY query_id, rk""".stripMargin

  val ivfServeIngestSql: String = mkIvfServeIngestSql("")

  /** Identical contract to [[ivfServeIngestSql]]: compaction is a
    * physical rewrite, never a semantic change. */
  val ivfServeCompactSql: String = ivfServeIngestSql

  /** Catalog names of the PQ half of the ingest lineage (r12 verdict
    * #3 — the one composition the grow story was missing): codebooks
    * trained on the BASE corpus only (the frozen quantizer's PQ
    * analog), the code table, and the quantized vectors the exact
    * re-rank reads — the latter two bucketed by vec_id and GROWN by
    * appends, never rebuilt. */
  private[graft] def pqIngestNames(sfDir: String): Map[String, String] =
    Seq("codebooks", "codes", "vectors_q")
      .map(n => n -> Sources.serveName(s"pqing_$n", sfDir)).toMap

  /** Build-once: train PQ codebooks on the BASE corpus only and
    * persist them with the base's codes and quantized vectors — the
    * PQ sibling of [[ensureIngestIndex]] (which owns the coarse
    * lists + centroids this lineage shares). */
  private[graft] def ensurePqIngestIndex(spark: SparkSession, sfDir: String): Unit =
    graft.QueryCache.once(spark, s"pq_ingest_written:$sfDir") {
      ensureIngestIndex(spark, sfDir)
      val names = pqIngestNames(sfDir)
      val baseEs = Training.pqSubOf(Training.quantizedOf(
          Tables.embeddings(spark, sfDir).where(!isIngestBatch)))
        .localCheckpoint() // codebook training + codes + vectors read it
      val cb = Training.pqCodebooksOf(baseEs)
      Sources.publish(cb, names("codebooks"))
      Sources.publish(Training.pqCodesOf(baseEs, cb),
        names("codes"), Seq("vec_id"), 8, Seq("vec_id"))
      Sources.publish(baseEs, names("vectors_q"), Seq("vec_id"), 8, Seq("vec_id"))
    }

  /** Grow the PQ lineage: quantize the arriving batch, ENCODE it
    * against the RELOADED frozen codebooks (the codebooks never see
    * the batch — the quantization-drift audit below measures what that
    * freeze costs), and append codes + quantized vectors into the
    * bucketed tables. Together with [[ensureIngestAppend]]'s list
    * growth, every artifact of the composed IVF→PQ retrieval now has
    * a grow path: the batch pays one argmax against broadcast
    * codebooks plus two bucketed appends; nothing resident is read,
    * rewritten or reshuffled (SourcesSpec's append contract). */
  private[graft] def ensurePqIngestAppend(spark: SparkSession, sfDir: String): Unit =
    graft.QueryCache.once(spark, s"pq_ingest_appended:$sfDir") {
      ensurePqIngestIndex(spark, sfDir)
      ensureIngestAppend(spark, sfDir)
      val names = pqIngestNames(sfDir)
      val batchEs = Training.pqSubOf(Training.quantizedOf(
          Tables.embeddings(spark, sfDir).where(isIngestBatch)))
        .localCheckpoint() // encode + vector append read it
      Sources.appendBucketedTable(
        Training.pqCodesOf(batchEs, spark.table(names("codebooks"))),
        names("codes"), Seq("vec_id"), 8, Seq("vec_id"))
      Sources.appendBucketedTable(
        batchEs, names("vectors_q"), Seq("vec_id"), 8, Seq("vec_id"))
    }

  /** Serve the COMPOSED IVF→PQ retrieval from the GROWN frozen-index
    * lineage — the production day-2 shape for the 10⁹-vector layout:
    * coarse cells from the grown inverted lists ([[ivfServeIngest]]'s
    * table), centroids and PQ codebooks frozen at base-build time,
    * codes and quantized vectors grown by [[ensurePqIngestAppend]].
    * Every index artifact comes from reloaded catalog tables; the raw
    * corpus is scanned once (the query vectors). The oracle recomputes
    * the same retrieval from first principles: base-restricted coarse
    * quantizer, base-trained codebooks, full-corpus encoding. */
  def ivfServePqIngest(spark: SparkSession, sfDir: String): DataFrame = {
    ensurePqIngestAppend(spark, sfDir)
    val names = pqIngestNames(sfDir)
    val ing = ingestIndexNames(sfDir)
    ivfPqFrom(Tables.embeddings(spark, sfDir),
      spark.table(names("vectors_q")), spark.table(names("codebooks")),
      NCells, NProbe, NQueries, IvfPqRerank, K,
      codesOpt = Some(spark.table(names("codes"))),
      assignedOpt = Some(spark.table(ing("lists"))),
      centSrcOpt = Some(spark.table(ing("centroids"))))
  }

  /** Oracle: [[mkIvfPqSql]]'s composed retrieval with the coarse
    * quantizer restricted to BASE centroids and the PQ chain trained
    * on the base only (codes still cover the full corpus — the frozen
    * codebooks encode everything, influenced by nothing new). */
  val ivfServePqIngestSql: String = mkIvfPqSql("",
    centRestrict = s" AND NOT (${ingestBatchDuckOn("a.vec_id")})",
    trainCtes = Training.mkPqTrainCtes("", Some(ingestBatchDuckOn)),
    cbName = Training.pqFinalCbOf(""))

  /** The PQ analog of [[ivfIngestRecall]] (the codebook-drift re-train
    * trigger): flat ADC retrieval over the FULL merged corpus through
    * the FROZEN base-trained codebooks (batch encoded post hoc) vs
    * through codebooks RETRAINED on everything, both against the
    * exact integer-L2 truth — how much recall the codebook freeze
    * costs, the number that decides when the accumulated ingests
    * justify re-training the quantizer. Two rows, exact integers.
    *
    * Scale shape: both arms are [[graft.operators.Training.pqAdcFrom]]
    * — broadcast LUTs, one scan of the (compressed) code table, the
    * bounded per-query top-K; truth is the audit's inherent
    * brute-force pass over quantized rows (query-sampled at corpus
    * scale, like every recall audit in the family). */
  def pqIngestRecall(spark: SparkSession, sfDir: String): DataFrame = {
    ensurePqIngestAppend(spark, sfDir)
    val names = pqIngestNames(sfDir)
    val es = Training.pqSub(spark, sfDir) // memoized full-corpus quantized rows
    val truth = pqExactTruth(es, Training.PqNQueries, Training.PqTopK)
    val frozen = Training.pqAdcFrom(
      spark.table(pqIngestNames(sfDir)("vectors_q")),
      spark.table(names("codebooks")),
      Training.PqNQueries, Training.PqTopK,
      codes = Some(spark.table(names("codes"))))
    val retrained = Training.pqAdcFrom(es, Training.pqCodebooks(spark, sfDir),
      Training.PqNQueries, Training.PqTopK,
      codes = Some(Training.pqCodes(spark, sfDir)))
    recallLedger(truth, Seq("query_id", "vec_id"),
      "frozen" -> frozen, "retrained" -> retrained)
  }

  /** Exact integer-L2 top-K over quantized rows for the lowest
    * `nQueries` vec_ids — the ADC audits' ground truth. */
  private def pqExactTruth(es: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val qIds = es.select("vec_id").distinct().orderBy("vec_id").limit(nQueries)
    val q = es.join(broadcast(qIds), "vec_id")
      .select(col("vec_id").as("query_id"), col("pos"), col("q").as("qq"))
    val dists = es.select(col("vec_id"), col("pos"), col("q").as("nq"))
      .join(broadcast(q), Seq("pos"))
      .where(col("query_id") =!= col("vec_id"))
      .groupBy("query_id", "vec_id")
      .agg(sum((col("nq") - col("qq")) * (col("nq") - col("qq"))).as("dist"))
    TopKByScore.rows(dists, Seq("query_id"), k,
        -col("dist").cast("double"), col("vec_id"), lit(0L))
      .select(col("query_id"), col("id").as("vec_id"))
  }

  /** Oracle: both codebook chains side by side (prefixed CTEs), each
    * scored by flat ADC over the full corpus, hit-counted against the
    * shared exact-truth CTE. */
  val pqIngestRecallSql: String = {
    val frozenChain = Training.mkPqTrainCtes("", Some(ingestBatchDuckOn))
    val freshChain = Training.mkPqTrainCtes("r", None)
    s"""WITH $frozenChain, $freshChain, qs AS (
       |  SELECT DISTINCT vec_id FROM e ORDER BY vec_id LIMIT ${Training.PqNQueries}
       |), truth AS MATERIALIZED (
       |  SELECT query_id, vec_id FROM (
       |    SELECT q.vec_id AS query_id, b.vec_id,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |        sum((b.q - q2.q) * (b.q - q2.q)) ASC, b.vec_id ASC) AS rk
       |    FROM e b
       |    JOIN qs q ON q.vec_id <> b.vec_id
       |    JOIN e q2 ON q2.vec_id = q.vec_id AND q2.pos = b.pos
       |    GROUP BY 1, 2
       |  ) WHERE rk <= ${Training.PqTopK}
       |), tn AS (SELECT count(*)::BIGINT AS n_truth FROM truth),
       |flut AS (
       |  SELECT e.vec_id AS query_id, c.sub, c.cluster,
       |    sum((e.q - c.c) * (e.q - c.c))::BIGINT AS d
       |  FROM e JOIN qs ON e.vec_id = qs.vec_id
       |  JOIN ${Training.pqFinalCbOf("")} c ON c.sub = e.sub AND c.pos = e.pos
       |  GROUP BY 1, 2, 3
       |), ftop AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT l.query_id, cd.vec_id,
       |      row_number() OVER (PARTITION BY l.query_id
       |        ORDER BY sum(l.d) ASC, cd.vec_id ASC) AS rk
       |    FROM codes cd JOIN flut l ON l.sub = cd.sub AND l.cluster = cd.cluster
       |    WHERE l.query_id <> cd.vec_id
       |    GROUP BY 1, 2
       |  ) WHERE rk <= ${Training.PqTopK}
       |), rlut AS (
       |  SELECT e.vec_id AS query_id, c.sub, c.cluster,
       |    sum((e.q - c.c) * (e.q - c.c))::BIGINT AS d
       |  FROM re e JOIN qs ON e.vec_id = qs.vec_id
       |  JOIN ${Training.pqFinalCbOf("r")} c ON c.sub = e.sub AND c.pos = e.pos
       |  GROUP BY 1, 2, 3
       |), rtop AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT l.query_id, cd.vec_id,
       |      row_number() OVER (PARTITION BY l.query_id
       |        ORDER BY sum(l.d) ASC, cd.vec_id ASC) AS rk
       |    FROM rcodes cd JOIN rlut l ON l.sub = cd.sub AND l.cluster = cd.cluster
       |    WHERE l.query_id <> cd.vec_id
       |    GROUP BY 1, 2
       |  ) WHERE rk <= ${Training.PqTopK}
       |), v AS (
       |  SELECT 'frozen' AS variant,
       |    (SELECT count(*) FROM ftop t JOIN truth u
       |     ON u.query_id = t.query_id AND u.vec_id = t.vec_id)::BIGINT AS n_hits
       |  UNION ALL
       |  SELECT 'retrained' AS variant,
       |    (SELECT count(*) FROM rtop t JOIN truth u
       |     ON u.query_id = t.query_id AND u.vec_id = t.vec_id)::BIGINT AS n_hits
       |)
       |SELECT v.variant, tn.n_truth, v.n_hits,
       |  (CASE WHEN tn.n_truth > 0 THEN (v.n_hits * 10000) // tn.n_truth
       |        ELSE 0 END)::BIGINT AS recall_bp
       |FROM v CROSS JOIN tn
       |ORDER BY variant""".stripMargin
  }

  /** Tombstone selector: vectors with vec_id % TombMod == TombRem are
    * deleted (≈8% of the corpus — GDPR erasure / TTL retirement).
    * Declared before the SQL vals that interpolate them. */
  val TombMod = 13L
  val TombRem = 5L

  /** Catalog names of the deletion leg over the GROWN ingest lineage:
    * the tombstone table (the "remove these documents" input a
    * compliance job delivers) and the COMPACTED post-delete lists
    * (tombstoned rows physically dropped). Own lineage — the grown
    * lists table other queries serve from stays immutable. */
  private[graft] def tombNames(sfDir: String): Map[String, String] =
    Map("tombstones" -> "ivftomb_ids", "lists" -> "ivftomb_lists")
      .map { case (k, stem) => k -> Sources.serveName(stem, sfDir) }

  /** Persist the tombstone set. Derived from the grown lists table's
    * id column — ZERO corpus scans: a delete request needs only the
    * index, exactly like the CF pillar's store-only delete. */
  private[graft] def ensureTombstones(spark: SparkSession, sfDir: String): Unit =
    graft.QueryCache.once(spark, s"ivf_tombstones_written:$sfDir") {
      ensureIngestAppend(spark, sfDir)
      Sources.publish(
        spark.table(ingestIndexNames(sfDir)("lists"))
          .select("vec_id").where(col("vec_id") % TombMod === TombRem),
        tombNames(sfDir)("tombstones"))
    }

  /** Serve retrieval with the tombstone table honored at SERVE time
    * (r12 verdict #4, ANN pillar): the grown inverted lists anti-join
    * the broadcast tombstone set before scoring, so a deleted vector
    * can never be returned — the low-latency deletion path that takes
    * effect immediately, before any physical rewrite runs. Output
    * must equal a retrieval over an index that never contained the
    * tombstoned vectors (the oracle recomputes exactly that; the
    * quantizer is untouched — deletion removes ITEMS, not the trained
    * cell geometry, which in production is an averaged artifact, not
    * a user row).
    *
    * Scale: the tombstone set broadcasts (delete batches are small);
    * the anti-join rides the existing bucketed list scan — zero new
    * shuffles, zero resident rewrites, and the mask composes with any
    * probe depth. */
  def ivfServeDelete(spark: SparkSession, sfDir: String): DataFrame = {
    ensureTombstones(spark, sfDir)
    val lists = spark.table(ingestIndexNames(sfDir)("lists"))
      .join(broadcast(spark.table(tombNames(sfDir)("tombstones"))),
        Seq("vec_id"), "left_anti")
    ivfFlatRetrieve(spark, sfDir, lists,
      spark.table(ingestIndexNames(sfDir)("centroids")))
  }

  /** The PHYSICAL deletion pass the serve-time mask eventually
    * demands (the compaction/retention job): rewrite the grown lists
    * WITHOUT the tombstoned rows — [[ensureIngestCompact]]'s
    * [[graft.sources.Sources.compact]] with the anti-join as its `keep`
    * — so the deleted vectors' bytes leave the index entirely (true erasure, not just masking).
    * Serving from the compacted table must be indistinguishable from
    * the masked serve (shared oracle); the spec additionally pins the
    * physical row drop and the shrunken layout. */
  private[graft] def ensureDeleteCompact(spark: SparkSession, sfDir: String): Unit =
    graft.QueryCache.once(spark, s"ivf_delete_compacted:$sfDir") {
      ensureTombstones(spark, sfDir)
      val names = tombNames(sfDir)
      Sources.compact(spark, ingestIndexNames(sfDir)("lists"), names("lists"),
        _.join(broadcast(spark.table(names("tombstones"))), Seq("vec_id"), "left_anti"))
    }

  /** Serve from the post-delete COMPACTED index — same contract as
    * [[ivfServeDelete]] (shared oracle): masking and erasing must be
    * observationally identical, completing the retention lifecycle:
    * build → grow → delete(mask) → compact(erase) → serve. */
  def ivfServeDeleteCompact(spark: SparkSession, sfDir: String): DataFrame = {
    ensureDeleteCompact(spark, sfDir)
    ivfFlatRetrieve(spark, sfDir, spark.table(tombNames(sfDir)("lists")),
      spark.table(ingestIndexNames(sfDir)("centroids")))
  }

  /** Oracle: the grown-index retrieval over an index that never held
    * the tombstoned vectors. */
  val ivfServeDeleteSql: String =
    mkIvfServeIngestSql(s" AND b.vec_id % $TombMod <> $TombRem")

  /** Identical contract: erasure == masking, observationally. */
  val ivfServeDeleteCompactSql: String = ivfServeDeleteSql

  /** Hard negatives mined per anchor. */
  val HardNegK = 3

  /** Hard-negative mining for contrastive training — the
    * embedding-space complement of the interaction-based
    * [[PipelineOps]] negative sampler: for each anchor vector, the
    * nearest SAME-CELL vectors with a DIFFERENT ground-truth label.
    * Random negatives are trivially separable and teach a contrastive
    * model nothing; the negatives that matter are the ones the current
    * embedding already confuses — by construction, the nearest
    * different-label points. Candidates come from the anchor's IVF
    * cell (the [[knnIvf]] quantizer), so the mining pass is the same
    * Σ|cell|² shape as the kNN graph, never N². Ranked on the
    * 6dp-rounded cosine with id tie-break (the house rule), so the
    * oracle hash-matches.
    */
  def hardNegatives(spark: SparkSession, sfDir: String): DataFrame = {
    val e0 = Tables.embeddings(spark, sfDir)
    // r10 rescan sever: assignment now rides the shared map-side
    // argmax quantizer ([[cellAssignFrom]] — same (csim DESC, cid ASC)
    // winner as the old rank window) with the label re-attached by one
    // keyed join, severed ONCE before the pair join reads it from both
    // sides (the [[mutualEdgesFrom]] precedent; the r9 plan replayed
    // the whole corpus-ranking chain per side, embeddings ×8).
    val assigned = cellAssignFrom(e0, NCells)
      .join(e0.select(col("vec_id"), col("label")), "vec_id")
      .localCheckpoint()
    val anchors = assigned.where(col("vec_id") < NQueries)
    val scored = anchors.as("a")
      .join(assigned.as("b"),
            col("a.cid") === col("b.cid") &&
            col("a.label") =!= col("b.label"))
      .select(col("a.vec_id").as("anchor_id"), col("a.label").as("anchor_label"),
              col("b.vec_id").as("negative_id"), col("b.label").as("negative_label"),
              cosAB.as("cos"))
    TopKByScore.windowRanked(scored, "anchor_id", HardNegK, col("cos").desc, col("negative_id"))
      .select(col("anchor_id"), col("rk"), col("negative_id"),
              col("anchor_label"), col("negative_label"), col("cos"))
      .orderBy("anchor_id", "rk")
  }

  val hardNegativesSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, embedding, label, $normDuck AS nrm FROM embeddings
       |), cellranked AS MATERIALIZED (
       |  SELECT b.vec_id, b.embedding, b.nrm, b.label, a.vec_id AS cid,
       |    row_number() OVER (PARTITION BY b.vec_id
       |      ORDER BY round($dotDuck / (a.nrm * b.nrm), 6) DESC, a.vec_id ASC) AS crk
       |  FROM e b JOIN e a ON a.vec_id < $NCells
       |), assigned AS MATERIALIZED (
       |  SELECT vec_id, embedding, nrm, label, cid FROM cellranked WHERE crk = 1
       |), scored AS (
       |  SELECT a.vec_id AS anchor_id, a.label AS anchor_label,
       |    b.vec_id AS negative_id, b.label AS negative_label,
       |    round($dotDuck / (a.nrm * b.nrm), 6) AS cos
       |  FROM assigned a
       |  JOIN assigned b ON a.cid = b.cid AND a.label <> b.label
       |  WHERE a.vec_id < $NQueries
       |)
       |SELECT anchor_id, rk, negative_id, anchor_label, negative_label, cos FROM (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY anchor_id ORDER BY cos DESC, negative_id ASC) AS rk
       |  FROM scored
       |) WHERE rk <= $HardNegK
       |ORDER BY anchor_id, rk""".stripMargin

  /** Neighbors per vector for the mutual-kNN graph. */
  val MknnK = 5

  /** Mutual-kNN graph construction — the standard preprocessing step
    * for density clustering, graph-based semantic dedup, and manifold
    * methods: a directed edge v→u when u is among v's [[MknnK]]
    * nearest neighbors, kept only when BOTH directions exist (mutual
    * edges are the noise-robust subset: a hub that everyone points at
    * but that points back at almost nobody contributes few edges).
    *
    * The exact all-pairs kNN graph is N² — never viable — so the
    * graph is built WITHIN IVF cells (the same deterministic coarse
    * quantizer as [[knnIvf]]): candidates shrink from N² to Σ|cell|²,
    * and with the standard √N cell sizing the per-cell pair space is
    * linear in N. Cross-cell mutual edges are sacrificed — exactly
    * the approximation every blocked kNN-graph build makes (and the
    * oracle shares the definition, so the check is exact, not
    * recall-based). Cosines are ranked at 6dp and summarized in 1e6
    * fixed-point units, so per-cell means are single IEEE divisions
    * of exact BIGINT sums.
    *
    * Output: one row per cell — vectors, mutual-edge count, mean
    * mutual cosine — the graph-health profile a clustering run reads
    * before trusting downstream components.
    */
  def mutualKnn(spark: SparkSession, sfDir: String): DataFrame =
    mutualKnnSummary(cellAssignFrom(Tables.embeddings(spark, sfDir), NCells),
                     mutualEdges(spark, sfDir))

  /** IVF cell assignment of the whole corpus: every vector in exactly
    * one of the nCells deterministic probe cells.
    *
    * The argmax over cells is a map-side-combinable AGGREGATE, not a
    * window: the N×C scored join projects down to slim (vec_id, cid,
    * csim) rows before a partial max over struct(csim, −cid) — the
    * same (csim DESC, cid ASC) tie-break as the oracle's row_number,
    * since cid is unique — so the shuffle moves at most one slim row
    * per vector. The r7-era window formulation shuffled all N·C rows
    * WITH their embedding arrays through a per-vector sort (~300 B ×
    * N·C — the difference between 300 MB and 300 GB at 10⁶ vectors ×
    * 10³ cells). Embeddings re-attach via one co-keyed vec_id join
    * (corpus-sized equi-join: exactly the shuffle you want at scale;
    * AQE broadcasts the slim side when the corpus is small).
    */
  private[graft] def cellAssignFrom(e0: DataFrame, nCells: Int): DataFrame =
    cellAssignTo(e0, e0, nCells)

  /** Assignment with the quantizer and the corpus DECOUPLED: centroids
    * come from `centSrc` (its `vec_id < nCells` members), the corpus
    * from `e0`. [[cellAssignFrom]] is the self-indexing special case;
    * the ingest path ([[ivfIngest]]) assigns a NEW batch into the
    * FROZEN index by passing the standing corpus as `centSrc`. */
  private[graft] def cellAssignTo(e0: DataFrame, centSrc: DataFrame,
                                  nCells: Int): DataFrame = {
    val e = withNorm(e0.select("vec_id", "embedding"))
    val best = centroidScored(e, centSrc, nCells)
      .select("vec_id", "cid", "csim")
      .groupBy("vec_id")
      .agg(max(struct(col("csim"), (-col("cid")).as("ncid"))).as("__m"))
      .select(col("vec_id"), (-col("__m.ncid")).as("cid"))
    e.join(best, "vec_id")
      .select("vec_id", "embedding", "nrm", "cid")
  }

  /** Memoized mutual-edge table — shared by the per-cell summary and
    * the component rollup (the expensive within-cell pair pass runs
    * once per session). */
  private[graft] def mutualEdges(spark: SparkSession, sfDir: String): DataFrame =
    graft.QueryCache.memo(spark, s"mutual_knn_edges:$sfDir") {
      mutualEdgesFrom(Tables.embeddings(spark, sfDir), NCells, MknnK)
    }

  /** Frame-parameterized core (the scale spec widens cells to ~√N):
    * mutual kNN edges (src < dst, both directions in each other's
    * within-cell top-k) with the 1e6 fixed-point cosine. */
  private[graft] def mutualEdgesFrom(e0: DataFrame, nCells: Int, k: Int): DataFrame = {
    val assigned = cellAssignFrom(e0, nCells)
      .localCheckpoint() // both pair sides read it
    val scored = assigned.as("a")
      .join(assigned.as("b"),
            col("a.cid") === col("b.cid") && col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.cid").as("cell"), col("a.vec_id").as("src"),
              col("b.vec_id").as("dst"), cosAB.as("cos"))
    val knn = TopKByScore.windowRanked(scored, "src", k, col("cos").desc, col("dst"))
      // rank on the 6dp-rounded cosine, summarize in exact fp units
      .select(col("cell"), col("src"), col("dst"),
              round(col("cos") * 1e6).cast("long").as("cos_fp"))
    knn.as("x")
      .join(knn.as("y"), col("x.src") === col("y.dst") &&
            col("x.dst") === col("y.src") && col("x.src") < col("x.dst"))
      .select(col("x.cell").as("cell"), col("x.src").as("src"),
              col("x.dst").as("dst"), col("x.cos_fp").as("cos_fp"))
  }

  private[graft] def mutualKnnSummary(assigned: DataFrame,
                                      edges: DataFrame): DataFrame = {
    val mutual = edges.groupBy("cell")
      .agg(count(lit(1)).as("n"), sum(col("cos_fp")).as("s"))
    assigned.groupBy(col("cid").as("cell"))
      .agg(count(lit(1)).as("n_vecs"))
      .join(mutual, Seq("cell"), "left")
      .select(col("cell"), col("n_vecs"),
              coalesce(col("n"), lit(0L)).as("n_mutual"),
              round(col("s") / (col("n") * lit(1e6)), 6).as("mean_cos"))
      .orderBy("cell")
  }

  /** Force-build the memoized shared tables (Bench warm hook): the
    * mutual-edge table, the filtered-ANN candidate/truth passes, the
    * frozen + rebuilt ingest assignments (each shared by two
    * registered queries), and the persisted serve index (built once,
    * served many — the write IS the warmup by definition). */
  def warm(spark: SparkSession, sfDir: String): Unit = {
    mutualEdges(spark, sfDir).count()
    filteredCand(spark, sfDir).count()
    filteredTruth(spark, sfDir).count()
    ingestFrozen(spark, sfDir).count()
    ingestRebuilt(spark, sfDir).count()
    ensureServeIndex(spark, sfDir)
    // the ingest-lineage index: base build + the batch append + the
    // compaction rewrite (one-time writes the serve queries then read)
    ensureIngestAppend(spark, sfDir)
    ensureIngestCompact(spark, sfDir)
    // r14: the r13-build lifecycle stores were missing from the warm
    // stage, so their one-time writes ran inside whichever query
    // touched them first (q_pq_ingest_recall's first run paid ~11.5 s
    // of PQ codebook/code/vector store builds before 1.5 s of actual
    // retrieval) — the exact misattribution the warm stage exists to
    // prevent (Bench.scala's documented feature-store methodology;
    // every pre-r13 ensure* hook is already here).
    ensurePqIngestAppend(spark, sfDir)
    ensureDeleteCompact(spark, sfDir)
  }

  /** Semantic components over the mutual-kNN graph — graph-based
    * clustering without a K: connected components of the mutual edge
    * set yield the corpus's natural similarity families (the
    * SemDeDup-adjacent view a curation pipeline uses when cluster
    * COUNT is unknown a priori). Rides the memoized edge table and
    * the shared min-label/pointer-jump component loop
    * ([[PipelineOps.connectedComponents]]), so the cost beyond the
    * kNN pass is the log-diameter label fixpoint over an edge list
    * bounded by N·k/2.
    */
  def mutualKnnClusters(spark: SparkSession, sfDir: String): DataFrame =
    PipelineOps.connectedComponents(
      mutualEdges(spark, sfDir)
        .select(col("src").as("doc_a"), col("dst").as("doc_b")))

  /** Shared oracle CTEs: corpus cell assignment → within-cell kNN →
    * mutual edge list (src < dst). */
  private val mutualEdgeCtes: String =
    s"""e AS (
       |  SELECT vec_id, embedding, $normDuck AS nrm FROM embeddings
       |), cellranked AS MATERIALIZED (
       |  SELECT b.vec_id, b.embedding, b.nrm, a.vec_id AS cid,
       |    row_number() OVER (PARTITION BY b.vec_id
       |      ORDER BY round($dotDuck / (a.nrm * b.nrm), 6) DESC, a.vec_id ASC) AS crk
       |  FROM e b JOIN e a ON a.vec_id < $NCells
       |), assigned AS MATERIALIZED (
       |  SELECT vec_id, embedding, nrm, cid FROM cellranked WHERE crk = 1
       |), scored AS (
       |  SELECT a.cid AS cell, a.vec_id AS src, b.vec_id AS dst,
       |    round($dotDuck / (a.nrm * b.nrm), 6) AS cos
       |  FROM assigned a
       |  JOIN assigned b ON a.cid = b.cid AND a.vec_id <> b.vec_id
       |), knn AS MATERIALIZED (
       |  SELECT cell, src, dst, round(cos * 1000000)::BIGINT AS cos_fp
       |  FROM (
       |    SELECT cell, src, dst, cos,
       |      row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst ASC) AS rk
       |    FROM scored
       |  ) WHERE rk <= $MknnK
       |), me AS MATERIALIZED (
       |  SELECT x.cell, x.src, x.dst, x.cos_fp
       |  FROM knn x JOIN knn y
       |    ON x.src = y.dst AND x.dst = y.src AND x.src < x.dst
       |)""".stripMargin

  val mutualKnnSql: String =
    s"""WITH $mutualEdgeCtes, mutual AS (
       |  SELECT cell, count(*) AS n, sum(cos_fp) AS s FROM me GROUP BY cell
       |), cells AS (
       |  SELECT cid AS cell, count(*) AS n_vecs FROM assigned GROUP BY cid
       |)
       |SELECT c.cell, c.n_vecs, coalesce(m.n, 0)::BIGINT AS n_mutual,
       |  round(m.s / (m.n * 1000000.0), 6) AS mean_cos
       |FROM cells c LEFT JOIN mutual m ON m.cell = c.cell
       |ORDER BY c.cell""".stripMargin

  /** Oracle: transitive closure over the same mutual edges (recursive
    * CTE — fine at oracle scale; the engine side is the one that has
    * to survive 100 TB and rides the log-diameter label loop). */
  val mutualKnnClustersSql: String =
    s"""WITH RECURSIVE $mutualEdgeCtes, sym AS (
       |  SELECT src, dst FROM me
       |  UNION ALL
       |  SELECT dst, src FROM me
       |), reach(src, dst) AS (
       |  SELECT src, dst FROM sym
       |  UNION
       |  SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src
       |), lbl AS (
       |  SELECT src AS v, least(src, min(dst)) AS label FROM reach GROUP BY src
       |)
       |SELECT label AS cluster_id, count(*) AS n_docs,
       |  string_agg(v::VARCHAR, ',' ORDER BY v) AS members
       |FROM lbl GROUP BY label
       |ORDER BY cluster_id""".stripMargin

  /** LSH tier: MLlib BucketedRandomProjectionLSH (Euclidean buckets as
    * the cosine surrogate on ~unit-norm vectors), seed-pinned. ONE
    * distributed `approxSimilarityJoin` between the query subset and
    * the corpus (bucket-colocated join) + per-query top-K — no
    * driver-side loop over queries, so the shape survives a query set
    * of any size. Rows-only driver check; invariants in tests.
    */
  def knnLsh(spark: SparkSession, sfDir: String): DataFrame = {
    // array_to_vector is the codegen-friendly built-in bridge into
    // ml.Vector (it wants array<double>, so cast the float array first)
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), org.apache.spark.ml.functions.array_to_vector(
        col("embedding").cast("array<double>")).as("features"))
    val lsh = new BucketedRandomProjectionLSH()
      .setInputCol("features").setOutputCol("hashes")
      .setBucketLength(1.0).setNumHashTables(4).setSeed(42L)
    val model = lsh.fit(e)
    val hashed = model.transform(e).cache()
    val queries = hashed.where(col("vec_id") < NQueries)
    val joined = model.approxSimilarityJoin(queries, hashed, 10.0, "dist")
      .select(col("datasetA.vec_id").as("query_id"),
              col("datasetB.vec_id").as("neighbor_id"),
              round(col("dist"), 6).as("dist"))
      .where(col("query_id") =!= col("neighbor_id"))
    TopKByScore.windowRanked(joined, "query_id", K, col("dist").asc, col("neighbor_id"))
      .select(col("query_id"), col("rk"), col("neighbor_id"), col("dist"))
      .orderBy("query_id", "rk")
  }

  /** Hyperplanes for the deterministic sign-random-projection LSH. */
  val HpPlanes = 32
  /** Bits per band (HpPlanes / HpBands). */
  val HpBandBits = 8
  /** Fixed-point scale for the projection arithmetic. */
  val HpScale = 1000

  /** Deterministic random-hyperplane LSH (sign random projection /
    * SimHash-for-vectors, Charikar 2002) — the fully SQL-expressible
    * ANN tier, unlike the seed-dependent MLlib tier above: hyperplane
    * p's ±1 component at dimension d derives from the engine-portable
    * h32(md5(p-d-hp)) parity, each vector's 32-bit sign signature is
    * computed in integer fixed-point (quantized values × ±1, summed —
    * exact, order-independent), signatures split into 4 bands of
    * [[HpBandBits]] bits (OR-amplification), candidates = any shared
    * band, then exact cosine re-rank of candidates only. Everything —
    * planes, signatures, candidates, final ranks — hash-matches the
    * oracle.
    *
    * Scale shape: the signs table is planes×dims rows (broadcast); the
    * signature pass is one aggregate over the exploded corpus; the
    * candidate join shuffles on (band, bsig) — the bucket key — never
    * all-pairs; the verify join touches only candidates. This is the
    * production ANN-index shape with the randomness made reproducible.
    */
  def lshHyperplane(spark: SparkSession, sfDir: String): DataFrame = {
    val full = withNorm(Tables.embeddings(spark, sfDir).select("vec_id", "embedding"))
    // spread: the dim-explode + plane-sum otherwise runs on the small
    // file's single scan task (r13, Tables.spread)
    val e = Tables.spread(Tables.embeddings(spark, sfDir), "vec_id")
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .withColumn("q", round(col("v").cast("double") * HpScale, 0).cast("long"))
    val signs = e.select("pos").distinct()
      .crossJoin(spark.range(HpPlanes).toDF("p"))
      .withColumn("s", when(expr(
        "cast(conv(substring(md5(concat_ws('-', cast(p AS string), cast(pos AS string), 'hp')), 1, 8), 16, 10) AS bigint)") % 2 === 0,
        lit(1L)).otherwise(lit(-1L)))
    val bits = e.join(broadcast(signs), "pos")
      .groupBy("vec_id", "p")
      .agg((sum(col("q") * col("s")) >= 0).cast("long").as("bit"))
    val bands = bits
      .groupBy(col("vec_id"), (col("p") / HpBandBits).cast("long").as("band"))
      .agg(sum(expr(s"shiftleft(bit, cast(p % $HpBandBits AS int))")).as("bsig"))
    val cands = bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bsig") === col("b.bsig") &&
          col("a.vec_id") =!= col("b.vec_id") && col("a.vec_id") < NQueries)
      .select(col("a.vec_id").as("qid"), col("b.vec_id").as("nid"))
      .distinct()
    val scored = cands
      .join(full.select(col("vec_id").as("qid"), col("embedding"), col("nrm")).as("a"), "qid")
      .join(full.select(col("vec_id").as("nid"), col("embedding"), col("nrm")).as("b"), "nid")
      .select(col("qid").as("query_id"), col("nid").as("neighbor_id"), cosAB.as("cos"))
    TopKByScore.windowRanked(scored, "query_id", K, col("cos").desc, col("neighbor_id"))
      .select(col("query_id"), col("rk"), col("neighbor_id"), col("cos"))
      .orderBy("query_id", "rk")
  }

  val lshHyperplaneSql: String =
    s"""WITH eq AS (
       |  SELECT vec_id, i - 1 AS pos, round(embedding[i]::DOUBLE * $HpScale)::BIGINT AS q
       |  FROM embeddings
       |  CROSS JOIN (SELECT unnest(range(1, (SELECT max(len(embedding)) + 1 FROM embeddings))) AS i)
       |), signs AS (
       |  SELECT p, pos,
       |    CASE WHEN ('0x' || substr(md5(p || '-' || pos || '-' || 'hp'), 1, 8))::BIGINT % 2 = 0
       |         THEN 1 ELSE -1 END AS s
       |  FROM (SELECT unnest(range(0, $HpPlanes)) AS p)
       |  CROSS JOIN (SELECT DISTINCT pos FROM eq)
       |), bits AS (
       |  SELECT eq.vec_id, signs.p,
       |    CASE WHEN sum(eq.q * signs.s) >= 0 THEN 1 ELSE 0 END AS bit
       |  FROM eq JOIN signs ON eq.pos = signs.pos
       |  GROUP BY eq.vec_id, signs.p
       |), bands AS (
       |  SELECT vec_id, p // $HpBandBits AS band,
       |    sum(bit * (1 << (p % $HpBandBits)))::BIGINT AS bsig
       |  FROM bits GROUP BY vec_id, p // $HpBandBits
       |), cand AS (
       |  SELECT DISTINCT a.vec_id AS qid, b.vec_id AS nid
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bsig = b.bsig AND a.vec_id <> b.vec_id
       |  WHERE a.vec_id < $NQueries
       |), e AS (
       |  SELECT vec_id, embedding, $normDuck AS nrm FROM embeddings
       |), scored AS (
       |  SELECT c.qid AS query_id, c.nid AS neighbor_id,
       |    round($dotDuck / (a.nrm * b.nrm), 6) AS cos
       |  FROM cand c
       |  JOIN e a ON a.vec_id = c.qid
       |  JOIN e b ON b.vec_id = c.nid
       |), ranked AS (
       |  SELECT query_id, neighbor_id, cos,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rk
       |  FROM scored
       |)
       |SELECT query_id, rk, neighbor_id, cos
       |FROM ranked WHERE rk <= $K
       |ORDER BY query_id, rk""".stripMargin

  /** RRF rank constant (the standard 60 from Cormack et al.). */
  val RrfK = 60L
  /** Depth of the dense candidate list fed into the fusion. */
  val RrfDepth = 20
  /** Fused rows returned. */
  val RrfTop = 20
  /** Fixed-point scale: contribution = RrfUnits div (RrfK + rank). */
  val RrfUnits = 1000000000L

  /** Hybrid retrieval via reciprocal-rank fusion — the modern
    * lexical+dense composition: the BM25 ranking (TextAnalysis
    * .bm25Rank, fixed term query) fused with the dense cosine ranking
    * around query vector 0 (doc and vec ids share the 0..N-1 space by
    * fixture construction). RRF score = Σ_lists units div (k + rank) —
    * rank-only fusion, so the two engines' float score scales never
    * meet: everything after the two input rankings is exact integer
    * arithmetic. Docs missing from a list contribute nothing (their
    * rank reports 0 in the output). Why RRF and not score mixing:
    * BM25 and cosine live on incomparable scales; rank fusion needs
    * no calibration, which is also exactly what makes it
    * oracle-checkable.
    *
    * Scale shape: both input lists are top-K (bounded) — the fusion
    * itself is a K-row full-outer join + sort, free at any corpus
    * size; total cost is the two underlying retrieval queries, each
    * already scale-shaped (BM25: map + broadcast stats +
    * TakeOrdered; dense: broadcast query row past the corpus).
    */
  def hybridRrf(spark: SparkSession, sfDir: String): DataFrame = {
    val lex = TextAnalysis.bm25Rank(spark, sfDir)
      .select(col("doc_id"), col("rk").as("bm25_rk"))
    val dense = knnBruteFrom(Tables.embeddings(spark, sfDir), 1, RrfDepth)
      .select(col("neighbor_id").as("doc_id"), col("rk").as("knn_rk"))
    rrfFuse(lex, dense)
  }

  /** The fusion core over any (doc_id, bm25_rk) × (doc_id, knn_rk)
    * pair of ranked lists — factored out so the overlap semantics (a
    * doc on BOTH lists gets the summed contribution and outranks
    * single-list docs of like rank) is pinned on a constructed input
    * in LlmPipelineSpec; the fixture's two lists happen to be disjoint.
    */
  private[graft] def rrfFuse(lex: DataFrame, dense: DataFrame): DataFrame =
    lex.join(dense, Seq("doc_id"), "full_outer")
      .withColumn("rrf_units",
        coalesce(expr(s"${RrfUnits}L div (${RrfK}L + bm25_rk)"), lit(0L)) +
        coalesce(expr(s"${RrfUnits}L div (${RrfK}L + knn_rk)"), lit(0L)))
      .withColumn("bm25_rk", coalesce(col("bm25_rk"), lit(0)))
      .withColumn("knn_rk", coalesce(col("knn_rk"), lit(0)))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("rrf_units").desc, col("doc_id").asc)))
      .where(col("rk") <= RrfTop)
      .select("rk", "doc_id", "bm25_rk", "knn_rk", "rrf_units")
      .orderBy("rk")

  /** Oracle: both input rankings restated as derived tables (the BM25
    * statement verbatim from its own oracle; the dense list is the
    * brute-force oracle specialized to one query), then the identical
    * integer fusion.
    */
  val hybridRrfSql: String =
    s"""WITH lex AS (
       |  SELECT doc_id, rk AS bm25_rk FROM (
       |${TextAnalysis.bm25RankSql.linesIterator.map("    " + _).mkString("\n")}
       |  )
       |), dense AS (
       |  SELECT neighbor_id AS doc_id, rk AS knn_rk FROM (
       |    WITH e AS (
       |      SELECT vec_id, embedding, $normDuck AS nrm FROM embeddings
       |    ), scored AS (
       |      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
       |        round($dotDuck / (a.nrm * b.nrm), 6) AS cos
       |      FROM e a JOIN e b ON a.vec_id < 1 AND a.vec_id <> b.vec_id
       |    )
       |    SELECT neighbor_id, rk FROM (
       |      SELECT neighbor_id, cos,
       |        row_number() OVER (ORDER BY cos DESC, neighbor_id ASC) AS rk
       |      FROM scored
       |    ) WHERE rk <= $RrfDepth
       |  )
       |), f AS (
       |  SELECT coalesce(lex.doc_id, dense.doc_id) AS doc_id,
       |    lex.bm25_rk, dense.knn_rk,
       |    (coalesce($RrfUnits // ($RrfK + lex.bm25_rk), 0)
       |     + coalesce($RrfUnits // ($RrfK + dense.knn_rk), 0))::BIGINT AS rrf_units
       |  FROM lex FULL JOIN dense ON lex.doc_id = dense.doc_id
       |)
       |SELECT rk, doc_id, coalesce(bm25_rk, 0) AS bm25_rk,
       |  coalesce(knn_rk, 0) AS knn_rk, rrf_units
       |FROM (
       |  SELECT doc_id, bm25_rk, knn_rk, rrf_units,
       |    row_number() OVER (ORDER BY rrf_units DESC, doc_id ASC) AS rk
       |  FROM f
       |) WHERE rk <= $RrfTop
       |ORDER BY rk""".stripMargin

  /** Truncation tiers audited against the full 64-dim ranking. */
  val MatryoshkaDims: Seq[Int] = Seq(8, 16, 32)

  /** Matryoshka truncation audit (Kusupati et al. 2022, arXiv:
    * 2205.13147): measure recall@[[K]] of brute-force retrieval over
    * PREFIX-truncated embeddings against the full-dimension ranking —
    * the "how few dims can the first-stage retriever read" table that
    * prices the memory/recall trade of matryoshka-style indexes (a
    * d-dim prefix scan reads d/64 of the bytes; at 100 TB of vectors
    * that is the difference between an in-memory and an on-disk
    * first stage).
    *
    * Scale shape: each tier is the exact tier's plan (broadcast query
    * side, one ranked window) over a map-side `slice` projection —
    * the fixture-honest correctness tier; a production first stage
    * swaps in the IVF/LSH candidate generators over the same sliced
    * column. The hit join is (query, neighbor) equi-keyed and
    * K·queries-bounded. Ties round to 6dp with id tie-break before
    * ranking, so every tier is engine-stable.
    */
  def matryoshka(spark: SparkSession, sfDir: String): DataFrame =
    matryoshkaFrom(Tables.embeddings(spark, sfDir), NQueries, K)

  private[graft] def matryoshkaFrom(emb: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val truth = knnBruteFrom(emb, nQueries, k)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
    val levels = MatryoshkaDims.map { d =>
      knnBruteFrom(emb.select(col("vec_id"),
          expr(s"slice(embedding, 1, $d)").as("embedding")), nQueries, k)
        .select(lit(d).as("dims"), col("query_id"), col("neighbor_id"))
    }.reduce(_ unionByName _)
    levels.join(broadcast(truth), Seq("query_id", "neighbor_id"), "left")
      .groupBy("dims")
      .agg(count(lit(1)).as("n_retrieved"), sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
      .withColumn("n_queries", lit(nQueries))
      .withColumn("recall", round(col("n_hits") / lit(nQueries * k).cast("double"), 4))
      .select("dims", "n_queries", "n_retrieved", "n_hits", "recall")
      .orderBy("dims")
  }

  val matryoshkaSql: String = {
    def tier(d: Int, tag: String, sliceLen: Int) =
      s"""e$tag AS (
         |  SELECT vec_id, list_slice(embedding, 1, $sliceLen) AS embedding FROM embeddings
         |), n$tag AS (
         |  SELECT vec_id, embedding, $normDuck AS nrm FROM e$tag
         |), t$tag AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |      row_number() OVER (PARTITION BY a.vec_id
         |        ORDER BY round($dotDuck / (a.nrm * b.nrm), 6) DESC, b.vec_id ASC) AS rk
         |    FROM n$tag a JOIN n$tag b ON a.vec_id < $NQueries AND a.vec_id <> b.vec_id
         |  ) WHERE rk <= $K
         |)""".stripMargin
    val tiers = (tier(64, "full", 9999) +: MatryoshkaDims.map(d => tier(d, d.toString, d)))
      .mkString(",\n")
    val unions = MatryoshkaDims.map { d =>
      s"""SELECT $d AS dims, $NQueries AS n_queries, count(*) AS n_retrieved,
         |  sum(CASE WHEN t.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_hits,
         |  round(sum(CASE WHEN t.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
         |        / ${NQueries * K}::DOUBLE, 4) AS recall
         |FROM t$d a LEFT JOIN tfull t
         |  ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"WITH $tiers\n$unions\nORDER BY dims"
  }

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_matryoshka", matryoshka _, Some(matryoshkaSql)),
    QuerySpec("q_knn_bruteforce", knnBruteForce _, Some(knnBruteForceSql)),
    QuerySpec("q_knn_ivf", knnIvf _, Some(knnIvfSql)),
    QuerySpec("q_ivf_pq", ivfPq _, Some(ivfPqSql)),
    QuerySpec("q_ivf_pq_filtered", ivfPqFiltered _, Some(ivfPqFilteredSql)),
    QuerySpec("q_ivf_serve", ivfServe _, Some(ivfServeSql)),
    QuerySpec("q_ivf_serve_filtered", ivfServeFiltered _, Some(ivfServeFilteredSql)),
    QuerySpec("q_ivf_serve_ingest", ivfServeIngest _, Some(ivfServeIngestSql)),
    QuerySpec("q_ivf_serve_compact", ivfServeCompact _, Some(ivfServeCompactSql)),
    QuerySpec("q_ivf_serve_pq_ingest", ivfServePqIngest _, Some(ivfServePqIngestSql)),
    QuerySpec("q_pq_ingest_recall", pqIngestRecall _, Some(pqIngestRecallSql)),
    QuerySpec("q_ivf_serve_delete", ivfServeDelete _, Some(ivfServeDeleteSql)),
    QuerySpec("q_ivf_serve_delete_compact", ivfServeDeleteCompact _, Some(ivfServeDeleteCompactSql)),
    QuerySpec("q_ivf_pq_rerank_curve", ivfPqRerankCurve _, Some(ivfPqRerankCurveSql)),
    QuerySpec("q_ivf_recall_curve", ivfRecallCurve _, Some(ivfRecallCurveSql)),
    QuerySpec("q_knn_filtered", knnFiltered _, Some(knnFilteredSql)),
    QuerySpec("q_knn_filtered_curve", knnFilteredCurve _, Some(knnFilteredCurveSql)),
    QuerySpec("q_ivf_ingest", ivfIngest _, Some(ivfIngestSql)),
    QuerySpec("q_ivf_ingest_recall", ivfIngestRecall _, Some(ivfIngestRecallSql)),
    QuerySpec("q_hard_negatives", hardNegatives _, Some(hardNegativesSql)),
    QuerySpec("q_mutual_knn", mutualKnn _, Some(mutualKnnSql)),
    QuerySpec("q_mutual_knn_clusters", mutualKnnClusters _, Some(mutualKnnClustersSql)),
    // MLlib hashing — not SQL-expressible, rows-only check
    QuerySpec("q_knn_lsh", knnLsh _, None),
    QuerySpec("q_lsh_hyperplane", lshHyperplane _, Some(lshHyperplaneSql)),
    QuerySpec("q_hybrid_rrf", hybridRrf _, Some(hybridRrfSql)),
  )
}
