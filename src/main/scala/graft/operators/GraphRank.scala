package graft.operators

import graft.{QueryCache, QueryFamily, QuerySpec}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Graph-derived item importance over the co-purchase graph
  * (SURVEY.md §2.9 family — the "item rank" companion to the CF
  * similarity operators; reference repos ship this as the
  * graph-embedding / hot-item stage of the recommend pipeline).
  *
  * Two operators:
  *  - [[itemPagerank]] — damped PageRank over the mirrored co-purchase
  *    graph, run for a FIXED number of rounds in integer fixed-point
  *    arithmetic, so every engine computes bit-identical ranks (no
  *    float-summation order dependence, no convergence-threshold
  *    nondeterminism). The oracle unrolls the same rounds as chained
  *    CTEs — aggregates inside recursive CTEs are not portable, a
  *    fixed-depth unroll is.
  *  - [[pairPmi]] — pointwise mutual information of co-purchased item
  *    pairs: lift = P(i,j)/(P(i)·P(j)) as one IEEE-exact expression,
  *    ln applied once at the end and rounded, so ranking is stable.
  *
  * Scale design: the per-round shuffle is ONE aggregate over the edge
  * list keyed by dst (partial map-side sums apply); the rank vector is
  * |items| rows — broadcast into the edge join, so iterations never
  * shuffle the edge table itself. That per-round broadcast assumes a
  * CATALOG-sized node set (~16 bytes/node ⇒ low-GB driver+executor
  * copies up to ~10⁸ nodes); past [[BroadcastNodeCeiling]] — user-item
  * bipartite graphs, web-scale corpora — the hint is dropped and
  * ranks⋈edges runs as a shuffled equi-join on src (on a real cluster
  * both sides would be pre-bucketed by src so rounds reuse the
  * partitioning). Same recurrence either way; PlanShapeSpec pins both
  * branch plans. Edge weights and out-degrees are
  * computed once and persisted across rounds. Integer fixed-point uses
  * 1e12 total mass: rank·w stays < 2^63 while item co-counts stay
  * below ~9e6 per edge; a 100 TB deployment with hotter edges would
  * move the contribution product to DECIMAL(38,0) — same plan shape.
  */
object GraphRank extends QueryFamily {

  /** Fixed PageRank rounds (unrolled identically in the oracle). */
  val Rounds = 5
  /** Edge support floor: co-purchase pairs seen fewer than this many
    * times are noise (the long tail of the pair distribution is co=1);
    * dropping them shrinks the iterated edge list ~5× with no visible
    * effect on the top ranks — the standard graph-sparsification step
    * before any iterative computation at scale.
    */
  val EdgeMinCo = 2
  /** Damping factor, as integer percent (d = 0.85). */
  val DampPct = 85
  /** Node-count ceiling for broadcasting the rank vector into the
    * per-round edge join (~16 bytes/node ⇒ ~1.6 GB of driver+executor
    * copies at 10⁸ — the documented limit of the broadcast plan).
    * Above it the same recurrence runs with ranks⋈edges as a shuffled
    * equi-join on src; on a real cluster both sides would be bucketed
    * by src so every round reuses the partitioning. The branch is
    * decided once per call from the already-computed |V|.
    */
  val BroadcastNodeCeiling = 100000000L
  /** Total rank mass in fixed-point units (1e12). */
  val TotalUnits = 1000000000000L
  /** Rows emitted: top items by final rank. */
  val TopOut = 20

  /** Minimum co-occurrence count for a pair to get a PMI score (rare
    * pairs have unreliable lift — the standard support floor). */
  val MinCo = 3
  /** Rows emitted: top pairs by PMI. */
  val PmiTop = 50

  /** Damped PageRank over the mirrored co-purchase graph, edge weight
    * = pair co-occurrence count from the shared CF pair aggregate
    * ([[Recsys.itemPairAgg]] — binary `co` projection). Rank mass is
    * integer fixed-point: rank0 = TotalUnits div |V|; each round
    *   contrib(j) = Σ_i (rank(i)·w(i,j)) div out_w(i)
    *   rank'(j)   = ((100-d)·base + d·contrib(j)) div 100
    * — all BIGINT ops, so the result is exactly reproducible on any
    * engine, any partitioning, any round. Output: top [[TopOut]] items
    * by (rank desc, item asc) with their final fixed-point rank.
    */
  def itemPagerank(spark: SparkSession, sfDir: String): DataFrame =
    itemPagerank(spark, sfDir, BroadcastNodeCeiling)

  /** Ceiling-parameterized variant so the shuffled-join branch is
    * exercisable in tests without a 10⁸-node fixture. */
  private[graft] def itemPagerank(spark: SparkSession, sfDir: String,
                                  bcastCeiling: Long): DataFrame = {
    val nodes = copurchaseNodes(spark, sfDir)
    val nV = nodes.count() // one tiny driver-side count to fix the base rank
    pagerankOf(copurchaseEw(spark, sfDir), nodes, nV, bcastCeiling)
      .withColumn("rk", row_number().over(Window.orderBy(col("rank").desc, col("item").asc)))
      .where(col("rk") <= TopOut)
      .select(col("rk"), col("item").as("item_id"), col("rank").as("rank_units"))
      .orderBy("rk")
  }

  /** The broadcast-vs-shuffle choice of every ceiling-parameterized
    * operator: broadcast `df` into its join only when it `fits`. */
  private[graft] def bcastIf(fits: Boolean)(df: DataFrame): DataFrame =
    if (fits) broadcast(df) else df

  /** The co-purchase half-edge list (item_i < item_j, co ≥ `minCo`)
    * from the shared pair aggregate — every graph operator's edges. */
  private[graft] def halfEdges(spark: SparkSession, sfDir: String,
                               minCo: Int = EdgeMinCo): DataFrame =
    Recsys.unpack(Recsys.itemPairAgg(spark, sfDir).select("pk", "co"), "item_i", "item_j")
      .where(col("co") >= minCo)
      .select("item_i", "item_j", "co")

  /** `vecSrc`⋈edges keyed by src, `term` summed by dst into (item, s). */
  private def contribJoin(ew: DataFrame, vecSrc: DataFrame, term: Column,
                          fitsBroadcast: Boolean): DataFrame =
    ew.join(bcastIf(fitsBroadcast)(vecSrc), "src")
      .groupBy(col("dst").as("item"))
      .agg(term.as("s"))

  private def rankTerm: Column = sum(expr("(rank * w) div ow"))

  /** One round's contribution aggregate — ranks⋈edges keyed by src,
    * summed by dst. Factored out so the plan of the hot per-round join
    * is assertable in PlanShapeSpec on both sides of the ceiling (the
    * loop's localCheckpoint truncates it out of the final plan). */
  private[graft] def rankContribJoin(ew: DataFrame, rankSrc: DataFrame,
                                     fitsBroadcast: Boolean): DataFrame =
    contribJoin(ew, rankSrc, rankTerm, fitsBroadcast)

  /** The integer vertex walk of PageRank, RWR and Katz: `v` starts at
    * `init`; each round sums `term` over in-edges into `s` and sets `v`
    * to `next` (`s` is null where no edge arrives).
    *
    * r14 NOTE (measured, kept for the record): fusing all rounds into
    * ONE job (no per-round localCheckpoint — legal here, the chain
    * references the previous vector once per round) was TRIED and
    * MEASURED SLOWER in an interleaved A/B under identical load
    * (pagerank 2.0→3.2 s, rwr 2.1→3.3 s, katz 1.55→2.2 s medians):
    * each run re-plans and re-codegens the full nested R-round plan
    * and AQE re-optimizes it at every exchange, which costs more than
    * the R−1 scheduler round-trips it saves. The per-round sever keeps
    * each round a tiny cached-codegen plan; reverted. */
  private def walk(ew: DataFrame, nodes: DataFrame, v: String, init: Column,
                   term: Column, next: Column, rounds: Int,
                   fitsBroadcast: Boolean): DataFrame = {
    var x = nodes.withColumn(v, init).localCheckpoint()
    for (_ <- 1 to rounds) {
      val contrib = contribJoin(ew, x.withColumnRenamed("item", "src"), term, fitsBroadcast)
      x = nodes.join(contrib, Seq("item"), "left")
        .select(col("item"), next.as(v))
        .localCheckpoint() // the vector is |items| rows; truncate lineage per round
    }
    x
  }

  /** Mirror a one-direction (src, dst, w) half-edge frame into the
    * undirected edge table with out-weights attached — the build step
    * every pagerankOf consumer shares (co-purchase graph here, the
    * TextRank word graph in [[TextAnalysis.textrankEw]]). */
  private[operators] def mirrorWithOutW(half: DataFrame): DataFrame = {
    val edges = half.unionByName(
      half.select(col("dst").as("src"), col("src").as("dst"), col("w")))
    edges.join(edges.groupBy("src").agg(sum("w").as("ow")), "src")
  }

  /** Memoized co-purchase edge table with out-degree attached
    * (src, dst, w, ow) — the iterated input of the PageRank-family
    * recurrences and the hop BFS (one build serves them all, the
    * feature-store pattern of [[Recsys.itemPairAgg]]). A few
    * partitions are plenty for the sparsified graph: per-round task
    * scheduling otherwise dominates the tiny per-task work. The
    * out-degree join is left unhinted — AQE broadcasts the
    * node-sized side from runtime stats at catalog scale, and at a
    * web-scale node count the same build degrades gracefully to a
    * shuffled join.
    */
  private[graft] def copurchaseEw(spark: SparkSession, sfDir: String): DataFrame =
    QueryCache.memo(spark, s"copurchase_ew:$sfDir") {
      mirrorWithOutW(halfEdges(spark, sfDir).select(
        col("item_i").as("src"), col("item_j").as("dst"), col("co").as("w")))
        // r14 (guide §2.4 share the exchange — the simrank memo trick):
        // the cached layout is hash(dst, 8), so every PageRank-family
        // round's contribution aggregate (groupBy dst after the
        // broadcast rank join, which preserves the child layout) rides
        // the memo's partitioning with ZERO per-round exchange; 8
        // partitions for the reason in the scaladoc above.
        .repartition(8, col("dst"))
    }

  /** Memoized node set of [[copurchaseEw]]. */
  private[graft] def copurchaseNodes(spark: SparkSession, sfDir: String): DataFrame =
    QueryCache.memo(spark, s"copurchase_nodes:$sfDir") {
      copurchaseEw(spark, sfDir).select(col("src").as("item")).distinct()
    }

  /** The strongest hub (max ow, ties to the smaller id): the seed of
    * [[rwrProximity]] and [[shortestPaths]]. */
  private def hubSeed(ew: DataFrame): Long =
    ew.select("src", "ow").distinct()
      .orderBy(col("ow").desc, col("src").asc)
      .select("src").head().getLong(0)

  /** Force-build the memoized graph tables (see [[Recsys.warm]]). */
  def warm(spark: SparkSession, sfDir: String): Unit = {
    copurchaseEw(spark, sfDir).count()
    copurchaseNodes(spark, sfDir).count()
    lpaLabels(spark, sfDir).count()
  }

  /** The iterated integer PageRank recurrence over ANY (src, dst, w,
    * ow) edge frame + node frame — extracted so the scale spec can
    * drive it with a synthetic multi-million-edge graph on both sides
    * of the broadcast ceiling (the fixture's sparsified graph is
    * catalog-sized). Returns the final (item, rank) vector. */
  private[graft] def pagerankOf(ew: DataFrame, nodes: DataFrame,
                                nV: Long, bcastCeiling: Long): DataFrame = {
    require(nV > 0, "pagerankOf: empty graph")
    val base = TotalUnits / nV
    walk(ew, nodes, "rank", lit(base), rankTerm,
      expr(s"(${100 - DampPct} * ${base}L + $DampPct * coalesce(s, 0L)) div 100"),
      Rounds, nV <= bcastCeiling)
  }

  /** The unrolled integer-PageRank round CTEs pr1..prN — ONE
    * definition of the recurrence's SQL replay, spliced into every
    * oracle that unrolls [[pagerankOf]] (q_item_pagerank here,
    * q_textrank_keywords in TextAnalysis); expects CTEs `nodes`,
    * `ew(src, dst, w, ow)`, `b(base)` and `pr0` in scope. An edit to
    * the recurrence (damping, floor-div) now changes every replay
    * together. */
  private[operators] def prRoundsSql(nRounds: Int): String =
    (1 to nRounds).map { k =>
      s"""pr$k AS MATERIALIZED (
         |  SELECT nd.item,
         |    ((${100 - DampPct} * (SELECT base FROM b) + $DampPct * coalesce(c.s, 0)) // 100)::BIGINT AS rank
         |  FROM nodes nd LEFT JOIN (
         |    SELECT e.dst AS item, sum((p.rank * e.w) // e.ow)::BIGINT AS s
         |    FROM ew e JOIN pr${k - 1} p ON p.item = e.src
         |    GROUP BY e.dst
         |  ) c ON c.item = nd.item
         |)""".stripMargin
    }.mkString(", ")

  /** Oracle: the identical fixed-point recurrence, unrolled as pr0..prN
    * chained CTEs (same integer ops; `//` is BIGINT floor-div in DuckDB
    * = `div` in Spark for the non-negative values here). */
  val itemPagerankSql: String = {
    val rounds = prRoundsSql(Rounds)
    s"""WITH ${Recsys.cappedSql}, r AS (
       |  SELECT user_id, item_id FROM capped
       |), pairs AS MATERIALIZED (
       |  SELECT a.item_id AS item_i, b.item_id AS item_j, count(*) AS co
       |  FROM r a JOIN r b ON a.user_id = b.user_id AND a.item_id < b.item_id
       |  GROUP BY 1, 2
       |), edges AS (
       |  SELECT item_i AS src, item_j AS dst, co AS w FROM pairs WHERE co >= $EdgeMinCo
       |  UNION ALL
       |  SELECT item_j AS src, item_i AS dst, co AS w FROM pairs WHERE co >= $EdgeMinCo
       |), ow AS (
       |  SELECT src, sum(w)::BIGINT AS ow FROM edges GROUP BY src
       |), ew AS MATERIALIZED (
       |  SELECT e.src, e.dst, e.w, o.ow FROM edges e JOIN ow o ON o.src = e.src
       |), nodes AS (
       |  SELECT DISTINCT src AS item FROM edges
       |), b AS (
       |  SELECT ($TotalUnits // count(*))::BIGINT AS base FROM nodes
       |), pr0 AS (
       |  SELECT item, (SELECT base FROM b) AS rank FROM nodes
       |), $rounds
       |SELECT rk, item AS item_id, rank AS rank_units FROM (
       |  SELECT item, rank,
       |    row_number() OVER (ORDER BY rank DESC, item ASC) AS rk
       |  FROM pr$Rounds
       |) WHERE rk <= $TopOut
       |ORDER BY rk""".stripMargin
  }

  /** PMI of co-purchased item pairs over the capped interaction set:
    * pmi(i,j) = ln( co(i,j)·U / (n_i·n_j) ) with U = |users|, n_i =
    * |users of i| — the association-rule "lift" in log space, the
    * classic co-occurrence feature for related-item shelves. Counts are
    * exact integers, the ratio and ln are one IEEE expression rounded
    * to 6 dp, support-floored at [[MinCo]]. Top [[PmiTop]] pairs by
    * (pmi desc, item_i, item_j).
    */
  def pairPmi(spark: SparkSession, sfDir: String): DataFrame = {
    val nUsers = Recsys.cappedInteractions(spark, sfDir)
      .agg(countDistinct(col("user_id")).as("u"))
    // Global top-K via orderBy().limit() — Catalyst plans a parallel
    // TakeOrderedAndProject (per-partition partial top-K, then a K-row
    // merge on the driver). The row_number window this replaces sorted
    // the ENTIRE scored pair table in one partition — the largest
    // single stage in the round-3 bench (26 s at sf0.1).
    val top = countedPairs(spark, sfDir)
      .crossJoin(broadcast(nUsers))
      .withColumn("pmi", round(log(col("co") * col("u") / (col("ni") * col("nj"))), 6))
      .orderBy(col("pmi").desc, col("item_i").asc, col("item_j").asc)
      .limit(PmiTop)
    top.withColumn("rk", row_number().over(
        Window.orderBy(col("pmi").desc, col("item_i").asc, col("item_j").asc)))
      .select(col("rk"), col("item_i"), col("item_j"), col("co"), col("pmi"))
      .orderBy("rk")
  }

  /** The [[MinCo]] pairs with both items' user counts (ni, nj) attached
    * from the broadcast item-count table — shared by PMI and Jaccard. */
  private def countedPairs(spark: SparkSession, sfDir: String): DataFrame = {
    val counts = Recsys.cappedInteractions(spark, sfDir)
      .groupBy("item_id").agg(count(lit(1)).as("n"))
    halfEdges(spark, sfDir, MinCo)
      .join(broadcast(counts.select(col("item_id").as("item_i"), col("n").as("ni"))), "item_i")
      .join(broadcast(counts.select(col("item_id").as("item_j"), col("n").as("nj"))), "item_j")
  }

  val pairPmiSql: String =
    s"""WITH ${Recsys.cappedSql}, r AS (
       |  SELECT user_id, item_id FROM capped
       |), u AS (
       |  SELECT count(DISTINCT user_id) AS u FROM r
       |), counts AS (
       |  SELECT item_id, count(*) AS n FROM r GROUP BY item_id
       |), pairs AS MATERIALIZED (
       |  SELECT a.item_id AS item_i, b.item_id AS item_j, count(*) AS co
       |  FROM r a JOIN r b ON a.user_id = b.user_id AND a.item_id < b.item_id
       |  GROUP BY 1, 2
       |), scored AS (
       |  SELECT p.item_i, p.item_j, p.co,
       |    round(ln(p.co * (SELECT u FROM u) / (ci.n * cj.n)), 6) AS pmi
       |  FROM pairs p
       |  JOIN counts ci ON ci.item_id = p.item_i
       |  JOIN counts cj ON cj.item_id = p.item_j
       |  WHERE p.co >= $MinCo
       |)
       |SELECT rk, item_i, item_j, co, pmi FROM (
       |  SELECT item_i, item_j, co, pmi,
       |    row_number() OVER (ORDER BY pmi DESC, item_i ASC, item_j ASC) AS rk
       |  FROM scored
       |) WHERE rk <= $PmiTop
       |ORDER BY rk""".stripMargin

  /** Edge support floor for the triangle count — higher than
    * [[EdgeMinCo]] because the wedge join is quadratic in per-node
    * degree, so triangle counting wants a sparser graph than the
    * per-edge PageRank walk (the standard densest-subgraph guard).
    */
  val TriMinCo = 3
  /** Items reported (top by triangle membership). */
  val TriTop = 25

  /** Triangle counting over the co-purchase graph (edges = pairs with
    * co ≥ [[TriMinCo]]) — the clustering-coefficient numerator, the
    * classic "how clique-ish is this item's neighborhood" signal.
    * Node-iterator formulation on the oriented (i<j) edge list: wedge =
    * e(a,b)⋈e(b,c) on the shared middle vertex with a<b<c by
    * construction... then one semi-join against e(a,c) closes the
    * triangle. Counts are exact integers. Per-item membership counts
    * come from one generator over the closed triangle's three corners.
    *
    * Scale: the oriented wedge join is the textbook distributed
    * triangle algorithm (shuffle on vertex); degree-ordering the
    * orientation (low-degree→high-degree) is the further refinement a
    * power-law graph would need — noted, not required at this graph's
    * near-uniform degree.
    */
  def triangleCount(spark: SparkSession, sfDir: String): DataFrame = {
    val e = halfEdges(spark, sfDir, TriMinCo)
      .select(col("item_i").as("a"), col("item_j").as("b"))
    val tris = trianglesOf(e)
    val corners = tris.select(explode(array(col("a"), col("m"), col("c"))).as("item_id"))
      .groupBy("item_id").agg(count(lit(1)).as("n_triangles"))
    val total = tris.agg(count(lit(1)).as("n"))
    corners.crossJoin(broadcast(total))
      .orderBy(col("n_triangles").desc, col("item_id").asc)
      .limit(TriTop)
      .withColumn("rk", row_number().over(
        Window.orderBy(col("n_triangles").desc, col("item_id").asc)))
      .select(col("rk"), col("item_id"), col("n_triangles"), col("n").as("total_triangles"))
      .orderBy("rk")
  }

  /** Triangles (a, m, c), a < m < c, of an oriented (a, b) half-edge
    * frame: the wedge join on the middle vertex, closed by one
    * semi-join against e(a, c). */
  private def trianglesOf(e: DataFrame): DataFrame =
    e.select(col("a"), col("b").as("m"))
      .join(e.select(col("a").as("m"), col("b").as("c")), "m")
      .join(e.select(col("a"), col("b").as("c")), Seq("a", "c"), "left_semi")
      .select("a", "m", "c")

  val triangleCountSql: String =
    s"""WITH ${Recsys.cappedSql}, r AS (
       |  SELECT user_id, item_id FROM capped
       |), e AS (
       |  SELECT a.item_id AS a, b.item_id AS b
       |  FROM r a JOIN r b ON a.user_id = b.user_id AND a.item_id < b.item_id
       |  GROUP BY 1, 2 HAVING count(*) >= $TriMinCo
       |), tris AS (
       |  SELECT w.a, w.m, w.c
       |  FROM (SELECT e1.a, e1.b AS m, e2.b AS c
       |        FROM e e1 JOIN e e2 ON e1.b = e2.a) w
       |  WHERE EXISTS (SELECT 1 FROM e WHERE e.a = w.a AND e.b = w.c)
       |), corners AS (
       |  SELECT unnest([a, m, c]) AS item_id FROM tris
       |), agg AS (
       |  SELECT item_id, count(*) AS n_triangles FROM corners GROUP BY item_id
       |)
       |SELECT rk, item_id, n_triangles,
       |  (SELECT count(*) FROM tris) AS total_triangles
       |FROM (
       |  SELECT item_id, n_triangles,
       |    row_number() OVER (ORDER BY n_triangles DESC, item_id ASC) AS rk
       |  FROM agg
       |) WHERE rk <= $TriTop
       |ORDER BY rk""".stripMargin

  /** Pairs reported by the Jaccard query. */
  val JacTop = 100

  /** Item–item Jaccard similarity |N(i)∩N(j)| / |N(i)∪N(j)| — the
    * set-overlap companion to the cosine tiers (Jaccard punishes
    * popularity imbalance harder). Rides the shared memoized pair
    * aggregate and the tiny broadcast item-count table: ZERO new
    * shuffles beyond the global top-K merge.
    */
  def cooccurJaccard(spark: SparkSession, sfDir: String): DataFrame = {
    val top = countedPairs(spark, sfDir)
      .withColumn("jaccard", round(col("co") / (col("ni") + col("nj") - col("co")), 6))
      .orderBy(col("jaccard").desc, col("item_i").asc, col("item_j").asc)
      .limit(JacTop)
    top.withColumn("rk", row_number().over(
        Window.orderBy(col("jaccard").desc, col("item_i").asc, col("item_j").asc)))
      .select("rk", "item_i", "item_j", "co", "jaccard")
      .orderBy("rk")
  }

  val cooccurJaccardSql: String =
    s"""WITH ${Recsys.cappedSql}, r AS (
       |  SELECT user_id, item_id FROM capped
       |), counts AS (
       |  SELECT item_id, count(*) AS n FROM r GROUP BY item_id
       |), pairs AS MATERIALIZED (
       |  SELECT a.item_id AS item_i, b.item_id AS item_j, count(*) AS co
       |  FROM r a JOIN r b ON a.user_id = b.user_id AND a.item_id < b.item_id
       |  GROUP BY 1, 2 HAVING count(*) >= $MinCo
       |), scored AS (
       |  SELECT p.item_i, p.item_j, p.co,
       |    round(p.co / (ci.n + cj.n - p.co)::DOUBLE, 6) AS jaccard
       |  FROM pairs p
       |  JOIN counts ci ON ci.item_id = p.item_i
       |  JOIN counts cj ON cj.item_id = p.item_j
       |)
       |SELECT rk, item_i, item_j, co, jaccard FROM (
       |  SELECT item_i, item_j, co, jaccard,
       |    row_number() OVER (ORDER BY jaccard DESC, item_i ASC, item_j ASC) AS rk
       |  FROM scored
       |) WHERE rk <= $JacTop
       |ORDER BY rk""".stripMargin

  /** BFS hop limit. */
  val BfsMaxHops = 4

  /** Multi-source BFS over the co-purchase graph: minimum hop distance
    * from the graph's lowest item id (the deterministic "hub" probe),
    * bounded at [[BfsMaxHops]] hops, reported as a hop histogram with
    * per-hop id extremes plus the count of items unreachable within
    * the bound. The reachability/diameter probe for any graph feature
    * pipeline. Frontier expansion is one join + one aggregate per hop
    * — the textbook distributed BFS ([[hopBfs]]). All integers ⇒
    * exact oracle (recursive CTE, min-hop after).
    */
  def itemBfs(spark: SparkSession, sfDir: String): DataFrame =
    itemBfs(spark, sfDir, BroadcastNodeCeiling)

  private[graft] def itemBfs(spark: SparkSession, sfDir: String,
                             bcastCeiling: Long): DataFrame = {
    val nodes = copurchaseNodes(spark, sfDir)
    // a frontier can approach |V| rows by the middle hops, so it rides a
    // broadcast only under the same node ceiling as the pagerank rank
    // vector; above it the hop step is a shuffled semi-equi-join on src
    val dist = hopBfs(copurchaseEw(spark, sfDir).select("src", "dst"),
      nodes.agg(min("item").as("item")), Nil, BfsMaxHops, nodes.count() <= bcastCeiling)
    val hist = dist.groupBy("d")
      .agg(count(lit(1)).as("n_items"), min("item").as("min_item"), max("item").as("max_item"))
    val unreachable = nodes.join(dist, Seq("item"), "left_anti")
      .agg(coalesce(count(lit(1)), lit(0L)).as("n_items"))
      .select(lit(-1L).as("d"), col("n_items"), lit(null).cast("long").as("min_item"),
              lit(null).cast("long").as("max_item"))
    hist.unionByName(unreachable).orderBy("d")
  }

  /** Multi-source hop BFS over mirrored (src, dst) edges: (tags…, item,
    * d) for every state within `hops` of a `seeds` row (tags…, item).
    * The tags ride every grouping — none for [[itemBfs]], `lid` for
    * [[closenessOf]] — so neither plan gains a key. */
  private def hopBfs(edges: DataFrame, seeds: DataFrame, tags: Seq[String],
                     hops: Int, fitsBroadcast: Boolean): DataFrame = {
    val keys = (tags :+ "item").map(col)
    var dist = seeds.select(keys :+ lit(0L).as("d"): _*).localCheckpoint()
    for (k <- 1 to hops) {
      val frontier = dist.where(col("d") === k - 1)
        .select(tags.map(col) :+ col("item").as("src"): _*)
      val stepped = edges.join(bcastIf(fitsBroadcast)(frontier), "src")
        .select(tags.map(col) :+ col("dst").as("item"): _*).distinct()
        .withColumn("d", lit(k.toLong))
      dist = dist.unionByName(stepped)
        .groupBy(keys: _*).agg(min("d").as("d"))
        .localCheckpoint() // ≤ |tags|·|V| rows; truncate lineage per hop
    }
    dist
  }

  val itemBfsSql: String =
    s"""WITH RECURSIVE ${Recsys.cappedSql}, r AS (
       |  SELECT user_id, item_id FROM capped
       |), pairs AS (
       |  SELECT a.item_id AS item_i, b.item_id AS item_j
       |  FROM r a JOIN r b ON a.user_id = b.user_id AND a.item_id < b.item_id
       |  GROUP BY 1, 2 HAVING count(*) >= $EdgeMinCo
       |), edges AS (
       |  SELECT item_i AS src, item_j AS dst FROM pairs
       |  UNION ALL
       |  SELECT item_j AS src, item_i AS dst FROM pairs
       |), nodes AS (
       |  SELECT DISTINCT src AS item FROM edges
       |), walk(item, d) AS (
       |  SELECT (SELECT min(item) FROM nodes), 0
       |  UNION
       |  SELECT e.dst, w.d + 1
       |  FROM walk w JOIN edges e ON e.src = w.item
       |  WHERE w.d < $BfsMaxHops
       |), dist AS (
       |  SELECT item, min(d) AS d FROM walk GROUP BY item
       |), hist AS (
       |  SELECT d, count(*) AS n_items, min(item) AS min_item, max(item) AS max_item
       |  FROM dist GROUP BY d
       |), unreach AS (
       |  SELECT -1 AS d, count(*) AS n_items,
       |    NULL::BIGINT AS min_item, NULL::BIGINT AS max_item
       |  FROM nodes n WHERE NOT EXISTS (SELECT 1 FROM dist x WHERE x.item = n.item)
       |)
       |SELECT d::BIGINT AS d, n_items, min_item, max_item FROM (
       |  SELECT * FROM hist UNION ALL SELECT * FROM unreach
       |)
       |ORDER BY d""".stripMargin

  /** SimRank decay factor C = [[SimrankCNum]]/[[SimrankCDen]] (0.8,
    * the Jeh–Widom default). */
  val SimrankCNum = 4L
  val SimrankCDen = 5L
  /** Item pairs reported (top by SimRank score). */
  val SimrankTop = 100
  /** Support floor on the round-1 user-pair similarities: user pairs
    * sharing fewer common items contribute nothing to round 2 — the
    * [[EdgeMinCo]]-style sparsifier for the user-pair intermediate
    * (the inter=1 long tail dominates the pair count and carries the
    * smallest s₁ values).
    */
  val SimrankMinInter = 2L
  /** Neighborhood truncation: each user contributes only its top-K
    * most-similar users to round 2 (s₁ desc, id asc). This is THE
    * standard scale lever for SimRank — the round-2 join volume is
    * Σ dᵤ·dᵥ over surviving ordered pairs, so truncation bounds it at
    * |U|·K·cap² regardless of how dense the user-pair space gets (the
    * same discipline as UserCF's TopK neighborhood).
    */
  val SimrankNbrK = 5
  /** Contribution item cap: in round 2 each scored user pair fans out
    * only through each side's top-[[SimrankItemCap]] strongest items
    * (strength desc, item asc). Without it the contribution pair space
    * is Σ dᵤ·dᵥ ≈ |U|·K·MaxHistory² item pairs — ~10⁸ DISTINCT (a,b)
    * groups at sf0.1 (measured: 104 s) because SimRank deliberately
    * scores pairs with no co-occurrence at all. The cap keeps that
    * zero-co property while bounding the fan-out at |U|·K·cap²; the
    * dropped terms are the weakest-preference items on each side.
    */
  val SimrankItemCap = 10

  /** Bipartite SimRank (Jeh–Widom 2002) on the user–item interaction
    * graph, one full alternating round from the identity start, in
    * integer fixed-point — "two items are similar when their users are
    * similar; two users are similar when their items are similar."
    * Unlike every co-occurrence tier (cosine/Jaccard/PMI/Swing), round
    * 2 scores item pairs through OTHER similar-user pairs, so items
    * with few or even zero common users can still rank.
    *
    * With s₀(items) = identity:
    *   round 1 (users):  s₁(u,v) = C·|I(u)∩I(v)| / (dᵤ·dᵥ)
    *   round 2 (items):  s₂(a,b) = C/(dₐ·d_b) · ( co(a,b)·1
    *                       + Σ_{u∈U(a), v∈U(b), u≠v} s₁(u,v) )
    * — the co(a,b) term is the surviving identity diagonal, the Σ runs
    * over ORDERED user pairs (both (u,v) and (v,u)), truncated to each
    * user's top-[[SimrankNbrK]] neighbors above [[SimrankMinInter]]
    * (the neighborhood-truncated tier every at-scale SimRank ships —
    * dropped terms are the SMALLEST s₁ values by construction). All
    * arithmetic is BIGINT fixed-point at [[TotalUnits]] scale
    * (floor-div, same as pagerank), so every engine computes
    * bit-identical scores.
    *
    * Scale: round 1 rides the same capped user-pair space as UserCF
    * (MaxHistory bounds it). Round 2's contribution join is
    * s₁⋈edges⋈edges = Σ dᵤ·dᵥ over surviving ordered pairs ≤
    * |U|·[[SimrankNbrK]]·[[SimrankItemCap]]² — linear in users at
    * fixed knobs (see the cap scaladocs for what each drops). Fixed-point
    * headroom: co·U and the contribution sum stay under 2⁶³ while
    * co < 2·10⁶ and Σ terms < ~10⁶ pairs·U; hotter graphs move units
    * to DECIMAL(38,0) — same plan shape (the pagerank note).
    */
  def simrank(spark: SparkSession, sfDir: String): DataFrame = {
    val r = Recsys.cappedInteractions(spark, sfDir).select("user_id", "item_id")
    val du = r.groupBy("user_id").agg(count(lit(1)).as("du"))
    val di = r.groupBy("item_id").agg(count(lit(1)).as("di"))
    // contribution-side interactions: top-[[SimrankItemCap]] per user
    val wCap = Window.partitionBy(col("user_id"))
      .orderBy(col("strength").desc, col("item_id").asc)
    val rc = Recsys.cappedInteractions(spark, sfDir)
      .withColumn("crk", row_number().over(wCap))
      .where(col("crk") <= SimrankItemCap)
      .select("user_id", "item_id")
    // round-1 user-pair similarities from the SHARED memoized user-pair
    // aggregate (one expansion per session, with UserCF)
    val upairs = Recsys.unpack(Recsys.userPairAgg(spark, sfDir), "u", "v")
      .withColumnRenamed("co", "inter")
      .where(col("inter") >= SimrankMinInter)
    val s1 = upairs // |users|-sized degree attach: unhinted (usercf policy)
      .join(du.select(col("user_id").as("u"), col("du").as("dun")), "u")
      .join(du.select(col("user_id").as("v"), col("du").as("dvn")), "v")
      .select(col("u"), col("v"), expr(
        s"($SimrankCNum * inter * ${TotalUnits}L) div ($SimrankCDen * dun * dvn)").as("s"))
    val s1m = s1.select(explode(array(
        struct(col("u"), col("v"), col("s")),
        struct(col("v").as("u"), col("u").as("v"), col("s")))).as("p"))
      .select(col("p.u").as("u"), col("p.v").as("v"), col("p.s").as("s"))
    // neighborhood truncation: each user keeps its top-K neighbors via
    // the bounded aggregate (partial phase caps map-side — no sort
    // shuffle of the full mirrored pair table; same CF-tier trick).
    // Ranking casts s to double (exact: s < 0.8e12 << 2^53) while the
    // extra slot carries the original BIGINT through unchanged.
    val s1t = graft.functions.TopKByScore.rows(s1m, Seq("u"),
        SimrankNbrK, col("s").cast("double"), col("v"), col("s"))
      .select(col("u"), col("id").as("v"), col("extra").as("s"))
    // round-2 contribution: scored user pair -> every capped (item of u,
    // item of v) combination. The aggregate keys on the PACKED pair
    // (r13, guide §2.4): the memoized item-pair aggregate below is
    // already hash-partitioned by pk from its build, so a pk-keyed
    // full join reuses that layout and the 13M-row model side never
    // re-shuffles (the old (ia, ib)-keyed join exchanged ~134 MB of
    // unpacked pairs per run); the contribution aggregate's own
    // exchange doubles as the join's distribution.
    val contrib = s1t
      .join(rc.select(col("user_id").as("u"), col("item_id").as("ia")), "u")
      .join(rc.select(col("user_id").as("v"), col("item_id").as("ib")), "v")
      .where(col("ia") < col("ib"))
      .select(graft.functions.PairPack.packPair(col("ia"), col("ib")).as("pk"),
        col("s"))
      .groupBy("pk").agg(sum("s").as("cs"))
    // identity diagonal = plain co-occurrence; FULL join keeps the pure
    // SimRank pairs that share no user at all (contrib without co).
    // Both sides pack a<b pairs identically, so pk-equality IS
    // (ia, ib)-equality; unpack after the join, where rows are final.
    val ip = Recsys.itemPairAgg(spark, sfDir).select("pk", "co")
    val scored = Recsys.unpack(
        ip.join(contrib, Seq("pk"), "full")
          .select(col("pk"),
            coalesce(col("co"), lit(0L)).as("co"),
            coalesce(col("cs"), lit(0L)).as("cs")),
        "ia", "ib")
      .join(broadcast(di.select(col("item_id").as("ia"), col("di").as("dia"))), "ia")
      .join(broadcast(di.select(col("item_id").as("ib"), col("di").as("dib"))), "ib")
      .select(col("ia"), col("ib"), expr(
        s"($SimrankCNum * (co * ${TotalUnits}L + cs)) div ($SimrankCDen * dia * dib)")
        .as("sr_units"))
    val top = scored
      .orderBy(col("sr_units").desc, col("ia").asc, col("ib").asc)
      .limit(SimrankTop)
    top.withColumn("rk", row_number().over(
        Window.orderBy(col("sr_units").desc, col("ia").asc, col("ib").asc)))
      .select(col("rk"), col("ia").as("item_i"), col("ib").as("item_j"),
        col("sr_units"), round(col("sr_units") / TotalUnits.toDouble, 6).as("simrank"))
      .orderBy("rk")
  }

  /** |V| of the EdgeMinCo-sparsified co-purchase graph, derived
    * independently of [[copurchaseNodes]] (test hook). */
  private[graft] def sparsifiedNodeCount(spark: SparkSession, sfDir: String): Long =
    halfEdges(spark, sfDir).select(explode(array(col("item_i"), col("item_j"))))
      .distinct().count()

  val simrankSql: String =
    s"""WITH ${Recsys.cappedSql}, r AS (
       |  SELECT user_id, item_id FROM capped
       |), du AS (
       |  SELECT user_id, count(*) AS du FROM r GROUP BY user_id
       |), di AS (
       |  SELECT item_id, count(*) AS di FROM r GROUP BY item_id
       |), upairs AS (
       |  SELECT a.user_id AS u, b.user_id AS v, count(*) AS inter
       |  FROM r a JOIN r b ON a.item_id = b.item_id AND a.user_id < b.user_id
       |  GROUP BY 1, 2 HAVING count(*) >= $SimrankMinInter
       |), s1 AS (
       |  SELECT u, v,
       |    ($SimrankCNum * inter * $TotalUnits) // ($SimrankCDen * d1.du * d2.du) AS s
       |  FROM upairs JOIN du d1 ON d1.user_id = u JOIN du d2 ON d2.user_id = v
       |), s1m AS (
       |  SELECT u, v, s FROM s1 UNION ALL SELECT v AS u, u AS v, s FROM s1
       |), s1t AS (
       |  SELECT u, v, s FROM (
       |    SELECT u, v, s,
       |      row_number() OVER (PARTITION BY u ORDER BY s DESC, v ASC) AS nrk
       |    FROM s1m
       |  ) WHERE nrk <= $SimrankNbrK
       |), rc AS (
       |  SELECT user_id, item_id FROM (
       |    SELECT user_id, item_id,
       |      row_number() OVER (PARTITION BY user_id
       |        ORDER BY strength DESC, item_id ASC) AS crk
       |    FROM capped
       |  ) WHERE crk <= $SimrankItemCap
       |), contrib AS (
       |  SELECT ea.item_id AS ia, eb.item_id AS ib, sum(p.s)::BIGINT AS cs
       |  FROM s1t p
       |  JOIN rc ea ON ea.user_id = p.u
       |  JOIN rc eb ON eb.user_id = p.v
       |  WHERE ea.item_id < eb.item_id
       |  GROUP BY 1, 2
       |), ip AS (
       |  SELECT a.item_id AS ia, b.item_id AS ib, count(*) AS co
       |  FROM r a JOIN r b ON a.user_id = b.user_id AND a.item_id < b.item_id
       |  GROUP BY 1, 2
       |), scored AS (
       |  SELECT x.ia, x.ib,
       |    ($SimrankCNum * (x.co * $TotalUnits + x.cs))
       |      // ($SimrankCDen * d1.di * d2.di) AS sr_units
       |  FROM (
       |    SELECT coalesce(ip.ia, c.ia) AS ia, coalesce(ip.ib, c.ib) AS ib,
       |      coalesce(ip.co, 0) AS co, coalesce(c.cs, 0) AS cs
       |    FROM ip FULL JOIN contrib c ON c.ia = ip.ia AND c.ib = ip.ib
       |  ) x
       |  JOIN di d1 ON d1.item_id = x.ia
       |  JOIN di d2 ON d2.item_id = x.ib
       |)
       |SELECT rk, ia AS item_i, ib AS item_j, sr_units::BIGINT AS sr_units,
       |  round(sr_units / $TotalUnits.0, 6) AS simrank
       |FROM (
       |  SELECT ia, ib, sr_units,
       |    row_number() OVER (ORDER BY sr_units DESC, ia ASC, ib ASC) AS rk
       |  FROM scored
       |) WHERE rk <= $SimrankTop
       |ORDER BY rk""".stripMargin

  /** Synchronous label-propagation rounds (unrolled in the oracle). */
  val LpaRounds = 3
  /** Rows emitted: top communities by size. */
  val LpaTop = 30

  /** One synchronous LPA round: every node adopts the label carrying
    * the largest total edge weight among its neighbors, ties to the
    * SMALLEST label — the deterministic tie-break that makes sync LPA
    * reproducible (async/random-tie LPA is not, which is why this is
    * the only variant an oracle can check). argmax is expressed as
    * max(struct(sum_w, −label)) — an AGGREGATE, not a window — so the
    * per-round cost is two partial-agg shuffles keyed on dst, and the
    * label vector (node-sized) follows the same broadcast-vs-shuffle
    * ceiling policy as the PageRank rank vector. Factored out for
    * plan-shape pinning (the loop's localCheckpoint truncates lineage).
    */
  private[graft] def lpaRound(ew: DataFrame, lbls: DataFrame,
                              fitsBroadcast: Boolean): DataFrame =
    ew.join(bcastIf(fitsBroadcast)(lbls), "src")
      .groupBy(col("dst").as("item"), col("lbl"))
      .agg(sum("w").as("sw"))
      .groupBy("item")
      .agg(max(struct(col("sw"), (-col("lbl")).as("nl"))).as("m"))
      .select(col("item"), (-col("m.nl")).as("lbl"))

  /** Memoized final LPA label vector (src, lbl): labels init to the
    * node id, [[LpaRounds]] synchronous rounds over the mirrored
    * [[EdgeMinCo]]-sparsified co-purchase graph ([[copurchaseEw]] —
    * the same memoized edge table the PageRank family iterates).
    * Integer weights + min-label ties ⇒ bit-identical on any engine.
    * One partition run per session, served to both the community
    * rollup and the modularity audit — the feature-store pattern of
    * [[Recsys.itemPairAgg]].
    */
  private[graft] def lpaLabels(spark: SparkSession, sfDir: String): DataFrame =
    QueryCache.memo(spark, s"lpa_labels:$sfDir") {
      val edges = copurchaseEw(spark, sfDir).select("src", "dst", "w")
      val nV = copurchaseNodes(spark, sfDir).count()
      require(nV > 0, "lpaLabels: empty co-purchase graph")
      val fitsBroadcast = nV <= BroadcastNodeCeiling
      var lbls = copurchaseNodes(spark, sfDir)
        .select(col("item").as("src"), col("item").as("lbl")).localCheckpoint()
      for (_ <- 1 to LpaRounds) {
        lbls = lpaRound(edges, lbls, fitsBroadcast)
          .withColumnRenamed("item", "src")
          .localCheckpoint() // label vector is |items| rows; truncate per round
      }
      lbls
    }

  /** Label-propagation community detection over the mirrored
    * co-purchase graph: the memoized [[lpaLabels]] vector rolled up by
    * final label. The oracle unrolls the rounds as chained CTEs.
    * Output: top [[LpaTop]] communities by (size desc, label asc) with
    * member id range.
    */
  def itemCommunities(spark: SparkSession, sfDir: String): DataFrame =
    lpaLabels(spark, sfDir)
      .groupBy(col("lbl").as("community_id"))
      .agg(count(lit(1)).as("n_items"), min("src").as("min_item"), max("src").as("max_item"))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("n_items").desc, col("community_id").asc)))
      .where(col("rk") <= LpaTop)
      .select("rk", "community_id", "n_items", "min_item", "max_item")
      .orderBy("rk")

  /** Shared oracle CTE chain: capped interactions, the quadratic pair
    * aggregate, the mirrored sparsified `edges`, and the unrolled LPA
    * rounds ending at lp[[LpaRounds]] (item, lbl) — reused verbatim by
    * the community rollup and the modularity audit so both adjudicate
    * the identical partition. `edges` is MATERIALIZED: every unrolled
    * round reads it and the modularity oracle reads it twice more.
    */
  private[operators] val lpaCteChain: String = {
    val rounds = (1 to LpaRounds).map { k =>
      s"""lp$k AS (
         |  SELECT item, lbl FROM (
         |    SELECT e.dst AS item, p.lbl, sum(e.w) AS sw,
         |      row_number() OVER (PARTITION BY e.dst
         |        ORDER BY sum(e.w) DESC, p.lbl ASC) AS rn
         |    FROM edges e JOIN lp${k - 1} p ON p.item = e.src
         |    GROUP BY e.dst, p.lbl
         |  ) WHERE rn = 1
         |)""".stripMargin
    }.mkString(", ")
    s"""${Recsys.cappedSql}, r AS (
       |  SELECT user_id, item_id FROM capped
       |), pairs AS MATERIALIZED (
       |  SELECT a.item_id AS item_i, b.item_id AS item_j, count(*) AS co
       |  FROM r a JOIN r b ON a.user_id = b.user_id AND a.item_id < b.item_id
       |  GROUP BY 1, 2
       |), edges AS MATERIALIZED (
       |  SELECT item_i AS src, item_j AS dst, co AS w FROM pairs WHERE co >= $EdgeMinCo
       |  UNION ALL
       |  SELECT item_j AS src, item_i AS dst, co AS w FROM pairs WHERE co >= $EdgeMinCo
       |), lp0 AS (
       |  SELECT DISTINCT src AS item, src AS lbl FROM edges
       |), $rounds""".stripMargin
  }

  val itemCommunitiesSql: String = {
    s"""WITH $lpaCteChain
       |SELECT rk, lbl AS community_id, n_items, min_item, max_item FROM (
       |  SELECT lbl, count(*) AS n_items, min(item) AS min_item, max(item) AS max_item,
       |    row_number() OVER (ORDER BY count(*) DESC, lbl ASC) AS rk
       |  FROM lp$LpaRounds GROUP BY lbl
       |) WHERE rk <= $LpaTop
       |ORDER BY rk""".stripMargin
  }

  /** Authorities reported by the SALSA walk. */
  val SalsaTop = 20

  /** SALSA hub/authority scores (Lempel–Moran 2001 — HITS with
    * stochastic normalization; the algorithm behind Twitter's
    * Who-To-Follow) on the DIRECTED purchase-sequence graph
    * ([[Recsys.transitionEdges]] — the Markov model's edge list,
    * memoized once per session). Unlike PageRank over the mirrored
    * co-purchase graph, SALSA separates two roles: authorities are
    * items purchase paths LEAD TO, hubs are items that LEAD INTO
    * strong authorities.
    *
    * One and a half alternations from the uniform hub start, exactly
    * the pagerank discipline: row-stochastic contributions
    * (h·w div out_w, then a·w div in_w) in [[TotalUnits]] integer
    * fixed-point — mass is conserved by construction, so no explicit
    * normalization step exists to disagree on, and HITS' unnormalized
    * Σw·h products (which overflow 64-bit at ~10⁶-weight edges) never
    * occur: every contribution is bounded by the sending node's score.
    *
    * Scale: two |edges|-row joins per half-round with the |V|-row
    * score vector broadcast (the pagerank broadcast-ceiling note at
    * [[BroadcastNodeCeiling]] applies identically); degree tables
    * computed once. Self-loops (item followed by itself) are walk
    * no-ops and dropped.
    */
  def salsa(spark: SparkSession, sfDir: String): DataFrame =
    salsa(spark, sfDir, BroadcastNodeCeiling)

  /** Ceiling-parameterized variant (same discipline as
    * [[itemPagerank]]): below the ceiling the node-sized degree and
    * score vectors broadcast into the edge joins; above it the same
    * recurrence runs with shuffled equi-joins. GraphRankSpec proves
    * both branches bit-identical (integer fixed-point). */
  private[graft] def salsa(spark: SparkSession, sfDir: String,
                           bcastCeiling: Long): DataFrame = {
    val e = Recsys.transitionEdges(spark, sfDir)
      .where(col("item_id") =!= col("next_item"))
      .select(col("item_id").as("src"), col("next_item").as("dst"), col("n").as("w"))
    // r14 (guide §2.4 compute shared state once): each degree table is
    // read by TWO driver count jobs AND the final retrieval job, and
    // every un-severed read re-aggregated the whole edge memo (the
    // stage profile showed 8-9 edge-table passes per salsa run) —
    // checkpoint the node-sized degree tables once; the counts below
    // are then free scans of the checkpointed rows
    val outW = e.groupBy("src").agg(sum("w").as("out_w")).localCheckpoint()
    val inW  = e.groupBy("dst").agg(sum("w").as("in_w")).localCheckpoint()
    // tiny driver-side counts fix the uniform start and pick the branch
    val nHub = outW.count()
    require(nHub > 0, "salsa: empty transition graph")
    val fitsBroadcast = math.max(nHub, inW.count()) <= bcastCeiling
    val maybe = bcastIf(fitsBroadcast) _
    val h0 = TotalUnits / nHub
    // a1(j) = sum_i h0 * w(ij) div out_w(i), h0 uniform over hubs
    val a1 = e.join(maybe(outW), "src")
      .select(col("dst"), expr(s"(${h0}L * w) div out_w").as("c"))
      .groupBy("dst").agg(sum("c").as("a1"))
    // h1(i) = sum_j a1(j) * w(ij) div in_w(j)
    val h1 = e.join(maybe(inW), "dst")
      .join(maybe(a1), "dst")
      .select(col("src"), expr("(a1 * w) div in_w").as("c"))
      .groupBy("src").agg(sum("c").as("h1"))
    // a2(j) = sum_i h1(i) * w(ij) div out_w(i)
    val a2 = e.join(maybe(outW), "src")
      .join(maybe(h1), "src")
      .select(col("dst"), expr("(h1 * w) div out_w").as("c"))
      .groupBy("dst").agg(sum("c").as("a2"))
    a2.join(maybe(h1.select(col("src").as("dst"), col("h1"))), Seq("dst"), "left")
      .select(col("dst").as("item_id"),
        col("a2").as("auth_units"), coalesce(col("h1"), lit(0L)).as("hub_units"))
      .orderBy(col("auth_units").desc, col("item_id").asc)
      .limit(SalsaTop)
      .withColumn("rk", row_number().over(
        Window.orderBy(col("auth_units").desc, col("item_id").asc)))
      .select(col("rk"), col("item_id"), col("auth_units"), col("hub_units"),
        round(col("auth_units") / TotalUnits.toDouble, 6).as("authority"),
        round(col("hub_units") / TotalUnits.toDouble, 6).as("hub"))
      .orderBy("rk")
  }

  val salsaSql: String =
    s"""WITH ${Recsys.transitionEdgesSql}, e AS (
       |  SELECT item_id AS src, next_item AS dst, n AS w
       |  FROM trans WHERE item_id <> next_item
       |), ow AS (SELECT src, sum(w)::BIGINT AS out_w FROM e GROUP BY src),
       |iw AS (SELECT dst, sum(w)::BIGINT AS in_w FROM e GROUP BY dst),
       |ns AS (SELECT count(*) AS n_src FROM ow),
       |a1 AS (
       |  SELECT dst, sum((($TotalUnits // n_src) * w) // out_w)::BIGINT AS a1
       |  FROM e JOIN ow USING (src) CROSS JOIN ns GROUP BY dst
       |), h1 AS (
       |  SELECT src, sum((a1 * w) // in_w)::BIGINT AS h1
       |  FROM e JOIN iw USING (dst) JOIN a1 USING (dst) GROUP BY src
       |), a2 AS (
       |  SELECT dst, sum((h1 * w) // out_w)::BIGINT AS a2
       |  FROM e JOIN ow USING (src) JOIN h1 USING (src) GROUP BY dst
       |), top AS (
       |  SELECT a2.dst AS item_id, a2.a2 AS auth_units,
       |    coalesce(h.h1, 0) AS hub_units,
       |    row_number() OVER (ORDER BY a2.a2 DESC, a2.dst ASC) AS rk
       |  FROM a2 LEFT JOIN h1 h ON h.src = a2.dst
       |)
       |SELECT rk, item_id, auth_units, hub_units::BIGINT AS hub_units,
       |  round(auth_units / $TotalUnits.0, 6) AS authority,
       |  round(hub_units / $TotalUnits.0, 6) AS hub
       |FROM top WHERE rk <= $SalsaTop ORDER BY rk""".stripMargin

  /** Degree assortativity of the EdgeMinCo-sparsified co-purchase
    * graph: the Pearson correlation between endpoint degrees over the
    * MIRRORED edge list (each undirected edge contributes both
    * orientations — the standard estimator, Newman 2002). Negative =
    * hub-to-leaf wiring (typical for co-purchase: popular staples
    * co-occur with niche items), positive = hub-to-hub.
    *
    * Scale: degrees are one aggregate over the sparsified edges; the
    * corr runs over |edges| rows with both degree attaches broadcast
    * (|V|-row tables). No quadratic structure anywhere.
    */
  def assortativity(spark: SparkSession, sfDir: String): DataFrame = {
    val half = halfEdges(spark, sfDir)
    val m = half.select(col("item_i").as("a"), col("item_j").as("b"))
      .unionByName(half.select(col("item_j").as("a"), col("item_i").as("b")))
    val deg = m.groupBy("a").agg(count(lit(1)).as("d"))
    m.join(broadcast(deg.select(col("a"), col("d").as("da"))), "a")
      .join(broadcast(deg.select(col("a").as("b"), col("d").as("db"))), "b")
      .agg(
        (count(lit(1)) / 2).cast("long").as("n_edges"),
        countDistinct("a").as("n_nodes"),
        round(avg(col("da").cast("double")), 4).as("avg_degree"),
        round(corr(col("da").cast("double"), col("db").cast("double")), 4)
          .as("assortativity"))
      .select("n_nodes", "n_edges", "avg_degree", "assortativity")
  }

  val assortativitySql: String =
    s"""WITH ${Recsys.cappedSql}, r AS (
       |  SELECT user_id, item_id FROM capped
       |), half AS (
       |  SELECT a.item_id AS item_i, b.item_id AS item_j
       |  FROM r a JOIN r b
       |    ON a.user_id = b.user_id AND a.item_id < b.item_id
       |  GROUP BY 1, 2 HAVING count(*) >= $EdgeMinCo
       |), m AS (
       |  SELECT item_i AS a, item_j AS b FROM half
       |  UNION ALL SELECT item_j AS a, item_i AS b FROM half
       |), deg AS (SELECT a, count(*) AS d FROM m GROUP BY a)
       |SELECT count(DISTINCT m.a)::BIGINT AS n_nodes,
       |  (count(*) / 2)::BIGINT AS n_edges,
       |  round(avg(d1.d), 4) AS avg_degree,
       |  round(corr(d1.d::DOUBLE, d2.d::DOUBLE), 4) AS assortativity
       |FROM m JOIN deg d1 ON d1.a = m.a JOIN deg d2 ON d2.a = m.b""".stripMargin

  /** Rows emitted by the RWR proximity ranking. */
  val RwrTop = 20

  /** Random walk with restart (personalized PageRank) from a
    * deterministic seed item — the strongest-hub item (max total edge
    * weight, ties to the smaller id) of the co-purchase graph. The
    * restart mass re-injects at the SEED only, so the stationary
    * vector measures graph proximity TO THAT ITEM — the "customers
    * also bought, two hops out" ranking that plain PageRank (uniform
    * restart) cannot produce.
    *
    * Same integer fixed-point recurrence and broadcast-vs-shuffle
    * ceiling as [[itemPagerank]]:
    *   rank'(j) = ([j=seed]·(100−d)·U + d·Σ_i rank(i)·w(i,j) div ow(i)) div 100
    * — all BIGINT, bit-identical on any engine/partitioning. The seed
    * lookup is a 1-row driver-side head over the out-weight table (a
    * scalar argument, same class as the CC convergence witness).
    */
  def rwrProximity(spark: SparkSession, sfDir: String): DataFrame =
    rwrProximity(spark, sfDir, BroadcastNodeCeiling)

  private[graft] def rwrProximity(spark: SparkSession, sfDir: String,
                                  bcastCeiling: Long): DataFrame = {
    val ew = copurchaseEw(spark, sfDir)
    val nodes = copurchaseNodes(spark, sfDir)
    val nV = nodes.count()
    require(nV > 0, "rwrProximity: empty co-purchase graph")
    val seed = hubSeed(ew)
    walk(ew, nodes, "rank",
      when(col("item") === seed, lit(TotalUnits)).otherwise(lit(0L)), rankTerm,
      expr(s"((CASE WHEN item = ${seed}L THEN ${100 - DampPct} * ${TotalUnits}L ELSE 0L END)" +
        s" + $DampPct * coalesce(s, 0L)) div 100"),
      Rounds, nV <= bcastCeiling)
      .withColumn("rk", row_number().over(Window.orderBy(col("rank").desc, col("item").asc)))
      .where(col("rk") <= RwrTop)
      .select(col("rk"), col("item").as("item_id"), col("rank").as("rank_units"),
        (col("item") === seed).cast("int").as("is_seed"))
      .orderBy("rk")
  }

  /** Oracle: identical recurrence unrolled, seed chosen by the same
    * (ow desc, src asc) rule as a scalar subquery. */
  val rwrProximitySql: String = {
    val rounds = (1 to Rounds).map { k =>
      s"""pr$k AS MATERIALIZED (
         |  SELECT nd.item,
         |    (((CASE WHEN nd.item = (SELECT s FROM seed)
         |        THEN ${100 - DampPct} * $TotalUnits ELSE 0 END)
         |      + $DampPct * coalesce(c.s, 0)) // 100)::BIGINT AS rank
         |  FROM nodes nd LEFT JOIN (
         |    SELECT e.dst AS item, sum((p.rank * e.w) // e.ow)::BIGINT AS s
         |    FROM ew e JOIN pr${k - 1} p ON p.item = e.src
         |    GROUP BY e.dst
         |  ) c ON c.item = nd.item
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH ${Recsys.cappedSql}, r AS (
       |  SELECT user_id, item_id FROM capped
       |), pairs AS MATERIALIZED (
       |  SELECT a.item_id AS item_i, b.item_id AS item_j, count(*) AS co
       |  FROM r a JOIN r b ON a.user_id = b.user_id AND a.item_id < b.item_id
       |  GROUP BY 1, 2
       |), edges AS (
       |  SELECT item_i AS src, item_j AS dst, co AS w FROM pairs WHERE co >= $EdgeMinCo
       |  UNION ALL
       |  SELECT item_j AS src, item_i AS dst, co AS w FROM pairs WHERE co >= $EdgeMinCo
       |), ow AS (
       |  SELECT src, sum(w)::BIGINT AS ow FROM edges GROUP BY src
       |), seed AS (
       |  SELECT src AS s FROM ow ORDER BY ow DESC, src ASC LIMIT 1
       |), ew AS MATERIALIZED (
       |  SELECT e.src, e.dst, e.w, o.ow FROM edges e JOIN ow o ON o.src = e.src
       |), nodes AS (
       |  SELECT DISTINCT src AS item FROM edges
       |), pr0 AS (
       |  SELECT item,
       |    (CASE WHEN item = (SELECT s FROM seed) THEN $TotalUnits ELSE 0 END)::BIGINT AS rank
       |  FROM nodes
       |), $rounds
       |SELECT rk, item AS item_id, rank AS rank_units,
       |  (CASE WHEN item = (SELECT s FROM seed) THEN 1 ELSE 0 END)::INTEGER AS is_seed
       |FROM (
       |  SELECT item, rank,
       |    row_number() OVER (ORDER BY rank DESC, item ASC) AS rk
       |  FROM pr$Rounds
       |) WHERE rk <= $RwrTop
       |ORDER BY rk""".stripMargin
  }

  /** Bellman–Ford relaxation rounds (= max path hops; unrolled in the
    * oracle) and rows reported. */
  val SpRounds = 3
  val SpTop = 20
  /** Edge cost = SpCostUnit div co — stronger co-purchase ties are
    * cheaper hops, so min-cost paths follow the strongest chains. */
  val SpCostUnit = 1000000L

  /** Hop-bounded weighted shortest paths from the strongest-hub item
    * (same deterministic seed rule as [[rwrProximity]]): [[SpRounds]]
    * min-plus (Bellman–Ford) relaxations over the co-purchase graph
    * with integer edge costs [[SpCostUnit]] div co. The weighted
    * companion to [[itemBfs]] (hop counts): BFS says "reachable in k",
    * this says "HOW STRONGLY connected within k" — the
    * related-items-with-path-strength shelf. All BIGINT arithmetic ⇒
    * engine-exact; paths longer than [[SpRounds]] hops are
    * deliberately not explored (the frontier is a bounded
    * neighborhood, not the whole graph, which is what makes the
    * operator safe on a web-scale graph).
    *
    * Scale: each round is one equi-join of the CURRENT distance
    * frontier (≤ reached nodes) against the memoized edge table +
    * one min-aggregate; localCheckpoint truncates the loop lineage.
    * Emits the [[SpTop]] nearest items by (dist, item).
    */
  def shortestPaths(spark: SparkSession, sfDir: String): DataFrame = {
    val ew = copurchaseEw(spark, sfDir)
    val seed = hubSeed(ew)
    val edges = ew.select(col("src"), col("dst"),
      expr(s"${SpCostUnit}L div w").as("cost"))
    var dist = edges.sparkSession.range(1)
      .select(lit(seed).as("item"), lit(0L).as("dist"))
    for (_ <- 1 to SpRounds) {
      val relaxed = edges.join(dist.withColumnRenamed("item", "src"), "src")
        .select(col("dst").as("item"), (col("dist") + col("cost")).as("dist"))
      dist = dist.unionByName(relaxed)
        .groupBy("item").agg(min("dist").as("dist"))
        .localCheckpoint() // frontier is ≤ |reached nodes| rows per round
    }
    dist
      .withColumn("rk", row_number().over(Window.orderBy(col("dist").asc, col("item").asc)))
      .where(col("rk") <= SpTop)
      .select(col("rk"), col("item").as("item_id"), col("dist").as("path_cost_units"))
      .orderBy("rk")
  }

  /** Oracle: identical min-plus recurrence unrolled. */
  val shortestPathsSql: String = {
    val rounds = (1 to SpRounds).map { k =>
      s"""d$k AS (
         |  SELECT item, min(dist)::BIGINT AS dist FROM (
         |    SELECT item, dist FROM d${k - 1}
         |    UNION ALL
         |    SELECT e.dst AS item, p.dist + ($SpCostUnit // e.w) AS dist
         |    FROM ew e JOIN d${k - 1} p ON p.item = e.src
         |  ) GROUP BY item
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH ${Recsys.cappedSql}, r AS (
       |  SELECT user_id, item_id FROM capped
       |), pairs AS MATERIALIZED (
       |  SELECT a.item_id AS item_i, b.item_id AS item_j, count(*) AS co
       |  FROM r a JOIN r b ON a.user_id = b.user_id AND a.item_id < b.item_id
       |  GROUP BY 1, 2
       |), edges AS (
       |  SELECT item_i AS src, item_j AS dst, co AS w FROM pairs WHERE co >= $EdgeMinCo
       |  UNION ALL
       |  SELECT item_j AS src, item_i AS dst, co AS w FROM pairs WHERE co >= $EdgeMinCo
       |), ow AS (
       |  SELECT src, sum(w)::BIGINT AS ow FROM edges GROUP BY src
       |), seed AS (
       |  SELECT src AS s FROM ow ORDER BY ow DESC, src ASC LIMIT 1
       |), ew AS (
       |  SELECT src, dst, w FROM edges
       |), d0 AS (
       |  SELECT s AS item, 0::BIGINT AS dist FROM seed
       |), $rounds
       |SELECT rk, item AS item_id, dist AS path_cost_units FROM (
       |  SELECT item, dist,
       |    row_number() OVER (ORDER BY dist ASC, item ASC) AS rk
       |  FROM d$SpRounds
       |) WHERE rk <= $SpTop
       |ORDER BY rk""".stripMargin
  }

  /** HITS fixed-point rounds (each = one auth half-step + one hub
    * half-step, both renormalized; unrolled identically in the
    * oracle). 3 rounds separate the authority head clearly on graphs
    * this shape; more rounds only sharpen an already-stable ranking. */
  val HitsRounds = 3
  /** HITS score scale (1e4 fixed-point). Kept deliberately smaller
    * than [[TotalUnits]]: the renorm product a·HitsScale is bounded by
    * |U|·HitsScale² — int64-safe to ~10¹⁰ users at 1e4 (1e6 would cap
    * at ~10⁶ users). Resolution 1e-4 is ample for a top-20 ranking;
    * ties break on item id either way. */
  val HitsScale = 10000L
  /** Rows emitted: top items by final authority. */
  val HitsTop = 20

  /** Kleinberg HITS hubs/authorities on the USER→ITEM bipartite
    * interaction graph: auth(i) = Σ_{u→i} hub(u), hub(u) = Σ_{u→i}
    * auth(i), each half-step renormalized to [[HitsScale]] by the
    * current max (integer floor-div — the fixed-point analogue of the
    * usual L∞ normalization, same move as [[Training]]'s power
    * iteration). Complements [[salsa]]: SALSA divides by degrees
    * (random-walk stationarity), HITS is the unnormalized mutual
    * reinforcement, so high-degree hubs dominate — the classic
    * "authoritative item" score. All arithmetic is BIGINT, so every
    * engine computes bit-identical scores.
    *
    * Scale shape: each half-step is ONE aggregate over the capped edge
    * list (≤ MaxHistory rows/user) with the opposite score vector
    * joined in — broadcast below [[BroadcastNodeCeiling]], shuffled
    * equi-join above (decided once from driver-side |U|/|I| counts);
    * the renorm max is a 1-row broadcast. localCheckpoint truncates
    * per-round lineage exactly as [[pagerankOf]].
    */
  def hits(spark: SparkSession, sfDir: String): DataFrame =
    hits(spark, sfDir, BroadcastNodeCeiling)

  /** Memoized bipartite side sizes of the capped interaction graph —
    * hits()'s broadcast-ceiling decision reads one cached 1-row
    * aggregate instead of launching two fresh distinct-count jobs per
    * invocation (the pagerank family's memoized copurchaseNodes count,
    * applied to the bipartite graph). */
  private def bipartiteMaxSide(spark: SparkSession, sfDir: String): Long =
    graft.QueryCache.memo(spark, s"bipartite_sides:$sfDir") {
      Recsys.cappedInteractions(spark, sfDir)
        .agg(countDistinct("user_id").as("nu"), countDistinct("item_id").as("ni"))
    }.select(greatest(col("nu"), col("ni")).as("mx")).head.getLong(0)

  private[graft] def hits(spark: SparkSession, sfDir: String,
                          bcastCeiling: Long): DataFrame = {
    val e = Recsys.cappedInteractions(spark, sfDir).select("user_id", "item_id")
    val users = e.select("user_id").distinct()
    val maybe = bcastIf(bipartiteMaxSide(spark, sfDir) <= bcastCeiling) _
    def renorm(raw0: DataFrame, key: String, v: String): DataFrame = {
      // checkpoint the raw vector once: it feeds both the 1-row max
      // and the renormed projection (and truncates per-round lineage)
      val raw = raw0.localCheckpoint()
      raw.crossJoin(broadcast(raw.agg(max(col(v)).as("mx"))))
        .select(col(key), expr(s"($v * ${HitsScale}L) div mx").as(v))
    }
    var hub = users.withColumn("h", lit(HitsScale))
    var auth: DataFrame = null
    for (_ <- 1 to HitsRounds) {
      auth = renorm(
        e.join(maybe(hub), "user_id").groupBy("item_id").agg(sum("h").as("a")),
        "item_id", "a")
      hub = renorm(
        e.join(maybe(auth), "item_id").groupBy("user_id").agg(sum("a").as("h")),
        "user_id", "h")
    }
    auth
      .withColumn("rk", row_number().over(Window.orderBy(col("a").desc, col("item_id").asc)))
      .where(col("rk") <= HitsTop)
      .select(col("rk"), col("item_id"), col("a").as("auth_units"),
        round(col("a") / HitsScale.toDouble, 6).as("authority"))
      .orderBy("rk")
  }

  /** Oracle: the identical renormalized recurrence unrolled (a1..aR /
    * h1..hR chained CTEs; `//` = BIGINT floor-div = Spark's `div`). */
  val hitsSql: String = {
    val rounds = (1 to HitsRounds).map { k =>
      s"""a${k}r AS (
         |  SELECT item_id, sum(h)::BIGINT AS a
         |  FROM e JOIN h${k - 1} USING (user_id) GROUP BY item_id
         |), a$k AS (
         |  SELECT item_id, ((a * $HitsScale) // (SELECT max(a) FROM a${k}r))::BIGINT AS a
         |  FROM a${k}r
         |), h${k}r AS (
         |  SELECT user_id, sum(a)::BIGINT AS h
         |  FROM e JOIN a$k USING (item_id) GROUP BY user_id
         |), h$k AS (
         |  SELECT user_id, ((h * $HitsScale) // (SELECT max(h) FROM h${k}r))::BIGINT AS h
         |  FROM h${k}r
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH ${Recsys.cappedSql}, e AS MATERIALIZED (
       |  SELECT user_id, item_id FROM capped
       |), h0 AS (
       |  SELECT DISTINCT user_id, ${HitsScale}::BIGINT AS h FROM e
       |), $rounds
       |SELECT rk, item_id, a AS auth_units,
       |  round(a / $HitsScale.0, 6) AS authority
       |FROM (
       |  SELECT item_id, a,
       |    row_number() OVER (ORDER BY a DESC, item_id ASC) AS rk
       |  FROM a$HitsRounds
       |) WHERE rk <= $HitsTop
       |ORDER BY rk""".stripMargin
  }

  /** Peel rounds for the k-core (unrolled identically in the oracle).
    * A fixed-round peel is the oracle-portable form of the fixpoint;
    * GraphRankSpec proves one extra round changes nothing on the
    * fixture, so the output IS the true k-core there. At genuinely
    * larger diameters more rounds = more chained aggregates, same
    * per-round cost. */
  val KcoreRounds = 6
  /** Core threshold: nodes must keep ≥ this many surviving neighbors. */
  val KcoreK = 3
  /** Rows emitted: top core members by within-core degree. */
  val KcoreTop = 50

  /** k-core decomposition (membership at k = [[KcoreK]]) of the
    * EdgeMinCo-sparsified co-purchase graph: repeatedly drop nodes
    * with current degree < k and restrict edges to surviving
    * endpoints — the standard "dense nucleus" extraction that strips
    * the long tail before community/embedding work. Run for
    * [[KcoreRounds]] fixed peel rounds (deterministic; the fixture
    * reaches the fixpoint well inside them — spec-pinned). Output:
    * top [[KcoreTop]] core members by (within-core degree desc, item
    * asc).
    *
    * Scale shape: per round ONE degree aggregate over the surviving
    * edge list plus two semi-restrictions against the |V|-sized
    * survivor set (broadcast under [[BroadcastNodeCeiling]], shuffled
    * equi-joins above — bucketed by endpoint on a real cluster). The
    * edge list only shrinks; localCheckpoint truncates per-round
    * lineage.
    */
  def kcore(spark: SparkSession, sfDir: String): DataFrame =
    kcore(spark, sfDir, BroadcastNodeCeiling)

  private[graft] def kcore(spark: SparkSession, sfDir: String,
                           bcastCeiling: Long): DataFrame = {
    // kcoreOf peels the i<j half space, so hand it the half list
    // directly — mirroring here would double the upstream pair-agg
    // work only for kcoreOf's a<b normalization to throw half away.
    val m = halfEdges(spark, sfDir)
      .select(col("item_i").as("a"), col("item_j").as("b"))
    // |V| of this EdgeMinCo graph is the memoized copurchaseNodes count
    kcoreOf(m, KcoreK, KcoreRounds, copurchaseNodes(spark, sfDir).count() <= bcastCeiling)
      .withColumn("rk", row_number().over(Window.orderBy(col("d").desc, col("a").asc)))
      .where(col("rk") <= KcoreTop)
      .select(col("rk"), col("a").as("item_id"), col("d").as("core_deg"))
      .orderBy("rk")
  }

  /** The fixed-round peel over ANY mirrored (a, b) edge frame —
    * extracted so the fixpoint spec can drive it at rounds and
    * rounds+1. Returns surviving (a, d) degrees. Input contract: an
    * irreflexive edge frame that is EITHER the full mirrored list or
    * the a<b half list — the `where(a < b)` below normalizes both to
    * the half space (the spec drives the mirrored form, [[kcore]]
    * passes the half list directly).
    *
    * r13 OPTIMIZATION (guide §2.3 shuffle fewer bytes, §1.2 step 1):
    * (1) peel the HALF space — every round's checkpoint materializes
    * half the rows, and degrees come from one explode pass (same
    * counts, since each undirected edge contributes one to each
    * endpoint); (2) EARLY EXIT — the peel is monotone (e_r ⊆ e_{r-1}),
    * so an unchanged edge count means e_r = e_{r-1} and every later
    * round is the identity; the count is ~free on the just-checkpointed
    * frame, and the fixture converges well before [[KcoreRounds]]
    * (GraphRankSpec pins rounds == rounds+1). Output is identical to
    * the full-round mirrored peel by both arguments. */
  private[graft] def kcoreOf(m: DataFrame, k: Int, rounds: Int,
                             fitsBroadcast: Boolean): DataFrame = {
    val maybe = bcastIf(fitsBroadcast) _
    def degrees(half: DataFrame): DataFrame =
      half.select(explode(array(col("a"), col("b"))).as("a"))
        .groupBy("a").agg(count(lit(1)).as("d"))
    var half = m.where(col("a") < col("b")).localCheckpoint()
    var prev = half.count()
    var done = prev == 0L
    var r = 0
    while (r < rounds && !done) {
      val surv = degrees(half).where(col("d") >= k).select("a")
      half = half.join(maybe(surv), "a")
        .join(maybe(surv.withColumnRenamed("a", "b")), "b")
        .select("a", "b")
        .localCheckpoint() // edge list shrinks monotonically per round
      val n = half.count() // the checkpoint just materialized it: ~free
      done = n == prev     // subset + same cardinality ⟹ fixpoint
      prev = n
      r += 1
    }
    degrees(half)
  }

  /** Oracle: identical peel unrolled (s1/e1..sR/eR chained CTEs). */
  val kcoreSql: String = {
    val rounds = (1 to KcoreRounds).map { k =>
      s"""s$k AS (
         |  SELECT a FROM e${k - 1} GROUP BY a HAVING count(*) >= $KcoreK
         |), e$k AS (
         |  SELECT e.a, e.b FROM e${k - 1} e
         |  JOIN s$k x ON x.a = e.a JOIN s$k y ON y.a = e.b
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH ${Recsys.cappedSql}, r AS (
       |  SELECT user_id, item_id FROM capped
       |), pairs AS MATERIALIZED (
       |  SELECT a.item_id AS item_i, b.item_id AS item_j, count(*) AS co
       |  FROM r a JOIN r b ON a.user_id = b.user_id AND a.item_id < b.item_id
       |  GROUP BY 1, 2
       |), e0 AS MATERIALIZED (
       |  SELECT item_i AS a, item_j AS b FROM pairs WHERE co >= $EdgeMinCo
       |  UNION ALL
       |  SELECT item_j AS a, item_i AS b FROM pairs WHERE co >= $EdgeMinCo
       |), $rounds
       |SELECT rk, a AS item_id, d AS core_deg FROM (
       |  SELECT a, d, row_number() OVER (ORDER BY d DESC, a ASC) AS rk
       |  FROM (SELECT a, count(*)::BIGINT AS d FROM e$KcoreRounds GROUP BY a)
       |) WHERE rk <= $KcoreTop
       |ORDER BY rk""".stripMargin
  }

  /** Rows emitted by the local-clustering query. */
  val LccTop = 30

  /** Per-item local clustering coefficient over the [[TriMinCo]]
    * co-purchase graph — cc(i) = 2·t(i) / (d(i)·(d(i)−1)), the
    * "how clique-ish is this item's neighborhood" ratio that separates
    * bundle cores (cc→1) from hub items bridging unrelated baskets
    * (cc→0) — plus the global transitivity 3·T/W (closed triangles
    * over wedges), the corpus-level version of the same signal.
    * Triangles ride the identical oriented wedge join as
    * [[triangleCount]]; cc is ranked on an EXACT fixed-point key
    * (2·t·10⁶ div d·(d−1) — all BIGINT) and transitivity is one IEEE
    * division of two exact integers, so every emitted digit is
    * engine-independent.
    *
    * Scale: one degree aggregate + the sparsified wedge join
    * (quadratic in per-node degree — the [[TriMinCo]] floor is the
    * guard, same note as the triangle count); the per-item rollup and
    * the two global sums are map-side partials.
    */
  def localClustering(spark: SparkSession, sfDir: String): DataFrame =
    localClusteringOf(halfEdges(spark, sfDir, TriMinCo)
      .select(col("item_i").as("a"), col("item_j").as("b")))

  /** The wedge/cc/transitivity computation over ANY oriented (a, b)
    * half-edge frame — extracted so the scale spec can drive it on a
    * synthesized closed-form graph far past the fixture size. */
  private[graft] def localClusteringOf(e: DataFrame): DataFrame = {
    val deg = e.select(col("a").as("item_id"))
      .unionByName(e.select(col("b").as("item_id")))
      .groupBy("item_id").agg(count(lit(1)).as("deg"))
    val tris = trianglesOf(e)
    val perItem = tris.select(explode(array(col("a"), col("m"), col("c"))).as("item_id"))
      .groupBy("item_id").agg(count(lit(1)).as("n_triangles"))
    val globals = tris.agg(count(lit(1)).as("t_total")).crossJoin(
      deg.agg(sum(expr("(deg * (deg - 1)) div 2")).as("w_total")))
      .select(round(lit(3) * col("t_total") / col("w_total"), 6).as("transitivity"))
    deg.where(col("deg") >= 2)
      .join(perItem, Seq("item_id"), "left")
      .withColumn("n_triangles", coalesce(col("n_triangles"), lit(0L)))
      .withColumn("cc_units",
        expr("(2 * n_triangles * 1000000L) div (deg * (deg - 1))"))
      .withColumn("rk", row_number().over(Window.orderBy(
        col("cc_units").desc, col("deg").desc, col("item_id").asc)))
      .where(col("rk") <= LccTop)
      .crossJoin(broadcast(globals))
      .select(col("rk"), col("item_id"), col("deg"), col("n_triangles"),
        col("cc_units"), round(col("cc_units") / 1000000.0d, 6).as("cc"),
        col("transitivity"))
      .orderBy("rk")
  }

  /** Oracle: identical oriented wedge join, fixed-point cc key, and
    * integer transitivity ratio. */
  val localClusteringSql: String =
    s"""WITH ${Recsys.cappedSql}, r AS (
       |  SELECT user_id, item_id FROM capped
       |), e AS MATERIALIZED (
       |  SELECT a.item_id AS a, b.item_id AS b
       |  FROM r a JOIN r b ON a.user_id = b.user_id AND a.item_id < b.item_id
       |  GROUP BY 1, 2 HAVING count(*) >= $TriMinCo
       |), deg AS MATERIALIZED (
       |  SELECT item_id, count(*)::BIGINT AS deg FROM (
       |    SELECT a AS item_id FROM e UNION ALL SELECT b AS item_id FROM e
       |  ) GROUP BY item_id
       |), tris AS MATERIALIZED (
       |  SELECT w.a, w.m, w.c
       |  FROM (SELECT e1.a, e1.b AS m, e2.b AS c
       |        FROM e e1 JOIN e e2 ON e1.b = e2.a) w
       |  WHERE EXISTS (SELECT 1 FROM e WHERE e.a = w.a AND e.b = w.c)
       |), per_item AS (
       |  SELECT item_id, count(*)::BIGINT AS n_triangles
       |  FROM (SELECT unnest([a, m, c]) AS item_id FROM tris) GROUP BY item_id
       |), globals AS (
       |  SELECT round(3 * (SELECT count(*) FROM tris)
       |    / (SELECT sum((deg * (deg - 1)) // 2) FROM deg)::DOUBLE, 6) AS transitivity
       |)
       |SELECT rk, item_id, deg, n_triangles, cc_units,
       |  round(cc_units / 1000000.0, 6) AS cc,
       |  (SELECT transitivity FROM globals) AS transitivity
       |FROM (
       |  SELECT d.item_id, d.deg, coalesce(p.n_triangles, 0) AS n_triangles,
       |    ((2 * coalesce(p.n_triangles, 0) * 1000000) // (d.deg * (d.deg - 1)))::BIGINT AS cc_units,
       |    row_number() OVER (ORDER BY
       |      (2 * coalesce(p.n_triangles, 0) * 1000000) // (d.deg * (d.deg - 1)) DESC,
       |      d.deg DESC, d.item_id ASC) AS rk
       |  FROM deg d LEFT JOIN per_item p ON p.item_id = d.item_id
       |  WHERE d.deg >= 2
       |) WHERE rk <= $LccTop
       |ORDER BY rk""".stripMargin

  /** Rows emitted by the link-prediction query. */
  val AaTop = 50
  /** Middle-degree ceiling for Adamic-Adar wedge generation: a degree-d
    * middle emits d(d−1)/2 candidate pairs while contributing only
    * 1/ln(d) to each — past a few hundred neighbors the wedge cost is
    * quadratic and the signal negligible, so production link
    * predictors drop super-hub middles. The oracle applies the
    * identical cap, keeping engine and oracle equivalent by
    * construction (fixture degrees sit far below it; the spec drives
    * the cap branch with a planted hub).
    */
  val AaMidDegCap = 256L

  /** Adamic-Adar link prediction over the [[TriMinCo]] co-purchase
    * graph (the same robust-edge floor as the triangle count, and for
    * the same reason: wedge expansion is quadratic in degree, and a
    * co=2 edge is noise you'd be predicting MORE noise from — at sf0.1
    * the floor cuts the wedge space from 19.5M to 11k with the top
    * candidates intact): for item pairs NOT currently connected, score
    * AA(i,j) = Σ_{z ∈ N(i)∩N(j)} 1/ln(deg z) — shared rare neighbors
    * are strong evidence, shared hubs weak. The classic "which edge
    * appears next" ranking (Liben-Nowell & Kleinberg 2003), i.e.
    * candidate retrieval for graph-based recommendation.
    *
    * Per-middle contributions are fixed to integer units
    * round(10⁶/ln(d)) BEFORE summation, so pair scores are exact
    * BIGINTs and the ranking is engine-independent (the house
    * fixed-point discipline; ln is one libm call on an integer, where
    * a last-ulp divergence would need the quotient within 10⁻¹⁰ of a
    * rounding boundary to matter). Existing edges leave via one
    * left-anti join against the oriented edge list.
    *
    * Scale: wedge generation is Σ d(d−1)/2 over [[AaMidDegCap]]-capped
    * middles (the hub guard above); the per-middle unit table is
    * node-sized and broadcast; candidate dedup is the pair-keyed
    * aggregate every bucketed ANN/dedup tier already runs.
    */
  def linkPredict(spark: SparkSession, sfDir: String): DataFrame =
    linkPredictOf(halfEdges(spark, sfDir, TriMinCo).select("item_i", "item_j"))

  /** The capped AA expansion over ANY (item_i, item_j) half-edge frame
    * — extracted so the spec can plant a super-cap hub and prove the
    * middle-degree guard drops it. */
  private[graft] def linkPredictOf(e: DataFrame): DataFrame = {
    val adj = e.select(col("item_i").as("mid"), col("item_j").as("x"))
      .unionByName(e.select(col("item_j").as("mid"), col("item_i").as("x")))
    // per-middle sorted neighbor list; the degree cap drops hub lists
    // BEFORE pair expansion (generating a hub's d² wedges only to drop
    // them afterwards is the whole cost the cap exists to avoid), and
    // the expansion itself is the memoized CF aggregate's codegen path:
    // PairPack emits single-long packed keys map-side, so the wedge
    // space shuffles once as (pk, u) instead of twice as two-column
    // join rows. (At a web-scale degree distribution you'd pre-count
    // degrees and semi-join before the collect; here the cap bounds
    // every retained list and a hub's transient list is one row.)
    val lists = adj.groupBy("mid")
      .agg(sort_array(collect_list(col("x"))).as("ns"))
      .where(size(col("ns")) >= 2 && size(col("ns")) <= AaMidDegCap.toInt)
      .withColumn("u",
        round(lit(1000000.0d) / log(size(col("ns")).cast("double")), 0).cast("long"))
    val scored = lists
      .select(col("u"), explode(graft.functions.PairPack.pairPack(col("ns"))).as("pk"))
      .repartition(col("pk"))
      .groupBy("pk")
      .agg(count(lit(1)).as("common_neighbors"), sum("u").as("aa_units"))
    Recsys.unpack(scored, "item_i", "item_j")
      .join(e, Seq("item_i", "item_j"), "left_anti")
      .withColumn("rk", row_number().over(Window.orderBy(
        col("aa_units").desc, col("item_i").asc, col("item_j").asc)))
      .where(col("rk") <= AaTop)
      .select(col("rk"), col("item_i"), col("item_j"), col("common_neighbors"),
        col("aa_units"), round(col("aa_units") / 1000000.0d, 6).as("aa_score"))
      .orderBy("rk")
  }

  /** Oracle: identical capped wedge expansion and fixed-point units. */
  val linkPredictSql: String =
    s"""WITH ${Recsys.cappedSql}, r AS (
       |  SELECT user_id, item_id FROM capped
       |), pairs AS MATERIALIZED (
       |  SELECT a.item_id AS item_i, b.item_id AS item_j, count(*) AS co
       |  FROM r a JOIN r b ON a.user_id = b.user_id AND a.item_id < b.item_id
       |  GROUP BY 1, 2
       |), e AS MATERIALIZED (
       |  SELECT item_i, item_j FROM pairs WHERE co >= $TriMinCo
       |), adj AS MATERIALIZED (
       |  SELECT item_i AS mid, item_j AS x FROM e
       |  UNION ALL
       |  SELECT item_j AS mid, item_i AS x FROM e
       |), u AS (
       |  SELECT mid, round(1000000.0 / ln(d))::BIGINT AS u FROM (
       |    SELECT mid, count(*) AS d FROM adj GROUP BY mid
       |  ) WHERE d >= 2 AND d <= $AaMidDegCap
       |), scored AS (
       |  SELECT a1.x AS item_i, a2.x AS item_j,
       |    count(*)::BIGINT AS common_neighbors, sum(u.u)::BIGINT AS aa_units
       |  FROM adj a1 JOIN adj a2 ON a1.mid = a2.mid AND a1.x < a2.x
       |  JOIN u ON u.mid = a1.mid
       |  GROUP BY 1, 2
       |)
       |SELECT rk, item_i, item_j, common_neighbors, aa_units,
       |  round(aa_units / 1000000.0, 6) AS aa_score
       |FROM (
       |  SELECT s.*, row_number() OVER (ORDER BY s.aa_units DESC,
       |    s.item_i ASC, s.item_j ASC) AS rk
       |  FROM scored s
       |  WHERE NOT EXISTS (SELECT 1 FROM e
       |    WHERE e.item_i = s.item_i AND e.item_j = s.item_j)
       |) WHERE rk <= $AaTop
       |ORDER BY rk""".stripMargin

  /** Newman modularity of the [[lpaLabels]] partition over the
    * weighted mirrored co-purchase graph —
    * Q = Σ_c (w_in_c/m₂ − (d_c/m₂)²) with m₂ the total mirrored
    * weight, w_in_c the mirrored intra-community weight and d_c the
    * community strength sum: the standard "was this community
    * structure worth finding" audit attached to every LPA run before
    * anyone acts on the clusters. All three moment families (m₂,
    * w_in_c, d_c, Σd_c²) are exact BIGINTs; Q and each per-community
    * contribution are closed-form IEEE expressions of them, rounded
    * once (Σd_c² ≤ m₂² — int64-safe to m₂ ≈ 3·10⁹ mirrored weight,
    * i.e. ~10⁹ co-purchase pairs; the DECIMAL(38) escape hatch of
    * revenueGini applies beyond).
    *
    * Scale: two broadcast label attachments onto the memoized edge
    * table (node-sized vector, the PageRank ceiling policy), then
    * community-keyed aggregates; nothing touches the pair space.
    */
  def modularity(spark: SparkSession, sfDir: String): DataFrame = {
    val lbl = lpaLabels(spark, sfDir)
    val maybe = bcastIf(copurchaseNodes(spark, sfDir).count() <= BroadcastNodeCeiling) _
    val ew = copurchaseEw(spark, sfDir)
      .join(maybe(lbl.select(col("src"), col("lbl").as("lc"))), "src")
      .join(maybe(lbl.select(col("src").as("dst"), col("lbl").as("ld"))), "dst")
    val perC = ew.groupBy(col("lc").as("community_id"))
      .agg(sum("w").as("degree_w"),
        sum(when(col("lc") === col("ld"), col("w")).otherwise(lit(0L))).as("internal_w"))
    val sizes = lbl.groupBy(col("lbl").as("community_id"))
      .agg(count(lit(1)).as("n_items"))
    val m2 = ew.agg(sum("w").as("m2"))
    val moments = perC.agg(sum("internal_w").as("s_in"),
      sum(col("degree_w") * col("degree_w")).as("s_d2"))
    val q = moments.crossJoin(broadcast(m2))
      .select(round(col("s_in") / col("m2")
        - (col("s_d2") / col("m2")) / col("m2"), 6).as("q_modularity"))
    perC.join(sizes, "community_id")
      .crossJoin(broadcast(m2))
      .withColumn("contrib", round(col("internal_w") / col("m2")
        - (col("degree_w") / col("m2")) * (col("degree_w") / col("m2")), 6))
      .withColumn("rk", row_number().over(Window.orderBy(
        col("n_items").desc, col("community_id").asc)))
      .where(col("rk") <= LpaTop)
      .crossJoin(broadcast(q))
      .select("rk", "community_id", "n_items", "internal_w", "degree_w",
        "contrib", "q_modularity")
      .orderBy("rk")
  }

  /** Oracle: the shared LPA chain + identical moment algebra. */
  val modularitySql: String =
    s"""WITH $lpaCteChain, lab AS MATERIALIZED (
       |  SELECT item, lbl FROM lp$LpaRounds
       |), ewl AS MATERIALIZED (
       |  SELECT e.w, ls.lbl AS lc, ld.lbl AS ld
       |  FROM edges e JOIN lab ls ON ls.item = e.src
       |  JOIN lab ld ON ld.item = e.dst
       |), m2 AS (SELECT sum(w)::BIGINT AS m2 FROM ewl),
       |per_c AS MATERIALIZED (
       |  SELECT lc AS community_id, sum(w)::BIGINT AS degree_w,
       |    sum(CASE WHEN lc = ld THEN w ELSE 0 END)::BIGINT AS internal_w
       |  FROM ewl GROUP BY lc
       |), sizes AS (
       |  SELECT lbl AS community_id, count(*)::BIGINT AS n_items FROM lab GROUP BY lbl
       |), qv AS (
       |  SELECT round(sum(internal_w) / (SELECT m2 FROM m2)::DOUBLE
       |    - (sum(degree_w * degree_w) / (SELECT m2 FROM m2)::DOUBLE) / (SELECT m2 FROM m2), 6)
       |    AS q_modularity
       |  FROM per_c
       |)
       |SELECT rk, community_id, n_items, internal_w, degree_w, contrib,
       |  (SELECT q_modularity FROM qv) AS q_modularity
       |FROM (
       |  SELECT p.community_id, s.n_items, p.internal_w, p.degree_w,
       |    round(p.internal_w / (SELECT m2 FROM m2)::DOUBLE
       |      - (p.degree_w / (SELECT m2 FROM m2)::DOUBLE)
       |        * (p.degree_w / (SELECT m2 FROM m2)::DOUBLE), 6) AS contrib,
       |    row_number() OVER (ORDER BY s.n_items DESC, p.community_id ASC) AS rk
       |  FROM per_c p JOIN sizes s ON s.community_id = p.community_id
       |) WHERE rk <= $LpaTop
       |ORDER BY rk""".stripMargin

  /** Katz attenuation α as an integer ratio (α = 0.05; must sit below
    * 1/λ_max of the adjacency for the series to be meaningful — at
    * α·max_indegree ≥ 1 the fixed-point units also outgrow int64
    * within a few rounds, the same DECIMAL(38) escape hatch the other
    * fixed-point recurrences document). */
  val KatzAlphaNum = 5L
  val KatzAlphaDen = 100L
  /** β injection per node per round, in fixed-point units (1e9). */
  val KatzUnit = 1000000000L
  /** Fixed rounds — c_K sums attenuated path counts of length ≤ K. */
  val KatzRounds = 4
  /** Rows emitted: top items by Katz index. */
  val KatzTop = 25

  /** Katz centrality over the sparsified co-purchase graph — the
    * attenuated-path-count complement of the centrality family
    * ([[itemPagerank]] = stationary visit mass, [[hits]] = mutual
    * reinforcement, [[kcore]] = cohesion depth): c(v) = Σ_k α^k ·
    * |paths of length k ending at v|, computed as the fixed-round
    * recurrence c_k(v) = Σ_{u→v} α·(1 + c_{k-1}(u)) in integer
    * fixed-point ([[KatzUnit]] = the "1", α = [[KatzAlphaNum]]/
    * [[KatzAlphaDen]] with BIGINT floor-div), so every round is
    * exactly reproducible cross-engine. Unweighted adjacency — Katz
    * counts paths, not co-purchase mass; the sparsification floor
    * ([[EdgeMinCo]]) already removed noise edges.
    *
    * Scale: same shape as [[pagerankOf]] — per round ONE equi-join of
    * the edge list with the |V|-row index vector (broadcast under
    * [[BroadcastNodeCeiling]], shuffled-join above it) and one
    * aggregate by dst; the vector localCheckpoints per round to
    * truncate lineage. Output is a global top-[[KatzTop]] on the
    * exact integer index (TakeOrderedAndProject — no tie hazard).
    */
  def katz(spark: SparkSession, sfDir: String): DataFrame =
    katz(spark, sfDir, BroadcastNodeCeiling)

  private[graft] def katz(spark: SparkSession, sfDir: String,
                          bcastCeiling: Long): DataFrame = {
    val nodes = copurchaseNodes(spark, sfDir)
    katzOf(copurchaseEw(spark, sfDir).select("src", "dst"), nodes, nodes.count(), bcastCeiling)
      .withColumn("rk", row_number().over(
        Window.orderBy(col("katz").desc, col("item").asc)))
      .where(col("rk") <= KatzTop)
      .select(col("rk"), col("item").as("item_id"), col("katz").as("katz_units"))
      .orderBy("rk")
  }

  /** The iterated integer Katz recurrence over ANY (src, dst) edge
    * frame + node frame — frame-parameterized like [[pagerankOf]] so
    * the scale spec can drive it off-fixture on both ceiling sides. */
  private[graft] def katzOf(edges: DataFrame, nodes: DataFrame,
                            nV: Long, bcastCeiling: Long): DataFrame = {
    require(nV > 0, "katzOf: empty graph")
    walk(edges, nodes, "katz", lit(0L),
      sum(expr(s"($KatzAlphaNum * (${KatzUnit}L + katz)) div $KatzAlphaDen")),
      coalesce(col("s"), lit(0L)), KatzRounds, nV <= bcastCeiling)
  }

  /** Oracle: the identical recurrence unrolled as kz0..kzN chained
    * MATERIALIZED CTEs over the same capped-interaction edge build. */
  val katzSql: String = {
    val rounds = (1 to KatzRounds).map { k =>
      s"""kz$k AS MATERIALIZED (
         |  SELECT nd.item, coalesce(c.s, 0)::BIGINT AS katz
         |  FROM nodes nd LEFT JOIN (
         |    SELECT e.dst AS item,
         |      sum(($KatzAlphaNum * ($KatzUnit + p.katz)) // $KatzAlphaDen)::BIGINT AS s
         |    FROM ew e JOIN kz${k - 1} p ON p.item = e.src
         |    GROUP BY e.dst
         |  ) c ON c.item = nd.item
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH ${Recsys.cappedSql}, r AS (
       |  SELECT user_id, item_id FROM capped
       |), pairs AS MATERIALIZED (
       |  SELECT a.item_id AS item_i, b.item_id AS item_j, count(*) AS co
       |  FROM r a JOIN r b ON a.user_id = b.user_id AND a.item_id < b.item_id
       |  GROUP BY 1, 2
       |), ew AS MATERIALIZED (
       |  SELECT item_i AS src, item_j AS dst FROM pairs WHERE co >= $EdgeMinCo
       |  UNION ALL
       |  SELECT item_j AS src, item_i AS dst FROM pairs WHERE co >= $EdgeMinCo
       |), nodes AS (
       |  SELECT DISTINCT src AS item FROM ew
       |), kz0 AS (
       |  SELECT item, 0::BIGINT AS katz FROM nodes
       |), $rounds
       |SELECT rk, item AS item_id, katz AS katz_units FROM (
       |  SELECT item, katz,
       |    row_number() OVER (ORDER BY katz DESC, item ASC) AS rk
       |  FROM kz$KatzRounds
       |) WHERE rk <= $KatzTop
       |ORDER BY rk""".stripMargin
  }

  /** Landmarks for the closeness probe: the L highest-degree nodes
    * (item-id tie-break) — the standard landmark-selection heuristic
    * (hubs cover the most shortest-path mass). */
  val NLandmarks = 6
  /** Hop bound for the landmark BFS (matches [[BfsMaxHops]]'s
    * small-world argument: the co-purchase graph's effective diameter). */
  val CloseHops = 4
  /** lcm(1..CloseHops): 12/d is an exact integer for every reachable
    * hop count, so harmonic sums are BIGINT-exact (no float ranking). */
  val HarmonicLcm = 12L
  /** Ranked head size. */
  val CloseTop = 25

  /** Landmark-based harmonic closeness centrality — the third
    * centrality view beside the eigenvector family (PageRank/HITS/
    * Katz) and the cohesion family (k-core/k-truss): how CLOSE a node
    * sits to the graph's hubs, not how much rank flows into it.
    * Exact all-pairs closeness is O(V·E) (a BFS per node) — never
    * viable at catalog scale — so the standard estimator runs BFS
    * from [[NLandmarks]] deterministic high-degree landmarks and
    * scores each node by the harmonic sum Σ_ℓ 1/d(ℓ,v) over the
    * landmarks that reach it within [[CloseHops]] hops (harmonic
    * handles unreachable landmarks gracefully: they contribute 0,
    * no ∞-distance special case). Distances are exact hop counts and
    * the harmonic sum is kept in [[HarmonicLcm]]-units (12/d ∈
    * {12,6,4,3}), so scores are exact BIGINTs and the ranking needs
    * no float tie policy.
    *
    * Scale shape: the BFS state is ≤ L·|V| (landmark, item, d) rows —
    * L× the pagerank rank vector, still dimension-sized — and each
    * hop is one equi-join frontier⋈edges + a min-aggregate, the
    * textbook distributed multi-source BFS ([[itemBfs]] with a
    * landmark tag). The frontier broadcasts only under the node
    * ceiling scaled by L; above it the hop join shuffles on src.
    * Landmark selection is a global top-L on the degree table —
    * TakeOrderedAndProject, never a full sort.
    */
  def closeness(spark: SparkSession, sfDir: String): DataFrame =
    closeness(spark, sfDir, BroadcastNodeCeiling)

  private[graft] def closeness(spark: SparkSession, sfDir: String,
                               bcastCeiling: Long): DataFrame = {
    closenessOf(copurchaseEw(spark, sfDir).select("src", "dst"),
                copurchaseNodes(spark, sfDir).count(), bcastCeiling)
  }

  /** Frame-parameterized core (scale-spec entry point): edges must be
    * the MIRRORED (src, dst) pair set. */
  private[graft] def closenessOf(edges: DataFrame, nV: Long,
                                 bcastCeiling: Long): DataFrame = {
    require(nV > 0, "closenessOf: empty graph")
    val landmarks = edges.groupBy("src").agg(count(lit(1)).as("dg"))
      .orderBy(col("dg").desc, col("src").asc).limit(NLandmarks)
      .select(col("src").as("lid"))
    val dist = hopBfs(edges, landmarks.select(col("lid"), col("lid").as("item")),
      Seq("lid"), CloseHops, nV * NLandmarks <= bcastCeiling)
    dist.where(col("d") >= 1)
      .groupBy("item")
      .agg(count(lit(1)).as("reached"),
           sum(expr(s"$HarmonicLcm div d")).as("hu"))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("hu").desc, col("item").asc)))
      .where(col("rk") <= CloseTop)
      .select(col("rk"), col("item").as("item_id"), col("reached"),
              col("hu").as("harmonic_units"))
      .orderBy("rk")
  }

  /** Oracle: identical landmark top-L + recursive BFS walk (UNION
    * dedups states; min-hop after) + the exact integer harmonic sum. */
  val closenessSql: String =
    s"""WITH RECURSIVE ${Recsys.cappedSql}, r AS (
       |  SELECT user_id, item_id FROM capped
       |), pairs AS MATERIALIZED (
       |  SELECT a.item_id AS item_i, b.item_id AS item_j, count(*) AS co
       |  FROM r a JOIN r b ON a.user_id = b.user_id AND a.item_id < b.item_id
       |  GROUP BY 1, 2
       |), ew AS MATERIALIZED (
       |  SELECT item_i AS src, item_j AS dst FROM pairs WHERE co >= $EdgeMinCo
       |  UNION ALL
       |  SELECT item_j AS src, item_i AS dst FROM pairs WHERE co >= $EdgeMinCo
       |), lm AS (
       |  SELECT src AS lid FROM (
       |    SELECT src, count(*) AS dg FROM ew GROUP BY src
       |  ) ORDER BY dg DESC, src ASC LIMIT $NLandmarks
       |), walk(lid, item, d) AS (
       |  SELECT lid, lid, 0 FROM lm
       |  UNION
       |  SELECT w.lid, e.dst, w.d + 1
       |  FROM walk w JOIN ew e ON e.src = w.item
       |  WHERE w.d < $CloseHops
       |), dist AS (
       |  SELECT lid, item, min(d) AS d FROM walk GROUP BY lid, item
       |), harm AS (
       |  SELECT item, count(*) AS reached, sum($HarmonicLcm // d)::BIGINT AS hu
       |  FROM dist WHERE d >= 1 GROUP BY item
       |)
       |SELECT rk, item AS item_id, reached, hu AS harmonic_units FROM (
       |  SELECT item, reached, hu,
       |    row_number() OVER (ORDER BY hu DESC, item ASC) AS rk
       |  FROM harm
       |) WHERE rk <= $CloseTop
       |ORDER BY rk""".stripMargin

  /** k for the truss (every surviving edge sits in ≥ k−2 triangles
    * among surviving edges). */
  val TrussK = 4
  /** Fixed peel rounds, unrolled identically in the oracle; the spec
    * proves they reach the fixture's fixpoint. */
  val TrussRounds = 3

  /** k-truss decomposition — the EDGE-cohesion complement of
    * [[kcore]]'s node peel: iteratively delete edges supported by
    * fewer than k−2 triangles until only the dense, triangle-reinforced
    * mesh remains (the standard community-core extraction one notch
    * stricter than k-core, Cohen 2008). Emits the peel curve: edge and
    * triangle counts of the graph state before each round and after
    * the last — the shape analysts read to pick k.
    *
    * Scale: each round is ONE oriented wedge join over the current
    * (a<b) edge half-list (the identical plan as [[triangleCount]] —
    * quadratic only in per-node degree, bounded by the [[TriMinCo]]
    * sparsification), an explode of 3 edge-corners per triangle, an
    * edge-support aggregate, and a semi-restriction of the edge list;
    * the survivor list localCheckpoints per round. Counts are exact
    * integers throughout.
    */
  def ktruss(spark: SparkSession, sfDir: String): DataFrame = {
    val base = halfEdges(spark, sfDir, TriMinCo)
      .select(col("item_i").as("a"), col("item_j").as("b"))
    def stats(e: DataFrame, tris: DataFrame, r: Int): DataFrame =
      e.agg(count(lit(1)).as("n_edges"))
        .crossJoin(broadcast(tris.agg(count(lit(1)).as("n_triangles"))))
        .select(lit(r).as("round"), col("n_edges"), col("n_triangles"))
    var e = base.localCheckpoint()
    var curve: DataFrame = null
    for (r <- 1 to TrussRounds) {
      // one wedge join per round, read twice (curve point + supports)
      val tris = trianglesOf(e).localCheckpoint()
      val st = stats(e, tris, r - 1)
      curve = if (curve == null) st else curve.unionByName(st)
      val supp = tris.select(explode(array(
          struct(col("a").as("x"), col("m").as("y")),
          struct(col("m").as("x"), col("c").as("y")),
          struct(col("a").as("x"), col("c").as("y")))).as("p"))
        .groupBy(col("p.x").as("a"), col("p.y").as("b"))
        .agg(count(lit(1)).as("supp"))
      e = e.join(supp.where(col("supp") >= TrussK - 2), Seq("a", "b"), "left_semi")
        .localCheckpoint()
    }
    curve.unionByName(stats(e, trianglesOf(e), TrussRounds)).orderBy("round")
  }

  /** Oracle: the peel unrolled as e0..eN MATERIALIZED CTEs, each round
    * recomputing supports over the previous survivor list. */
  val ktrussSql: String = {
    def round(k: Int): String =
      s"""t$k AS MATERIALIZED (
         |  SELECT w.a, w.m, w.c
         |  FROM (SELECT x.a, x.b AS m, y.b AS c
         |        FROM e${k - 1} x JOIN e${k - 1} y ON x.b = y.a) w
         |  WHERE EXISTS (SELECT 1 FROM e${k - 1} z WHERE z.a = w.a AND z.b = w.c)
         |), s$k AS (
         |  SELECT x, y, count(*) AS supp FROM (
         |    SELECT a AS x, m AS y FROM t$k
         |    UNION ALL SELECT m, c FROM t$k
         |    UNION ALL SELECT a, c FROM t$k
         |  ) GROUP BY 1, 2
         |), e$k AS MATERIALIZED (
         |  SELECT e.a, e.b FROM e${k - 1} e
         |  JOIN s$k ON s$k.x = e.a AND s$k.y = e.b
         |  WHERE s$k.supp >= ${TrussK - 2}
         |)""".stripMargin
    val rounds = (1 to TrussRounds).map(round).mkString(", ")
    val lastTri =
      s"""tf AS (
         |  SELECT w.a, w.m, w.c
         |  FROM (SELECT x.a, x.b AS m, y.b AS c
         |        FROM e$TrussRounds x JOIN e$TrussRounds y ON x.b = y.a) w
         |  WHERE EXISTS (SELECT 1 FROM e$TrussRounds z WHERE z.a = w.a AND z.b = w.c)
         |)""".stripMargin
    val curve = (0 to TrussRounds).map { r =>
      val tri = if (r == 0) "t1" else if (r == TrussRounds) "tf" else s"t${r + 1}"
      s"SELECT $r AS round, (SELECT count(*) FROM e$r)::BIGINT AS n_edges, " +
        s"(SELECT count(*) FROM $tri)::BIGINT AS n_triangles"
    }.mkString(" UNION ALL ")
    s"""WITH ${Recsys.cappedSql}, r AS (
       |  SELECT user_id, item_id FROM capped
       |), e0 AS MATERIALIZED (
       |  SELECT a.item_id AS a, b.item_id AS b
       |  FROM r a JOIN r b ON a.user_id = b.user_id AND a.item_id < b.item_id
       |  GROUP BY 1, 2 HAVING count(*) >= $TriMinCo
       |), $rounds, $lastTri
       |SELECT round, n_edges, n_triangles FROM ($curve)
       |ORDER BY round""".stripMargin
  }

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_katz", katz(_, _), Some(katzSql)),
    QuerySpec("q_closeness", closeness(_, _), Some(closenessSql)),
    QuerySpec("q_ktruss", ktruss _, Some(ktrussSql)),
    QuerySpec("q_hits", hits _, Some(hitsSql)),
    QuerySpec("q_kcore", kcore _, Some(kcoreSql)),
    QuerySpec("q_shortest_paths", shortestPaths _, Some(shortestPathsSql)),
    QuerySpec("q_rwr_proximity", rwrProximity _, Some(rwrProximitySql)),
    QuerySpec("q_salsa", salsa _, Some(salsaSql)),
    QuerySpec("q_assortativity", assortativity _, Some(assortativitySql)),
    QuerySpec("q_item_bfs", itemBfs _, Some(itemBfsSql)),
    QuerySpec("q_item_pagerank", itemPagerank _, Some(itemPagerankSql)),
    QuerySpec("q_pair_pmi", pairPmi _, Some(pairPmiSql)),
    QuerySpec("q_triangle_count", triangleCount _, Some(triangleCountSql)),
    QuerySpec("q_cooccur_jaccard", cooccurJaccard _, Some(cooccurJaccardSql)),
    QuerySpec("q_simrank", simrank _, Some(simrankSql)),
    QuerySpec("q_item_communities", itemCommunities _, Some(itemCommunitiesSql)),
    QuerySpec("q_modularity", modularity _, Some(modularitySql)),
    QuerySpec("q_local_clustering", localClustering _, Some(localClusteringSql)),
    QuerySpec("q_link_predict", linkPredict _, Some(linkPredictSql)),
  )
}
