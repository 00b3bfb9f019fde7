package graft.operators

import graft.{QueryFamily, QuerySpec, Tables}
import graft.functions.TopKByScore
import graft.sources.Sources
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Collaborative-filtering operators (SURVEY.md §2.9 M1–M4, M9) in pure
  * Spark SQL — the reference's signature capability re-expressed
  * DataFrame-first. Interactions derive from the star schema
  * (SURVEY.md §7.2): user = o_custkey, item = l_partkey,
  * strength = Σ l_quantity (integral-valued doubles, so sums are exact
  * and order-independent across engines).
  *
  * Determinism rules used throughout (SURVEY.md §7.4):
  *  - all rankings order by ROUNDED scores first, then a unique id
  *    tie-break, so last-bit float noise can never flip a rank;
  *  - co-occurrence counts and history sizes are exact integers, and
  *    cosine = co/sqrt(ni*nj) is a single IEEE-exact expression, so
  *    similarity values are bit-identical across engines.
  *
  * Scale design:
  *  - the user self-join (J3) is the cost center: pairs grow
  *    quadratically in history length, so histories are capped at
  *    MaxHistory items per user (deterministic top-by-strength) BEFORE
  *    pairing — the standard hot-user guard; AQE skew-join handles the
  *    residue at cluster scale;
  *  - per-item neighbor lists are cut to TopK immediately after the
  *    similarity aggregate, keeping the recommend join's build side
  *    K·|items| instead of |items|².
  */
object Recsys extends QueryFamily {

  /** Bucket count for the persisted CF serve/store tables. The refresh
    * merge deliberately RIDES this layout shuffle-free (the
    * ServeIndexSpec zero-reshuffle pins), which also makes it the
    * refresh's degree of parallelism: at 8 buckets the merge's capped
    * expansion ran 8 tasks wide on a 32-core session (measured: the
    * 3.8 s top stage of q_itemcf_refresh). 32 matches the local
    * session's parallelism; production sizes it to the cluster the
    * same way bucket counts are always sized (r13, guide §2.2 —
    * partition count is a scale parameter, not a magic number). */
  val CfStoreBuckets = 32
  /** Hot-user guard: max items kept per user history. */
  val MaxHistory = 100
  /** Neighborhood size for item/user similarity. */
  val TopK = 10
  /** Recommendations emitted per user. */
  val TopN = 5
  /** Time-based train/test split boundary for evaluation AND the
    * frozen-model training cutoff. Declared at the top of the object:
    * SQL-string vals interpolate it, and object vals initialize in
    * declaration order (the r10 q_ivf_pq_filtered lesson — a constant
    * declared later interpolates as null/0). */
  val SplitDate = "1999-07-01"
  /** Refresh-CHAIN boundary: the post-[[SplitDate]] window splits into
    * two sequential batches at this date (b₁ = [SplitDate, ChainDate),
    * b₂ = [ChainDate, ∞)) — the two-day production cadence the chain
    * leg replays. Declared before the SQL vals that interpolate it. */
  val ChainDate = "2000-08-01"
  /** GDPR-delete selector: users with user_id % DeleteMod == 0 are
    * forgotten in q_itemcf_delete (≈5% of the store — 8 users at
    * sf0.001, 74 at sf0.01). */
  val DeleteMod = 20L
  /** K for precision/recall@K. */
  val EvalK = 10

  /** Hot-user cap: top MaxHistory (strength desc, item asc) per user
    * via the bounded top-K aggregate, not a row_number window — the
    * aggregate's partial phase caps map-side instead of sort-shuffling
    * the full interaction table (same rows out; downstream consumers
    * impose their own order). Shared by the base and time-decayed
    * interaction tables.
    */
  private[graft] def capHistories(interactions: DataFrame): DataFrame =
    TopKByScore.rows(interactions, Seq("user_id"), MaxHistory,
        col("strength"), col("item_id"), lit(0L))
      .select(col("user_id"), col("id").as("item_id"), col("score").as("strength"))

  /** Deterministically capped user→item interactions: top MaxHistory
    * items per user by (strength desc, item asc).
    *
    * Memoized + persisted per (session, sfDir): every CF query reads
    * this table several times (pair generation, the two count sides,
    * recommend histories), and round-1 plans recomputed the whole
    * lineitem⋈orders→agg→window pipeline for each use. Materializing it
    * once is the standard "interaction matrix as a feature store"
    * pattern — at cluster scale this is a cached/checkpointed table
    * produced once per pipeline run and shared by every downstream
    * algorithm. A few MB at bench SF (3 narrow columns, ≤MaxHistory
    * rows per user); Spark evicts LRU if memory is tight.
    *
    * Cached via [[graft.QueryCache]] (session-lifecycle-aware; inputs
    * under sfDir are assumed immutable per session — see QueryCache
    * for the invalidate escape hatch).
    */
  private[graft] def cappedInteractions(spark: SparkSession, sfDir: String): DataFrame =
    graft.QueryCache.memo(spark, s"recsys:interactions:$sfDir") {
      capHistories(Tables.interactions(spark, sfDir))
    }

  private val PackBase = graft.functions.PairPack.Base

  /** Map-side pair expansion: per-key sorted element arrays → all (a<b)
    * combinations via higher-order functions, NO self-join. Keyed on
    * user_id, the groupBy reuses the hash partitioning of the history
    * cap's top-K aggregate ([[capHistories]]), so pair generation adds
    * zero shuffles — the only remaining exchange is the pair-count
    * aggregate itself. At 100 TB this is the difference between
    * shuffling the interaction table twice (join build+probe) and once.
    *
    * Each pair is PACKED into one long (a·2³² + b; ids are well under
    * 2³¹ — they key 20k-ish parts/customers) in column `pk`: the
    * generator emits a primitive-long array instead of a struct array,
    * and downstream aggregates group on a single primitive key — both
    * measurably cheaper at ~13M pairs than the struct formulation.
    * Unpack with [[unpack]].
    */
  private[graft] def pairsWithin(df: DataFrame, key: String, elem: String): DataFrame =
    df.groupBy(key)
      .agg(sort_array(collect_list(col(elem))).as("es"))
      .select(col(key),
        explode(graft.functions.PairPack.pairPack(col("es"))).as("pk"))

  /** Split a packed pair column into its (a, b) halves. */
  private[graft] def unpack(df: DataFrame, aName: String, bName: String): DataFrame =
    df.withColumn(aName, shiftright(col("pk"), 32))
      .withColumn(bName, col("pk").bitwiseAND(PackBase - 1L))
      .drop("pk")

  /** Codegen pair expansion + aggregate over any (user, item, strength)
    * interaction table — shared by the base pair aggregate and the
    * time-decayed variant.
    */
  private def expandWeightedPairs(r: DataFrame): DataFrame =
    r.groupBy("user_id")
      .agg(sort_array(collect_list(struct(col("item_id"), col("strength")))).as("es"))
      .select(explode(arrays_zip(
        graft.functions.PairPack.pairPack(expr("transform(es, x -> x.item_id)")).as("pk"),
        graft.functions.PairProd.pairProd(expr("transform(es, x -> x.strength)")).as("prod"),
        graft.functions.PairDiff.pairDiff(expr("transform(es, x -> x.strength)")).as("diff"))).as("z"))
      .select(col("z.pk").as("pk"), col("z.prod").as("prod"), col("z.diff").as("diff"))
      // the pair space is nearly duplicate-free (co-occurrence heavy
      // tail: ~0.95 distinct pks per pair row at every SF), so a
      // partial+final aggregate hashes ~2× the rows for ~no shuffle
      // reduction; repartitioning on pk first makes the groupBy plan a
      // single complete-mode HashAggregate after one same-size exchange
      .repartition(col("pk"))
      .groupBy("pk")
      .agg(sum(col("prod")).as("dot"), sum(col("diff")).as("sdiff"), count(lit(1)).as("co"))

  /** Shared item-pair aggregate: packed pair → (Σ strength product,
    * co-occurrence count). The binary ItemCF cosine consumes only `co`;
    * the rating-weighted variant consumes `dot` and `co` — so both
    * queries read ONE memoized aggregate instead of each re-expanding
    * the ~n² per-user pair space (the two expansions were the top two
    * entries in the round-2 bench). The pair kernels are codegen
    * expressions — [[graft.functions.PairPack]] packs the id pairs,
    * [[graft.functions.PairProd]] / [[graft.functions.PairDiff]] emit
    * the aligned strength products and differences, zipped positionally
    * (identical iteration order by construction) — but the `transform`
    * lambdas feeding them are `CodegenFallback`, so the whole Generate
    * runs interpreted (node (42) of
    * plans/r15/pair_expand/q_itemcf_weighted_after.txt).
    */
  private[operators] def itemPairAgg(spark: SparkSession, sfDir: String): DataFrame =
    graft.QueryCache.memo(spark, s"recsys:itempairs:$sfDir") {
      expandWeightedPairs(cappedInteractions(spark, sfDir))
    }

  /** Weighted-cosine similarity with per-item top-K from a pair
    * aggregate (pk → dot, co) and the interaction table that produced
    * it (for norms) — the shared downstream of the rating-weighted and
    * time-decayed ItemCF tiers.
    */
  private def weightedTopKFromPairs(pairs: DataFrame, r: DataFrame): DataFrame = {
    val norms = r.groupBy("item_id")
      .agg(sqrt(sum(col("strength") * col("strength"))).as("nrm"))
    val half = unpack(pairs, "item_i", "item_j")
      .join(broadcast(norms.select(col("item_id").as("item_i"), col("nrm").as("ni"))), "item_i")
      .join(broadcast(norms.select(col("item_id").as("item_j"), col("nrm").as("nj"))), "item_j")
      .withColumn("sim", round(col("dot") / (col("ni") * col("nj")), 6))
    knnOf(half, "item_i", "item_j")
  }

  /** The neighbour list of an (a < b, sim, co) half-pair table, shared
    * by every CF similarity model: mirror each pair with ONE generator
    * pass (a half.union(half.swap) would make Spark compute the whole
    * pair pipeline twice — round-1 plan), keep each `a`'s top [[TopK]]
    * by (sim desc, b asc) — the oracle's row_number window exactly — and
    * rank them: (a, rk, b, sim, co), ordered by (a, rk). The top-K is the
    * bounded aggregate ([[TopKByScore.ranked]]): no 25M-row sort, and
    * the shuffle carries ≤ K·|a| rows. */
  private def knnOf(half: DataFrame, a: String, b: String): DataFrame = {
    val mirrored = half.select(explode(array(
        struct(col(a), col(b), col("sim"), col("co")),
        struct(col(b).as(a), col(a).as(b), col("sim"), col("co"))
      )).as("p"))
      .select(col(s"p.$a").as(a), col(s"p.$b").as(b),
              col("p.sim").as("sim"), col("p.co").as("co"))
    TopKByScore.ranked(mirrored, Seq(a), TopK, col("sim"), col(b), col("co"))
      .select(col(a), col("rk"), col("id").as(b), col("score").as("sim"), col("extra").as("co"))
      .orderBy(a, "rk")
  }

  private[operators] val cappedSql: String =
    s"""interactions AS (
       |  ${Tables.interactionsSql.replace("\n", "\n  ")}
       |), capped AS (
       |  SELECT user_id, item_id, strength FROM (
       |    SELECT user_id, item_id, strength,
       |      row_number() OVER (PARTITION BY user_id ORDER BY strength DESC, item_id ASC) AS hrk
       |    FROM interactions
       |  ) WHERE hrk <= $MaxHistory
       |)""".stripMargin

  /** Similarity matrices are memoized+persisted like the interaction
    * table above: the recommend queries re-read them, and a production
    * pipeline materializes exactly this table (it IS the model).
    * Session-lifecycle-aware via [[graft.QueryCache]].
    */
  private def memoSim(spark: SparkSession, sfDir: String, kind: String)
                     (build: => DataFrame): DataFrame =
    graft.QueryCache.memo(spark, s"recsys:sim:$kind:$sfDir")(build)

  /** M1 ItemCF similarity: cosine over binary co-occurrence,
    * sim(i,j) = |N(i)∩N(j)| / sqrt(|N(i)|·|N(j)|), top-K neighbors per
    * item. The i<j self-join halves the pair space; the union mirrors
    * pairs back for per-item ranking.
    */
  def itemcfSimilarity(spark: SparkSession, sfDir: String): DataFrame =
    memoSim(spark, sfDir, "itemcf") { itemcfSimilarityPlan(spark, sfDir) }

  private def itemcfSimilarityPlan(spark: SparkSession, sfDir: String): DataFrame =
    itemcfSimFrom(cappedInteractions(spark, sfDir), itemPairAgg(spark, sfDir))

  /** The binary-cosine ItemCF model over any capped interaction frame
    * and its pair aggregate — shared by the standing model (memoized
    * inputs) and the drift audit's FROZEN twin (pre-split inputs). */
  private[graft] def itemcfSimFrom(r0: DataFrame, pairAgg: DataFrame): DataFrame = {
    val r = r0.select("user_id", "item_id")
    val counts = r.groupBy("item_id").agg(count(lit(1)).as("n_users"))
    knnFromPairCounts(unpack(pairAgg.select("pk", "co"), "item_i", "item_j"), counts)
  }

  /** The cosine + mirror + top-K tail of the binary ItemCF model over
    * an explicit (item_i < item_j, co) half-pair table and per-item
    * user counts — the model's SUFFICIENT STATISTICS. Shared by the
    * standing/frozen builds (fresh expansion feeds it) and the
    * incremental REFRESH ([[itemcfRefresh]]), whose statistics arrive
    * as persisted state merged with a batch delta. */
  private[graft] def knnFromPairCounts(pairs: DataFrame, counts: DataFrame): DataFrame = {
    // Tiny relative to the pair table (≤ |items| rows): broadcast both
    // count joins — round-1 plans showed them as SortMergeJoins that
    // re-shuffled the ~10M-row pair table twice.
    val ci = counts.select(col("item_id").as("item_i"), col("n_users").as("ni"))
    val cj = counts.select(col("item_id").as("item_j"), col("n_users").as("nj"))
    // counts join the i<j half-space first; knnOf mirrors after
    knnOf(pairs
      .join(broadcast(ci), "item_i")
      .join(broadcast(cj), "item_j")
      .withColumn("sim", round(col("co") / sqrt(col("ni") * col("nj")), 6)),
      "item_i", "item_j")
  }

  val itemcfSimilaritySql: String =
    s"""WITH $cappedSql, r AS (
       |  SELECT user_id, item_id FROM capped
       |), counts AS (
       |  SELECT item_id, count(*) AS n_users FROM r GROUP BY item_id
       |), pairs AS (
       |  SELECT a.item_id AS item_i, b.item_id AS item_j, count(*) AS co
       |  FROM r a JOIN r b ON a.user_id = b.user_id AND a.item_id < b.item_id
       |  GROUP BY 1, 2
       |), mirrored AS (
       |  SELECT item_i, item_j, co FROM pairs
       |  UNION ALL
       |  SELECT item_j AS item_i, item_i AS item_j, co FROM pairs
       |), sim AS (
       |  SELECT item_i, item_j, co,
       |    round(co / sqrt(ci.n_users * cj.n_users), 6) AS sim
       |  FROM mirrored
       |  JOIN counts ci ON ci.item_id = item_i
       |  JOIN counts cj ON cj.item_id = item_j
       |), ranked AS (
       |  SELECT item_i, item_j, sim, co,
       |    row_number() OVER (PARTITION BY item_i ORDER BY sim DESC, item_j ASC) AS rk
       |  FROM sim
       |)
       |SELECT item_i, rk, item_j, sim, co
       |FROM ranked WHERE rk <= $TopK
       |ORDER BY item_i, rk""".stripMargin

  /** M2 ItemCF recommend: score(u,c) = Σ_{i∈H(u)} sim(i,c)·strength(u,i)
    * over each history item's top-K neighbors, minus already-seen items
    * (left anti), top-N per user ranked on the ROUNDED score.
    *
    * Memoized like the similarity models: five queries serve from the
    * same recommendation table (recommend itself, explanations,
    * novelty, coverage, diversity) — in production this IS the
    * materialized serving table, built once per model refresh.
    */
  def itemcfRecommend(spark: SparkSession, sfDir: String): DataFrame =
    graft.QueryCache.memo(spark, s"recsys:itemcfrecs:$sfDir") {
      recommendFrom(cappedInteractions(spark, sfDir), itemcfSimilarity(spark, sfDir))
    }

  /** ItemCF scoring of capped histories against ANY (item_i, item_j,
    * sim) neighbour table — the training pipeline's model or a
    * persisted one ([[itemcfServe]], [[itemcfRefreshServe]]): Σ
    * sim·strength per (user, candidate), seen items dropped, top-N. */
  private def recommendFrom(hist: DataFrame, neighbours: DataFrame): DataFrame = {
    // K·|items| rows — small relative to the fact side at any SF: broadcast
    val sim = broadcast(neighbours.select("item_i", "item_j", "sim"))
    val scored = hist
      .join(sim, hist("item_id") === sim("item_i"))
      .groupBy(col("user_id"), col("item_j").as("cand"))
      .agg(round(sum(col("sim") * col("strength")), 6).as("score"))
    topNPerUser(dropSeen(scored, hist))
  }

  /** The (user_id, cand) rows of `scored` whose item the user has not
    * seen: a left anti-join against `hist`'s (user_id, item_id). */
  private def dropSeen(scored: DataFrame, hist: DataFrame): DataFrame =
    scored.join(hist.select(col("user_id").as("hu"), col("item_id").as("hi")),
      col("user_id") === col("hu") && col("cand") === col("hi"), "left_anti")

  /** Final per-user ranking via the bounded top-K aggregate instead of
    * a row_number window — the scored candidate set is millions of rows
    * and the window's full sort shuffle was the recommend queries'
    * dominant stage. Order (score desc, cand asc) matches the windows
    * the oracle SQL still uses.
    */
  private def topNPerUser(unseen: DataFrame): DataFrame =
    TopKByScore.ranked(unseen, Seq("user_id"), TopN, col("score"), col("cand"), lit(0L))
      .select(col("user_id"), col("rk"), col("id").as("item_id"), col("score"))
      .orderBy("user_id", "rk")

  /** Catalog name of the persisted ItemCF model, unique per fixture
    * dir (the serve-index naming discipline). */
  private[graft] def cfModelName(sfDir: String): String = Sources.serveName("itemcf_sim", sfDir)

  /** Build-once: persist the trained ItemCF similarity model (the
    * per-item top-K neighbor table) as an external catalog table,
    * bucketed by the scoring join key. This IS the reference family's
    * production pattern — recsys pipelines train the similarity matrix
    * in a batch job, write it to the warehouse/serving store, and
    * every recommendation request reads the STORED model, never the
    * training pipeline. Written once per session ([[graft.QueryCache.once]]). */
  private[graft] def ensureCfModel(spark: SparkSession, sfDir: String): Unit =
    graft.QueryCache.once(spark, s"itemcf_serve_written:$sfDir") {
      Sources.publish(itemcfSimilarity(spark, sfDir), cfModelName(sfDir),
        Seq("item_i"), CfStoreBuckets, Seq("item_i", "rk"))
    }

  /** Serve ItemCF recommendations from the PERSISTED model — the
    * build-once/serve-many leg of the CF pillar ([[graft.operators
    * .Similarity.ivfServe]]'s pattern on the reference's signature
    * pipeline): the trained neighbor table is reloaded from the
    * catalog; only the user HISTORIES are live (they change between
    * model refreshes — exactly how a production recommender serves).
    * Output is row-identical to [[itemcfRecommend]] (shared oracle).
    *
    * Scale: the K·|items| model broadcasts at fixture scale; at a
    * 10⁸-item catalog the bucketed layout lets the scoring join
    * co-locate on item_id without reshuffling the model table.
    */
  def itemcfServe(spark: SparkSession, sfDir: String): DataFrame = {
    ensureCfModel(spark, sfDir)
    recommendFrom(cappedInteractions(spark, sfDir), spark.table(cfModelName(sfDir)))
  }

  /** Pre-split interaction table — the corpus as it stood when the
    * frozen serving model was trained (orders before [[SplitDate]];
    * strengths sum only pre-split quantities). */
  private def trainInteractions(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
      .where(col("o_orderdate") < lit(SplitDate).cast("timestamp_ntz"))
      .select("o_orderkey", "o_custkey")
    val l = Tables.lineitem(spark, sfDir).select("l_orderkey", "l_partkey", "l_quantity")
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .repartition(col("o_custkey"))
      .groupBy(col("o_custkey").as("user_id"), col("l_partkey").as("item_id"))
      .agg(sum("l_quantity").as("strength"))
      .select(col("user_id"), col("item_id"), col("strength"))
  }

  /** Model-staleness audit for the CF pillar — q_ivf_ingest_recall's
    * freeze-vs-rebuild question transposed: the serving model was
    * trained at [[SplitDate]] and interactions kept arriving. For
    * every item present in BOTH models' neighbor tables, the top-K
    * neighbor-set overlap between the FROZEN (pre-split) and FRESH
    * (full-corpus) similarity models, plus how many items changed
    * their top-1 neighbor — the measured "when to retrain" number a
    * production recommender tracks between refreshes. All counts
    * exact integers; overlap in basis points of the attainable
    * Σ min(k_frozen, k_fresh).
    *
    * Scale: two neighbor tables of ≤ K·|items| rows (the fresh one
    * memoized and shared with five other queries), one equi-join on
    * (item, neighbor), slim per-item aggregates — nothing corpus-sized
    * beyond the frozen model's one training pass.
    */
  def itemcfDrift(spark: SparkSession, sfDir: String): DataFrame = {
    // r14 (guide §2.4 compute shared state once): the frozen arm used
    // to RETRAIN the pre-split model in-query (capped train + pair
    // expansion + knn tail, then a session memo holding K·|items| more
    // persisted rows). [[ensureCfStore]] already persists exactly that
    // model — same capped pre-split statistics through the same
    // [[knnFromPairCounts]] tail; the whole refresh lifecycle's
    // oracle-verified correctness rests on that table BEING the frozen
    // model (delta-reranked rows are carried from it verbatim and the
    // result hash-matches the from-scratch rebuild) — so the audit now
    // reads the store it audits, which is also what a production
    // staleness monitor compares against: the SERVING model table.
    ensureCfStore(spark, sfDir)
    itemcfDriftFrom(
      itemcfSimilarity(spark, sfDir).select("item_i", "rk", "item_j"),
      spark.table(cfStoreNames(sfDir)("model")).select("item_i", "rk", "item_j"))
  }

  /** The drift summary over any two (item_i, rk, item_j) neighbor
    * tables — exposed so the spec can pin the identity case (a model
    * against itself: overlap 10000 bp, zero top-1 changes). */
  private[graft] def itemcfDriftFrom(fresh: DataFrame, frozen: DataFrame): DataFrame = {
    val kf = fresh.groupBy("item_i").agg(count(lit(1)).as("k_fresh"),
      min(when(col("rk") === 1, col("item_j"))).as("t1_fresh"))
    val kz = frozen.groupBy("item_i").agg(count(lit(1)).as("k_frozen"),
      min(when(col("rk") === 1, col("item_j"))).as("t1_frozen"))
    val both = kf.join(kz, "item_i")
    val common = fresh.join(frozen.select("item_i", "item_j"),
        Seq("item_i", "item_j"), "left_semi")
      .groupBy("item_i").agg(count(lit(1)).as("n_common"))
    val per = both.join(common, Seq("item_i"), "left")
      .select(col("item_i"),
        coalesce(col("n_common"), lit(0L)).as("n_common"),
        least(col("k_fresh"), col("k_frozen")).as("k_min"),
        when(col("t1_fresh") === col("t1_frozen"), 0L).otherwise(1L).as("chg1"))
    val totF = kf.agg(count(lit(1)).as("n_items_fresh"))
    val totZ = kz.agg(count(lit(1)).as("n_items_frozen"))
    per.agg(count(lit(1)).as("n_items_both"),
        sum("n_common").as("n_common_pairs"),
        expr("(sum(n_common) * 10000) div sum(k_min)").as("overlap_bp"),
        sum("chg1").as("n_top1_changed"))
      .crossJoin(broadcast(totF)).crossJoin(broadcast(totZ))
      .select("n_items_fresh", "n_items_frozen", "n_items_both",
        "n_common_pairs", "overlap_bp", "n_top1_changed")
  }

  /** The four tables of a CF store snapshot (frozen or advanced). */
  private val CfStoreParts = Seq("strengths", "pairs", "counts", "model")

  /** Catalog names of the frozen model's persisted sufficient
    * statistics (the refresh store), unique per fixture dir. */
  private[graft] def cfStoreNames(sfDir: String): Map[String, String] =
    CfStoreParts.map(n => n -> Sources.serveName(s"cfstore_$n", sfDir)).toMap

  /** A store snapshot's tables by part name, read from the catalog. */
  private def storeOf(spark: SparkSession, names: Map[String, String]): String => DataFrame =
    part => spark.table(names(part))

  /** Build-once: persist the FROZEN ItemCF model's internal state —
    * the pre-[[SplitDate]] per-(user, item) strength aggregate
    * (bucketed by user_id: the refresh's changed-user semi-join reads
    * only matching buckets), the capped-history pair co-occurrence
    * counts (bucketed by the packed pair key), the per-item user
    * counts, AND the frozen model's own top-K neighbor table (bucketed
    * by item_i). The first three are the ADDITIVE sufficient
    * statistics of the binary-cosine model — what [[itemcfRefresh]]
    * delta-merges a post-split batch into without rescanning history;
    * the model table is what makes the refresh's ranking tail
    * DELTA-PROPORTIONAL (r12 verdict #2): items untouched by the
    * delta keep their persisted rows verbatim, so only the affected
    * subset re-ranks. */
  private[graft] def ensureCfStore(spark: SparkSession, sfDir: String): Unit =
    graft.QueryCache.once(spark, s"itemcf_store_written:$sfDir") {
      val names = cfStoreNames(sfDir)
      val train = trainInteractions(spark, sfDir).localCheckpoint()
      val capped = capHistories(train).localCheckpoint() // pairs + counts read it
      val pairs = pairsWithin(capped.select("user_id", "item_id"), "user_id", "item_id")
        .groupBy("pk").agg(count(lit(1)).as("co"))
        .localCheckpoint() // store write + frozen-model knn read it
      val counts = capped.groupBy("item_id").agg(count(lit(1)).as("n_users"))
        .localCheckpoint() // ≤ |items| rows; same two consumers
      Sources.publish(train, names("strengths"),
        Seq("user_id"), CfStoreBuckets, Seq("user_id", "item_id"))
      Sources.publish(pairs, names("pairs"), Seq("pk"), CfStoreBuckets, Seq("pk"))
      Sources.publish(counts, names("counts"))
      Sources.publish(knnFromPairCounts(unpack(pairs, "item_i", "item_j"), counts),
        names("model"), Seq("item_i"), CfStoreBuckets, Seq("item_i", "rk"))
    }

  /** Post-[[SplitDate]] interaction batch — the rows that ARRIVED
    * since the frozen model trained, collapsed to per-(user, item)
    * strength deltas. The orders scan carries the pushed
    * o_orderdate ≥ SplitDate filter (ServeIndexSpec pins it), so the
    * refresh's only corpus-sized work reads the batch, never history. */
  private[graft] def postSplitDelta(spark: SparkSession, sfDir: String): DataFrame =
    deltaBetween(spark, sfDir, SplitDate, None)

  /** Interaction-strength deltas for an order-date window [lo, hi) —
    * the generalized batch extractor the refresh CHAIN replays twice
    * (b₁ = [SplitDate, ChainDate), b₂ = [ChainDate, ∞)). The orders
    * scan carries both pushed date bounds, so each refresh's only
    * corpus-sized pass reads exactly its batch, never history. */
  private[graft] def deltaBetween(spark: SparkSession, sfDir: String,
      lo: String, hiOpt: Option[String]): DataFrame = {
    val o0 = Tables.orders(spark, sfDir)
      .where(col("o_orderdate") >= lit(lo).cast("timestamp_ntz"))
    val o = hiOpt.fold(o0)(hi =>
        o0.where(col("o_orderdate") < lit(hi).cast("timestamp_ntz")))
      .select("o_orderkey", "o_custkey")
    val l = Tables.lineitem(spark, sfDir).select("l_orderkey", "l_partkey", "l_quantity")
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .groupBy(col("o_custkey").as("user_id"), col("l_partkey").as("item_id"))
      .agg(sum("l_quantity").as("strength"))
  }

  /** Incremental model REFRESH — the delta leg that completes the CF
    * pillar's build/serve/drift/refresh lifecycle: [[ensureCfStore]]
    * persisted the frozen model's sufficient statistics (pair
    * co-occurrence counts, per-item user counts, per-user strengths),
    * all of which are ADDITIVE — a join-semilattice merge, the
    * q_stream_upsert argument — so the post-[[SplitDate]] batch folds
    * in without touching historical interactions:
    *
    *  1. the batch collapses to per-(user, item) strength deltas (the
    *     only corpus-sized pass, and it scans only post-split rows);
    *  2. only CHANGED users' capped histories are recomputed — the old
    *     history from the persisted strength store (the cap is a
    *     per-user function of strengths alone, so unchanged users
    *     cannot move), the new from merged strengths;
    *  3. pair and count deltas (new-minus-old memberships, exact
    *     integers) merge into the persisted tables; co ≤ 0 rows drop
    *     (a true count reaches 0 only by losing every witness);
    *  4. the K·|items| ranking tail re-runs over merged statistics —
    *     model-sized, never corpus-sized.
    *
    * The refreshed model is row-identical BY CONSTRUCTION to the
    * from-scratch full-corpus model, so the oracle is
    * [[itemcfSimilaritySql]] itself — the answer to q_itemcf_drift's
    * "retrain now" alarm, at batch cost instead of corpus cost.
    *
    * Scale: at a 10⁹-user store the changed-user semi-join rides the
    * user_id bucketing (only matching buckets read), pair deltas are
    * bounded by |changed users|·cap², and the merges shuffle
    * model-sized tables on their bucketed keys.
    */
  def itemcfRefresh(spark: SparkSession, sfDir: String): DataFrame = {
    ensureCfStore(spark, sfDir)
    val post = postSplitDelta(spark, sfDir)
      .localCheckpoint() // changed-user list + strength merge read it
    refreshAdaptive(storeOf(spark, cfStoreNames(sfDir)), post)
  }

  /** The delta-merged statistics of one refresh step, before ranking:
    * `changed` = the batch's users; `mergedStr` = merged strengths of
    * CHANGED users only (unchanged users' rows cannot move);
    * `mergedPairs` (pk, co) / `mergedCounts` = the COMPLETE post-merge
    * pair and count stores (the full-outer merges fold the delta into
    * every store row); `pairDelta` (pk, dco ≠ 0) / `cntDelta`
    * (item_id, dn ≠ 0) = the exact deltas — what the ranking tail's
    * affected-set computation and the chain's store advance consume. */
  private[graft] case class CfMerge(changed: DataFrame, mergedStr: DataFrame,
      mergedPairs: DataFrame, mergedCounts: DataFrame,
      pairDelta: DataFrame, cntDelta: DataFrame)

  /** The UN-severed merged-strength plan — a projection of the SAME
    * [[perUserItem]] aggregate the first checkpoint job of
    * [[mergeStats]] executes (shared code, so the two cannot drift);
    * exposed for ServeIndexSpec's store-read + zero-history-rescan
    * plan pin, because the r13 severs below hide the strengths-store
    * scan from the final refresh explain. */
  private[graft] def mergedStrengthsPlan(oldStrengths: DataFrame,
      post: DataFrame): DataFrame =
    mergedStrengthsOf(perUserItem(
      oldStrengths.join(post.select("user_id").distinct(), Seq("user_id"), "left_semi"),
      post))

  /** Merged strengths of the changed users off the shared per-(user,
    * item) aggregate; exact-0 cancellation = deleted row. */
  private def mergedStrengthsOf(perUI: DataFrame): DataFrame =
    perUI.select(col("user_id"), col("item_id"), col("sn").as("strength"))
      .where(col("strength") > 0)

  /** r14 (verdict #4, guide §2.4): ONE per-(user, item) pass over the
    * changed users' store rows and the batch deltas, carrying BOTH
    * sides' strengths — `so` = the old store strength (null when the
    * item was absent from the user's store rows; store rows are unique
    * per (user, item) by construction of the bucketed groupBy write,
    * so the sum is that row's value), `sn` = the merged strength. The
    * explicit user_id repartition serves this grouping AND the
    * per-user capped-set aggregate stacked right on top of it with ONE
    * exchange (hash(user_id) clusters both — the
    * [[Tables.interactions]] one-exchange argument); r13 paid two
    * full-width aggregate exchanges here (merged strengths, then each
    * side's capped TopK re-grouping). */
  private def perUserItem(oldStr: DataFrame, post: DataFrame): DataFrame =
    oldStr.select(col("user_id"), col("item_id"), col("strength"), lit(true).as("old"))
      .unionByName(
        post.select(col("user_id"), col("item_id"), col("strength"), lit(false).as("old")))
      .repartition(col("user_id"))
      .groupBy("user_id", "item_id")
      .agg(sum(when(col("old"), col("strength"))).as("so"),
        sum("strength").as("sn"))

  /** The refresh MERGE over explicit store frames — split out so the
    * spec can replay the cap-boundary edge cases (a delta pushing an
    * item across the MaxHistory cut) on planted data. `oldStrengths` /
    * `oldPairs` (pk, co) / `oldCounts` are the persisted frozen-model
    * statistics; `post` the batch's (user, item, strength) deltas —
    * which may be NEGATIVE: a GDPR delete is a negative delta, and
    * strengths are integral-valued doubles, so a full cancellation
    * lands on exactly 0.0 and the > 0 filter drops the row (the same
    * exactness argument the co ≤ 0 and n_users ≤ 0 drops rest on). */
  private[graft] def mergeStats(oldStrengths: DataFrame, oldPairs: DataFrame,
      oldCounts: DataFrame, post: DataFrame): CfMerge = {
    val changed = post.select("user_id").distinct()
    val oldStr = oldStrengths.join(changed, Seq("user_id"), "left_semi")
    val perUI = perUserItem(oldStr, post)
    val mergedStr = mergedStrengthsOf(perUI)
    // r13 OPTIMIZATION (guide §2.4 "compute shared state once", §5):
    // the two membership deltas feed SEVERAL downstream JOBS (the
    // affected-set checkpoint, the merged-pair and merged-count joins,
    // the adaptive-gate count, the chain's store writes) — and
    // exchange reuse only shares subtrees WITHIN one job. Both deltas
    // are computed in ONE keyed aggregate job — pair keys ride their
    // packed pk (always ≥ 0) and count keys the NEGATIVE space
    // -(item_id)-1, collision-free for any NON-NEGATIVE id (a negative
    // id would land in the pair space; ids here are catalog item keys,
    // and every ≥2-item set passes PairPack's [0, 2^32) range check) —
    // then severed ONCE.
    //
    // r14 OPTIMIZATION (verdict #4, guide §1.2 step 1 + §2.3): the r13
    // shape still expanded BOTH sides' FULL capped pair spaces (two
    // TopK aggregates, two O(cap²) PairPack explodes) and let the
    // global (pk, d) aggregate cancel the overlap. Now ONE aggregate
    // computes both capped sets per user (two TopK functions in one
    // ObjectHashAggregate pass over the shared perUserItem frame);
    // users whose capped set is provably unchanged (eo = en as sorted
    // arrays ⇒ identical sets ⇒ every ±1 cancels exactly) are skipped
    // BEFORE any expansion; and each surviving user emits only the SET
    // DIFFERENCES — array_except on the packed pair arrays and on the
    // item arrays — so the explode and the (pk, d) exchange carry the
    // per-user delta, not 2× the full pair space. Row-for-row: a pk in
    // both sides' pairs summed to 0 and was dropped by the d ≠ 0
    // filter; a pk in one side only is exactly the ±1 array_except
    // emits; global sums over users are unchanged.
    val sets = perUI.groupBy("user_id")
      .agg(
        graft.functions.TopKByScore.topK(
          MaxHistory, col("so"), col("item_id"), lit(0L)).as("ho"),
        graft.functions.TopKByScore.topK(
          MaxHistory, when(col("sn") > 0, col("sn")), col("item_id"), lit(0L)).as("hn"))
      .select(sort_array(expr("transform(ho, x -> x.id)")).as("eo"),
        sort_array(expr("transform(hn, x -> x.id)")).as("en"))
      .where(col("en") =!= col("eo"))
    val unified = sets
      .select(col("en"), col("eo"),
        graft.functions.PairPack.pairPack(col("en")).as("pn"),
        graft.functions.PairPack.pairPack(col("eo")).as("po"))
      .select(explode(concat(
        transform(array_except(col("pn"), col("po")),
          x => struct(x.as("pk"), lit(1L).as("d"))),
        transform(array_except(col("po"), col("pn")),
          x => struct(x.as("pk"), lit(-1L).as("d"))),
        transform(array_except(col("en"), col("eo")),
          x => struct((-x - 1).as("pk"), lit(1L).as("d"))),
        transform(array_except(col("eo"), col("en")),
          x => struct((-x - 1).as("pk"), lit(-1L).as("d"))))).as("e"))
      .select(col("e.pk").as("pk"), col("e.d").as("d"))
      .groupBy("pk").agg(sum("d").as("d"))
      .where(col("d") =!= 0) // cross-user cancellation: a zero delta is
                             // no delta (and must not mark its
                             // endpoints as affected)
      .localCheckpoint() // the ONE sever: every consumer below reads it
    // pair delta aggregated to (pk, dco) BEFORE the store merge, and
    // the merge is a FULL OUTER join on pk — the store side is
    // bucketed by pk, so the bucketed join moves only the (small)
    // delta side; the union+groupBy form reshuffled the whole
    // model-sized pair store every refresh
    val pairDelta = unified.where(col("pk") >= 0)
      .select(col("pk"), col("d").as("dco"))
    val mergedPairs = oldPairs.select(col("pk"), col("co"))
      .join(pairDelta, Seq("pk"), "full_outer")
      .select(col("pk"),
        (coalesce(col("co"), lit(0L)) + coalesce(col("dco"), lit(0L))).as("co"))
      .where(col("co") > 0)
    val cntDelta = unified.where(col("pk") < 0)
      .select((-col("pk") - 1).as("item_id"), col("d").as("dn"))
    val mergedCounts = oldCounts.select(col("item_id"), col("n_users"))
      .join(cntDelta, Seq("item_id"), "full_outer")
      .select(col("item_id"),
        (coalesce(col("n_users"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n_users"))
      .where(col("n_users") > 0)
    CfMerge(changed, mergedStr, mergedPairs, mergedCounts, pairDelta, cntDelta)
  }

  /** One refresh step: merge, then rank. Without `oldModelOpt` the
    * K·|items| ranking tail re-runs over the FULL merged model (the
    * r12 shape). With the persisted old model supplied, the tail is
    * DELTA-PROPORTIONAL (r12 verdict #2): an item's top-K can change
    * ONLY if (a) one of its pair rows changed (dco ≠ 0 touches it),
    * (b) its own n_users changed, or (c) a neighbor it shares a
    * surviving pair with changed n_users (sim = co/√(ni·nj) reads
    * both counts) — so the AFFECTED set is the union of the delta's
    * pair endpoints, the count-changed items, and the store-graph
    * neighbors of count-changed items; only pairs incident to it
    * re-rank, and every other item keeps its persisted rows verbatim.
    * A new pair (first co > 0) and a vanished pair (co → 0) both have
    * dco ≠ 0, so appearance and disappearance are covered by (a);
    * rounding is deterministic, so unchanged inputs reproduce
    * bit-identical rows and the union is exact.
    *
    * Scale: the affected-set and incident-pair filters are broadcast
    * semi-joins against the bucketed pair store — one slim scan, no
    * shuffle — and the re-rank aggregates O(|affected| · degree)
    * rows instead of the whole K·|items| model. At a 1% daily batch
    * the tail shrinks by the same two orders the merge already did. */
  private[graft] def refreshFrom(oldStrengths: DataFrame, oldPairs: DataFrame,
      oldCounts: DataFrame, post: DataFrame,
      oldModelOpt: Option[DataFrame] = None): DataFrame =
    refreshRank(mergeStats(oldStrengths, oldPairs, oldCounts, post),
      oldPairs, oldModelOpt)

  /** The ranking tail of one refresh step over an already-computed
    * merge — split from [[refreshFrom]] so [[ensureChainStore]] can
    * reuse ONE [[CfMerge]] for its three statistics writes AND the
    * advanced-model write (it used to call mergeStats twice, doubling
    * the merge's pair expansions in the warm stage). */
  private[graft] def refreshRank(m: CfMerge, oldPairs: DataFrame,
      oldModelOpt: Option[DataFrame]): DataFrame = {
    oldModelOpt match {
      case None =>
        knnFromPairCounts(unpack(m.mergedPairs, "item_i", "item_j"), m.mergedCounts)
      case Some(oldModel) =>
        val affected = affectedItems(m, oldPairs)
          .localCheckpoint() // ≤ |items| ids; four broadcast consumers
        def affAs(name: String) = broadcast(affected.select(col("item_id").as(name)))
        val incident = unpack(m.mergedPairs, "item_i", "item_j")
          .join(affAs("item_i").withColumn("fi", lit(1)), Seq("item_i"), "left")
          .join(affAs("item_j").withColumn("fj", lit(1)), Seq("item_j"), "left")
          .where(col("fi").isNotNull || col("fj").isNotNull)
          .select("item_i", "item_j", "co")
        val reranked = knnFromPairCounts(incident, m.mergedCounts)
          .join(affAs("item_i"), Seq("item_i"), "left_semi")
        oldModel.join(affAs("item_i"), Seq("item_i"), "left_anti")
          .unionByName(reranked)
          .orderBy("item_i", "rk")
    }
  }

  /** Affected-item share above which the ranking tail re-ranks the
    * WHOLE merged model instead of the delta-proportional subset.
    *
    * r13 OPTIMIZATION (guide §1.2 step 1 — pick the algorithm by the
    * data): the delta tail wins when few items changed (a 1% daily
    * batch — RecsysScaleSpec's case), but when the batch touches most
    * items the incident-pair filter, the affected-set scan, and the
    * untouched-row anti-join are three extra passes over essentially
    * the full pair space, stacked ON TOP of a full-sized re-rank.
    * Measured at sf0.1 (the fixture batch spans ~36% of history, so
    * ~every item's count changes): delta tail 20-31 s vs full re-rank
    * ~8-10 s for the SAME row-identical output. Both paths are pinned
    * equal by ServeIndexSpec, so the choice is pure execution
    * planning — the AQE philosophy one level up, decided from two
    * exact counts (the checkpointed count-delta and the store's item
    * count; driver scalars, bounded by |items|). */
  val CfRerankFullFrac = 0.2

  /** The adaptive-path decision, exposed for the spec plan-pins (they
    * must know which tail shape to expect at their fixture SF). */
  private[graft] def rerankDelta(nCntChanged: Long, nStoreItems: Long): Boolean =
    nCntChanged < CfRerankFullFrac * nStoreItems.max(1L)

  /** One refresh step of a persisted store by the batch `post`, with
    * the ADAPTIVE ranking tail — the registry path of q_itemcf_refresh
    * / _chain / _delete. Output is identical on either path; see
    * [[CfRerankFullFrac]]. */
  private def refreshAdaptive(store: String => DataFrame, post: DataFrame): DataFrame = {
    val oldPairs = store("pairs")
    val m = mergeStats(store("strengths"), oldPairs, store("counts"), post)
    refreshRank(m, oldPairs, adaptiveModel(m, store))
  }

  /** The adaptive gate: the store's persisted model when the
    * delta-proportional tail applies ([[rerankDelta]] over the merge's
    * count delta and the store's item count — two driver counts, each
    * ≤ |items|), else None (re-rank the whole merged model). */
  private def adaptiveModel(m: CfMerge, store: String => DataFrame): Option[DataFrame] =
    if (rerankDelta(m.cntDelta.count(), store("counts").count())) Some(store("model")) else None

  /** The items whose top-K can differ after a merge — see
    * [[refreshFrom]]'s case analysis. `oldPairs` supplies the
    * store-graph adjacency for case (c): a pair CREATED or DESTROYED
    * by the delta has dco ≠ 0, so its endpoints are already in via
    * case (a) — surviving-pair adjacency is fully visible in the old
    * store. */
  private def affectedItems(m: CfMerge, oldPairs: DataFrame): DataFrame = {
    val deltaEnds = unpack(m.pairDelta.select("pk"), "a", "b")
    val cntChanged = m.cntDelta.select("item_id")
    val cset = broadcast(cntChanged.withColumn("f", lit(1)))
    val nbrOfCnt = unpack(oldPairs.select("pk"), "a", "b")
      .join(cset.select(col("item_id").as("a"), col("f").as("fa")), Seq("a"), "left")
      .join(cset.select(col("item_id").as("b"), col("f").as("fb")), Seq("b"), "left")
      .where(col("fa").isNotNull || col("fb").isNotNull)
      .select(explode(array(
        when(col("fa").isNotNull, col("b")),
        when(col("fb").isNotNull, col("a")))).as("item_id"))
      .where(col("item_id").isNotNull)
    deltaEnds.select(col("a").as("item_id"))
      .unionByName(deltaEnds.select(col("b").as("item_id")))
      .unionByName(cntChanged)
      .unionByName(nbrOfCnt)
      .distinct()
  }

  /** Catalog name of the PUBLISHED refreshed model. */
  private[graft] def cfRefreshedName(sfDir: String): String =
    Sources.serveName("itemcf_refreshed", sfDir)

  /** PUBLISH the refreshed model: write [[itemcfRefresh]]'s output as
    * the new serving table (same bucketed layout as the fresh model's
    * [[ensureCfModel]]). [[Sources.publish]]'s retire+saveAsTable is the catalog swap
    * a production rollout performs; the old model's location is
    * reclaimed. This is the last hop of the lifecycle the drift alarm
    * starts: drift (q_itemcf_drift says "retrain now") → refresh
    * (delta merge, q_itemcf_refresh) → publish (this) → serve
    * (q_itemcf_refresh_serve). */
  private[graft] def ensureRefreshedModel(spark: SparkSession, sfDir: String): Unit =
    graft.QueryCache.once(spark, s"itemcf_refresh_published:$sfDir") {
      Sources.publish(itemcfRefresh(spark, sfDir), cfRefreshedName(sfDir),
        Seq("item_i"), CfStoreBuckets, Seq("item_i", "rk"))
    }

  /** Serve recommendations from the PUBLISHED refreshed model. The
    * refreshed model is row-identical to the from-scratch model (the
    * q_itemcf_refresh contract), so serving from it must equal
    * serving from the fresh model — [[itemcfRecommendSql]] stays the
    * oracle, and the whole drift→refresh→publish→serve loop is
    * hash-verified end to end. */
  def itemcfRefreshServe(spark: SparkSession, sfDir: String): DataFrame = {
    ensureRefreshedModel(spark, sfDir)
    recommendFrom(cappedInteractions(spark, sfDir), spark.table(cfRefreshedName(sfDir)))
  }

  /** Catalog names of the ADVANCED store — the frozen store's snapshot
    * after folding batch b₁ in. A separate lineage from
    * [[cfStoreNames]]: advancing THOSE tables in place would silently
    * change q_itemcf_refresh's inputs (the immutable-serve-table
    * discipline every grow leg follows). */
  private[graft] def cfChainNames(sfDir: String): Map[String, String] =
    CfStoreParts.map(n => n -> Sources.serveName(s"cfadv_$n", sfDir)).toMap

  /** ADVANCE the store (r12 verdict #1 — the leg that lets the refresh
    * lifecycle iterate past day one): fold batch b₁ = [SplitDate,
    * ChainDate) into the frozen store and WRITE BACK the merged
    * sufficient statistics as a new store snapshot — same bucketed
    * layouts (strengths by user_id, pairs by pk, model by item_i) —
    * plus the b₁-refreshed model. The statistics are a join-semilattice
    * (addition on exact integers / integral doubles), so
    * advance(store, b₁) followed by refresh(b₂) is associatively equal
    * to refresh(b₁ ∪ b₂) and to the from-scratch rebuild — the
    * property [[itemcfRefreshChain]]'s oracle hash-checks end to end.
    * Strengths of UNCHANGED users carry over verbatim (anti-join on
    * the changed set reads only matching user_id buckets); the pair
    * and count merges are complete post-merge stores already. */
  private[graft] def ensureChainStore(spark: SparkSession, sfDir: String): Unit =
    graft.QueryCache.once(spark, s"itemcf_chain_advanced:$sfDir") {
      ensureCfStore(spark, sfDir)
      val old = storeOf(spark, cfStoreNames(sfDir))
      val adv = cfChainNames(sfDir)
      val post1 = deltaBetween(spark, sfDir, SplitDate, Some(ChainDate))
        .localCheckpoint() // merge + model refresh read it
      val m = mergeStats(old("strengths"), old("pairs"), old("counts"), post1)
      Sources.publish(
        old("strengths").join(m.changed, Seq("user_id"), "left_anti")
          .unionByName(m.mergedStr),
        adv("strengths"), Seq("user_id"), CfStoreBuckets, Seq("user_id", "item_id"))
      Sources.publish(m.mergedPairs, adv("pairs"), Seq("pk"), CfStoreBuckets, Seq("pk"))
      Sources.publish(m.mergedCounts, adv("counts"))
      Sources.publish(
        // same adaptive tail as the registry path (b₁ is fixture-shaped)
        refreshRank(m, old("pairs"), adaptiveModel(m, old)),
        adv("model"), Seq("item_i"), CfStoreBuckets, Seq("item_i", "rk"))
    }

  /** The refresh CHAIN: refresh #2 runs from the ADVANCED store —
    * batch b₂ = [ChainDate, ∞) folds into the snapshot
    * [[ensureChainStore]] wrote after b₁ — and must equal
    * refresh(b₁ ∪ b₂) (which is q_itemcf_refresh) and the from-scratch
    * full-corpus model, so [[itemcfSimilaritySql]] stays the oracle.
    * This is the day-2 shape every real user of the refresh machinery
    * hits: yesterday's merge is a durable snapshot, today's refresh
    * folds only today's batch — each day's cost stays proportional to
    * that day's batch, never to the accumulated history.
    *
    * Scale: identical plan shape to [[itemcfRefresh]] — the b₂ scan
    * carries both pushed date bounds, the store side reads bucketed
    * catalog tables (ServeIndexSpec pins zero fixture scans below the
    * advanced store), and the ranking tail is delta-proportional via
    * the advanced model table. */
  def itemcfRefreshChain(spark: SparkSession, sfDir: String): DataFrame = {
    ensureChainStore(spark, sfDir)
    val post2 = deltaBetween(spark, sfDir, ChainDate, None)
      .localCheckpoint() // changed-user list + strength merge read it
    refreshAdaptive(storeOf(spark, cfChainNames(sfDir)), post2)
  }

  /** GDPR DELETE as a refresh (r12 verdict #4, CF pillar): forgetting
    * users is a NEGATIVE delta — the victims' entire strength rows,
    * read FROM THE STORE ITSELF and negated, fold through the same
    * [[refreshFrom]] semilattice merge (memberships leave the capped
    * sets, pair counts decrement, co → 0 rows vanish, n_users → 0
    * items vanish; integral-valued doubles cancel to exactly 0.0, so
    * the > 0 strength filter drops a fully-deleted row). The output
    * must equal a from-scratch rebuild that never saw the deleted
    * users — the oracle recomputes exactly that.
    *
    * Scale: the whole delete touches ZERO fixture/corpus scans — the
    * victim rows come from the bucketed strength store (only matching
    * user_id buckets read), and the ranking tail re-ranks only the
    * affected items. "Remove these users" costs the same as ingesting
    * a batch of their size — at 100 TB that is the difference between
    * a compliance job and a full retrain. */
  def itemcfDelete(spark: SparkSession, sfDir: String): DataFrame = {
    ensureCfStore(spark, sfDir)
    val store = storeOf(spark, cfStoreNames(sfDir))
    val negDelta = store("strengths")
      .where(col("user_id") % DeleteMod === 0)
      .select(col("user_id"), col("item_id"), (-col("strength")).as("strength"))
      .localCheckpoint() // changed-user list + strength merge read it
    refreshAdaptive(store, negDelta)
  }

  /** Oracle: the frozen-corpus model rebuilt WITHOUT the deleted
    * users — refresh-with-deletes must be indistinguishable from
    * never having ingested them. */
  val itemcfDeleteSql: String =
    s"""WITH ${itemcfChainSql("d",
        s"WHERE o_orderdate < TIMESTAMP '$SplitDate' AND o_custkey % $DeleteMod <> 0")}
       |SELECT item_i, rk, item_j, sim, co FROM dknn
       |ORDER BY item_i, rk""".stripMargin

  /** One prefixed, interaction-filtered ItemCF knn CTE chain — the
    * drift oracle instantiates it twice (fresh '' filter, frozen
    * pre-split filter) so both arms share one definition. Ends in
    * `${p}knn` = (item_i, item_j, rk ≤ [[TopK]]). */
  private def itemcfChainSql(p: String, where: String): String =
    s"""${p}interactions AS (
       |  SELECT o_custkey AS user_id, l_partkey AS item_id, sum(l_quantity) AS strength
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  $where
       |  GROUP BY 1, 2
       |), ${p}capped AS (
       |  SELECT user_id, item_id FROM (
       |    SELECT user_id, item_id,
       |      row_number() OVER (PARTITION BY user_id ORDER BY strength DESC, item_id ASC) AS hrk
       |    FROM ${p}interactions
       |  ) WHERE hrk <= $MaxHistory
       |), ${p}counts AS (
       |  SELECT item_id, count(*) AS n_users FROM ${p}capped GROUP BY item_id
       |), ${p}pairs AS (
       |  SELECT a.item_id AS item_i, b.item_id AS item_j, count(*) AS co
       |  FROM ${p}capped a JOIN ${p}capped b
       |    ON a.user_id = b.user_id AND a.item_id < b.item_id
       |  GROUP BY 1, 2
       |), ${p}mirrored AS (
       |  SELECT item_i, item_j, co FROM ${p}pairs
       |  UNION ALL
       |  SELECT item_j AS item_i, item_i AS item_j, co FROM ${p}pairs
       |), ${p}sim AS (
       |  SELECT item_i, item_j, co,
       |    round(co / sqrt(ci.n_users * cj.n_users), 6) AS sim
       |  FROM ${p}mirrored
       |  JOIN ${p}counts ci ON ci.item_id = item_i
       |  JOIN ${p}counts cj ON cj.item_id = item_j
       |), ${p}knn AS MATERIALIZED (
       |  SELECT item_i, item_j, sim, co, rk FROM (
       |    SELECT item_i, item_j, sim, co,
       |      row_number() OVER (PARTITION BY item_i ORDER BY sim DESC, item_j ASC) AS rk
       |    FROM ${p}sim
       |  ) WHERE rk <= $TopK
       |)""".stripMargin

  val itemcfDriftSql: String =
    s"""WITH ${itemcfChainSql("f", "")},
       |${itemcfChainSql("t", s"WHERE o_orderdate < TIMESTAMP '$SplitDate'")},
       |kf AS (
       |  SELECT item_i, count(*) AS k_fresh,
       |    min(CASE WHEN rk = 1 THEN item_j END) AS t1_fresh
       |  FROM fknn GROUP BY 1
       |), kz AS (
       |  SELECT item_i, count(*) AS k_frozen,
       |    min(CASE WHEN rk = 1 THEN item_j END) AS t1_frozen
       |  FROM tknn GROUP BY 1
       |), common AS (
       |  SELECT f.item_i, count(*) AS n_common
       |  FROM fknn f JOIN tknn z ON z.item_i = f.item_i AND z.item_j = f.item_j
       |  GROUP BY 1
       |), per AS (
       |  SELECT b.item_i, coalesce(c.n_common, 0) AS n_common,
       |    least(b.k_fresh, b.k_frozen) AS k_min,
       |    CASE WHEN b.t1_fresh = b.t1_frozen THEN 0 ELSE 1 END AS chg1
       |  FROM (SELECT kf.item_i, k_fresh, k_frozen, t1_fresh, t1_frozen
       |        FROM kf JOIN kz ON kz.item_i = kf.item_i) b
       |  LEFT JOIN common c ON c.item_i = b.item_i
       |)
       |SELECT (SELECT count(*) FROM kf)::BIGINT AS n_items_fresh,
       |  (SELECT count(*) FROM kz)::BIGINT AS n_items_frozen,
       |  count(*)::BIGINT AS n_items_both,
       |  sum(n_common)::BIGINT AS n_common_pairs,
       |  ((sum(n_common) * 10000) // sum(k_min))::BIGINT AS overlap_bp,
       |  sum(chg1)::BIGINT AS n_top1_changed
       |FROM per""".stripMargin

  val itemcfRecommendSql: String =
    s"""WITH $cappedSql, r AS (
       |  SELECT user_id, item_id FROM capped
       |), counts AS (
       |  SELECT item_id, count(*) AS n_users FROM r GROUP BY item_id
       |), pairs AS (
       |  SELECT a.item_id AS item_i, b.item_id AS item_j, count(*) AS co
       |  FROM r a JOIN r b ON a.user_id = b.user_id AND a.item_id < b.item_id
       |  GROUP BY 1, 2
       |), mirrored AS (
       |  SELECT item_i, item_j, co FROM pairs
       |  UNION ALL
       |  SELECT item_j AS item_i, item_i AS item_j, co FROM pairs
       |), sim AS (
       |  SELECT item_i, item_j,
       |    round(co / sqrt(ci.n_users * cj.n_users), 6) AS sim
       |  FROM mirrored
       |  JOIN counts ci ON ci.item_id = item_i
       |  JOIN counts cj ON cj.item_id = item_j
       |), knn AS (
       |  SELECT item_i, item_j, sim FROM (
       |    SELECT item_i, item_j, sim,
       |      row_number() OVER (PARTITION BY item_i ORDER BY sim DESC, item_j ASC) AS rk
       |    FROM sim
       |  ) WHERE rk <= $TopK
       |), scored AS (
       |  SELECT h.user_id, k.item_j AS cand,
       |    round(sum(k.sim * h.strength), 6) AS score
       |  FROM capped h JOIN knn k ON h.item_id = k.item_i
       |  GROUP BY 1, 2
       |), unseen AS (
       |  SELECT s.user_id, s.cand, s.score
       |  FROM scored s
       |  WHERE NOT EXISTS (
       |    SELECT 1 FROM capped h WHERE h.user_id = s.user_id AND h.item_id = s.cand)
       |), ranked AS (
       |  SELECT user_id, cand, score,
       |    row_number() OVER (PARTITION BY user_id ORDER BY score DESC, cand ASC) AS rk
       |  FROM unseen
       |)
       |SELECT user_id, rk, cand AS item_id, score
       |FROM ranked WHERE rk <= $TopN
       |ORDER BY user_id, rk""".stripMargin

  /** M3 UserCF similarity: the transpose of M1 — user–user cosine via a
    * self-join on item. Per-item user lists are capped implicitly by the
    * history cap; at 100 TB a hot-ITEM cap (mirror of MaxHistory) would
    * be added the same way.
    */
  def usercfSimilarity(spark: SparkSession, sfDir: String): DataFrame =
    memoSim(spark, sfDir, "usercf") { usercfSimilarityPlan(spark, sfDir) }

  /** Shared user-pair co-occurrence aggregate (pk → co) — read by the
    * UserCF cosine AND GraphRank's SimRank round 1, so the ~|U·pairs|
    * expansion happens once per session like [[itemPairAgg]]. */
  private[operators] def userPairAgg(spark: SparkSession, sfDir: String): DataFrame =
    graft.QueryCache.memo(spark, s"recsys:userpairs:$sfDir") {
      val r = cappedInteractions(spark, sfDir).select("user_id", "item_id")
      // near-duplicate-free pair stream — single complete-mode
      // aggregate after a pk exchange (see expandWeightedPairs)
      pairsWithin(r, "item_id", "user_id").select("pk")
        .repartition(col("pk")).groupBy("pk").agg(count(lit(1)).as("co"))
    }

  private def usercfSimilarityPlan(spark: SparkSession, sfDir: String): DataFrame = {
    val r = cappedInteractions(spark, sfDir).select("user_id", "item_id")
    // Same plan shape as itemcfSimilarity: count joins on the
    // half-space, then knnOf's single-generator mirror.
    val counts = r.groupBy("user_id").agg(count(lit(1)).as("n_items"))
    val pairs = unpack(userPairAgg(spark, sfDir), "user_u", "user_v")
    val cu = counts.select(col("user_id").as("user_u"), col("n_items").as("nu"))
    val cv = counts.select(col("user_id").as("user_v"), col("n_items").as("nv"))
    // count attach unhinted: unlike the CATALOG-sized item-count tables
    // in the itemcf tiers, this side is |users| rows — broadcast is
    // AQE's call while small, a shuffled equi-join at population scale
    knnOf(pairs
      .join(cu, "user_u")
      .join(cv, "user_v")
      .withColumn("sim", round(col("co") / sqrt(col("nu") * col("nv")), 6)),
      "user_u", "user_v")
  }

  val usercfSimilaritySql: String =
    s"""WITH $cappedSql, r AS (
       |  SELECT user_id, item_id FROM capped
       |), counts AS (
       |  SELECT user_id, count(*) AS n_items FROM r GROUP BY user_id
       |), pairs AS (
       |  SELECT a.user_id AS user_u, b.user_id AS user_v, count(*) AS co
       |  FROM r a JOIN r b ON a.item_id = b.item_id AND a.user_id < b.user_id
       |  GROUP BY 1, 2
       |), mirrored AS (
       |  SELECT user_u, user_v, co FROM pairs
       |  UNION ALL
       |  SELECT user_v AS user_u, user_u AS user_v, co FROM pairs
       |), sim AS (
       |  SELECT user_u, user_v, co,
       |    round(co / sqrt(cu.n_items * cv.n_items), 6) AS sim
       |  FROM mirrored
       |  JOIN counts cu ON cu.user_id = user_u
       |  JOIN counts cv ON cv.user_id = user_v
       |), ranked AS (
       |  SELECT user_u, user_v, sim, co,
       |    row_number() OVER (PARTITION BY user_u ORDER BY sim DESC, user_v ASC) AS rk
       |  FROM sim
       |)
       |SELECT user_u, rk, user_v, sim, co
       |FROM ranked WHERE rk <= $TopK
       |ORDER BY user_u, rk""".stripMargin

  /** M3 UserCF recommend: score(u,c) = Σ_{v∈Nk(u)} sim(u,v)·strength(v,c)
    * over the top-K user neighborhood, minus seen, top-N per user.
    */
  def usercfRecommend(spark: SparkSession, sfDir: String): DataFrame = {
    val hist = cappedInteractions(spark, sfDir)
    // K·|users| rows — broadcast the neighborhood, shuffle only histories
    val nbrs = broadcast(usercfSimilarity(spark, sfDir).select("user_u", "user_v", "sim"))
    val scored = nbrs
      .join(hist.select(col("user_id").as("user_v"), col("item_id").as("cand"), col("strength")), "user_v")
      .groupBy(col("user_u").as("user_id"), col("cand"))
      .agg(round(sum(col("sim") * col("strength")), 6).as("score"))
    topNPerUser(dropSeen(scored, hist))
  }

  val usercfRecommendSql: String =
    s"""WITH $cappedSql, r AS (
       |  SELECT user_id, item_id FROM capped
       |), counts AS (
       |  SELECT user_id, count(*) AS n_items FROM r GROUP BY user_id
       |), pairs AS (
       |  SELECT a.user_id AS user_u, b.user_id AS user_v, count(*) AS co
       |  FROM r a JOIN r b ON a.item_id = b.item_id AND a.user_id < b.user_id
       |  GROUP BY 1, 2
       |), mirrored AS (
       |  SELECT user_u, user_v, co FROM pairs
       |  UNION ALL
       |  SELECT user_v AS user_u, user_u AS user_v, co FROM pairs
       |), sim AS (
       |  SELECT user_u, user_v,
       |    round(co / sqrt(cu.n_items * cv.n_items), 6) AS sim
       |  FROM mirrored
       |  JOIN counts cu ON cu.user_id = user_u
       |  JOIN counts cv ON cv.user_id = user_v
       |), knn AS (
       |  SELECT user_u, user_v, sim FROM (
       |    SELECT user_u, user_v, sim,
       |      row_number() OVER (PARTITION BY user_u ORDER BY sim DESC, user_v ASC) AS rk
       |    FROM sim
       |  ) WHERE rk <= $TopK
       |), scored AS (
       |  SELECT k.user_u AS user_id, h.item_id AS cand,
       |    round(sum(k.sim * h.strength), 6) AS score
       |  FROM knn k JOIN capped h ON h.user_id = k.user_v
       |  GROUP BY 1, 2
       |), unseen AS (
       |  SELECT s.user_id, s.cand, s.score
       |  FROM scored s
       |  WHERE NOT EXISTS (
       |    SELECT 1 FROM capped h WHERE h.user_id = s.user_id AND h.item_id = s.cand)
       |), ranked AS (
       |  SELECT user_id, cand, score,
       |    row_number() OVER (PARTITION BY user_id ORDER BY score DESC, cand ASC) AS rk
       |  FROM unseen
       |)
       |SELECT user_id, rk, cand AS item_id, score
       |FROM ranked WHERE rk <= $TopN
       |ORDER BY user_id, rk""".stripMargin

  /** Per-item-pair user cap for Swing (bounds the user-pair blowup). */
  val SwingUserCap = 20
  /** Swing smoothing term α. */
  val SwingAlpha = 1.0
  /** Pairs emitted by the swing query. */
  val SwingTop = 200

  /** M4 Swing similarity: sim(i,j) = Σ_{(u,v)∈N(i)∩N(j), u<v}
    * 1/(α + |I_u ∩ I_v|). Robustifies co-occurrence against user pairs
    * that co-rate everything. Cost control (the 4-way join is the worst
    * blowup in the engine): per-item user lists capped at SwingUserCap
    * users (deterministic by user id) BEFORE pairing, on top of the
    * per-user history cap. Output ranks on the rounded score.
    */
  def swingSimilarity(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("item_id")).orderBy(col("user_id").asc)
    val r = cappedInteractions(spark, sfDir)
      .select("user_id", "item_id")
      .withColumn("urk", row_number().over(w))
      .where(col("urk") <= SwingUserCap)
      .drop("urk")
    // Join-free formulation (the round-1 plan self-joined two multi-M-row
    // item-pair tables, then joined an overlap table — three SMJs): group
    // the per-item user pairs by (u,v); the collected item list IS the
    // shared set I_u∩I_v, so |I_u∩I_v| = size(list), and the item pairs
    // co-rated by (u,v) are exactly the pairs within that list. One
    // aggregate + one generator replaces all three joins; the algebra
    // (and the oracle SQL) is unchanged.
    // group by the packed user pair directly — its identity is only a
    // grouping key, so it is never unpacked
    val shared = pairsWithin(r, "item_id", "user_id")
      .groupBy("pk")
      .agg(sort_array(collect_list(col("item_id"))).as("items"))
      // r13 (guide §1.2 step 2): the swing weight 1/(α+overlap) is
      // constant per user pair — compute it ONCE here instead of per
      // exploded item pair (the same double, so Σ is unchanged), and
      // pack the item pair into one long via the codegen generator so
      // the big aggregate groups on a primitive key (the itemPairAgg
      // argument: measurably cheaper than struct keys at millions of
      // rows). items is ascending-sorted, so PairPack's (a<b) pairs
      // are exactly the old slice-transform pairs.
      .withColumn("w", lit(1.0) / (lit(SwingAlpha) + size(col("items"))))
    val contrib = shared.select(col("w"),
      explode(graft.functions.PairPack.pairPack(col("items"))).as("pk2"))
    unpack(
      contrib.groupBy("pk2").agg(round(sum(col("w")), 6).as("swing"),
          count(lit(1)).as("n_user_pairs"))
        .withColumnRenamed("pk2", "pk"),
      "item_i", "item_j")
      .select("item_i", "item_j", "swing", "n_user_pairs")
      .orderBy(col("swing").desc, col("item_i").asc, col("item_j").asc)
      .limit(SwingTop)
  }

  /** Oracle mirrors the join-free shape: (u,v,shared-item) rows once,
    * item pairs expanded within each user-pair group — the original
    * item_pairs⋈item_pairs formulation OOM'd DuckDB at sf0.1 (verified
    * identical output at sf0.01 before swapping).
    */
  val swingSimilaritySql: String =
    s"""WITH $cappedSql, r AS (
       |  SELECT user_id, item_id FROM (
       |    SELECT user_id, item_id,
       |      row_number() OVER (PARTITION BY item_id ORDER BY user_id ASC) AS urk
       |    FROM capped
       |  ) WHERE urk <= $SwingUserCap
       |), sr AS (
       |  SELECT ra.user_id AS u, rb.user_id AS v, ra.item_id AS item
       |  FROM r ra JOIN r rb ON ra.item_id = rb.item_id AND ra.user_id < rb.user_id
       |), ov AS (
       |  SELECT u, v, count(*) AS overlap FROM sr GROUP BY 1, 2
       |), contrib AS (
       |  SELECT a.u, a.v, a.item AS item_i, b.item AS item_j
       |  FROM sr a JOIN sr b ON a.u = b.u AND a.v = b.v AND a.item < b.item
       |)
       |SELECT item_i, item_j,
       |  round(sum(1.0 / ($SwingAlpha + overlap)), 6) AS swing,
       |  count(*) AS n_user_pairs
       |FROM contrib JOIN ov USING (u, v)
       |GROUP BY 1, 2
       |ORDER BY swing DESC, item_i ASC, item_j ASC
       |LIMIT $SwingTop""".stripMargin

  /** M1 variant — rating-weighted ItemCF cosine:
    * sim(i,j) = Σ_u r_ui·r_uj / (‖r_i‖·‖r_j‖) over the capped
    * interactions (the binary-co-occurrence tier is q_itemcf_similarity).
    * Same map-side pair shape, but each pair carries the strength
    * product, so pairs ride as (packed long, product) structs; norms
    * are a tiny broadcast aggregate. Strengths are integral-valued
    * doubles (Σ l_quantity), so products and their sums are exact and
    * order-independent across engines.
    */
  def itemcfWeighted(spark: SparkSession, sfDir: String): DataFrame =
    weightedTopKFromPairs(itemPairAgg(spark, sfDir), cappedInteractions(spark, sfDir))

  val itemcfWeightedSql: String =
    s"""WITH $cappedSql, norms AS (
       |  SELECT item_id, sqrt(sum(strength * strength)) AS nrm
       |  FROM capped GROUP BY item_id
       |), pairs AS (
       |  SELECT a.item_id AS item_i, b.item_id AS item_j,
       |    sum(a.strength * b.strength) AS dot, count(*) AS co
       |  FROM capped a JOIN capped b
       |    ON a.user_id = b.user_id AND a.item_id < b.item_id
       |  GROUP BY 1, 2
       |), sim AS (
       |  SELECT item_i, item_j, round(dot / (ni.nrm * nj.nrm), 6) AS sim, co
       |  FROM pairs
       |  JOIN norms ni ON ni.item_id = item_i
       |  JOIN norms nj ON nj.item_id = item_j
       |), mirrored AS (
       |  SELECT item_i, item_j, sim, co FROM sim
       |  UNION ALL
       |  SELECT item_j AS item_i, item_i AS item_j, sim, co FROM sim
       |), ranked AS (
       |  SELECT item_i, item_j, sim, co,
       |    row_number() OVER (PARTITION BY item_i ORDER BY sim DESC, item_j ASC) AS rk
       |  FROM mirrored
       |)
       |SELECT item_i, rk, item_j, sim, co
       |FROM ranked WHERE rk <= $TopK
       |ORDER BY item_i, rk""".stripMargin

  /** Half-life (days) for time-decayed interaction strength. */
  val HalfLifeDays = 90.0
  /** Rolling window (days): interactions older than this are excluded
    * by definition — at 8 half-lives they carry < 0.4% weight, and the
    * window is what bounds compute at scale (production decay-CF scans
    * the recency window, never the full history; with date-partitioned
    * storage this is partition pruning, not a filter).
    */
  val DecayWindowDays = 720

  /** M1 variant — time-decayed ItemCF: interaction strength is
    * quantity × 0.5^(age_days / $HalfLifeDays) over a rolling
    * $DecayWindowDays-day window, ages measured from the corpus max
    * order date (deterministic "now", computed as a broadcast 1-row
    * aggregate — never a driver collect). Recency weighting is the
    * standard production treatment for drifting tastes; everything
    * downstream is the weighted-cosine pipeline. Decayed strengths are
    * rounded to 6 dp at the aggregate so both engines carry identical
    * inputs into the similarity math (pow/exp differ by ≤1 ulp across
    * libms — 9 digits below the rounding).
    */
  def itemcfDecay(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir).select("o_orderkey", "o_custkey", "o_orderdate")
    val l = Tables.lineitem(spark, sfDir).select("l_orderkey", "l_partkey", "l_quantity")
    val nowDf = Tables.orders(spark, sfDir).agg(max(to_date(col("o_orderdate"))).as("now_d"))
    val dated = l.join(o, col("l_orderkey") === col("o_orderkey"))
      .crossJoin(broadcast(nowDf))
      .withColumn("age_d", datediff(col("now_d"), to_date(col("o_orderdate"))))
      .where(col("age_d") <= DecayWindowDays)
      .withColumn("w", col("l_quantity") * pow(lit(0.5), col("age_d") / HalfLifeDays))
      .groupBy(col("o_custkey").as("user_id"), col("l_partkey").as("item_id"))
      .agg(round(sum("w"), 6).as("strength"))
    // same hot-user cap + weighted-cosine pipeline as the base tier,
    // over the decayed strengths
    val r = capHistories(dated)
    weightedTopKFromPairs(expandWeightedPairs(r), r)
  }

  val itemcfDecaySql: String =
    s"""WITH nowd AS (
       |  SELECT max(o_orderdate::DATE) AS now_d FROM orders
       |), dated AS (
       |  SELECT o_custkey AS user_id, l_partkey AS item_id,
       |    round(sum(l_quantity * pow(0.5,
       |      datediff('day', o_orderdate::DATE, now_d) / $HalfLifeDays)), 6) AS strength
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  CROSS JOIN nowd
       |  WHERE datediff('day', o_orderdate::DATE, now_d) <= $DecayWindowDays
       |  GROUP BY 1, 2
       |), capped AS (
       |  SELECT user_id, item_id, strength FROM (
       |    SELECT user_id, item_id, strength,
       |      row_number() OVER (PARTITION BY user_id ORDER BY strength DESC, item_id ASC) AS hrk
       |    FROM dated
       |  ) WHERE hrk <= $MaxHistory
       |), norms AS (
       |  SELECT item_id, sqrt(sum(strength * strength)) AS nrm
       |  FROM capped GROUP BY item_id
       |), pairs AS (
       |  SELECT a.item_id AS item_i, b.item_id AS item_j,
       |    sum(a.strength * b.strength) AS dot, count(*) AS co
       |  FROM capped a JOIN capped b
       |    ON a.user_id = b.user_id AND a.item_id < b.item_id
       |  GROUP BY 1, 2
       |), sim AS (
       |  SELECT item_i, item_j, round(dot / (ni.nrm * nj.nrm), 6) AS sim, co
       |  FROM pairs
       |  JOIN norms ni ON ni.item_id = item_i
       |  JOIN norms nj ON nj.item_id = item_j
       |), mirrored AS (
       |  SELECT item_i, item_j, sim, co FROM sim
       |  UNION ALL
       |  SELECT item_j AS item_i, item_i AS item_j, sim, co FROM sim
       |), ranked AS (
       |  SELECT item_i, item_j, sim, co,
       |    row_number() OVER (PARTITION BY item_i ORDER BY sim DESC, item_j ASC) AS rk
       |  FROM mirrored
       |)
       |SELECT item_i, rk, item_j, sim, co
       |FROM ranked WHERE rk <= $TopK
       |ORDER BY item_i, rk""".stripMargin

  /** Popular parts kept per brand for content candidates. */
  val BrandTop = 50

  /** Content-based recommend (the content-profile family): profile each
    * user by their strongest brand (Σ strength, ties to the
    * lexicographically first brand), candidate-generate from the
    * top-$BrandTop most-interacted parts of that brand, drop seen
    * items, rank by part popularity. The candidate join is
    * (users × $BrandTop) — the classic "popular within preferred
    * category" generation that stays linear in users at any scale,
    * with the per-brand shortlist broadcast.
    */
  def contentRecommend(spark: SparkSession, sfDir: String): DataFrame = {
    val hist = cappedInteractions(spark, sfDir)
    val parts = Tables.part(spark, sfDir).select(col("p_partkey"), col("p_brand"))
    val withBrand = hist.join(broadcast(parts), hist("item_id") === parts("p_partkey"))
    // user profile: strongest brand
    val wB = Window.partitionBy(col("user_id")).orderBy(col("brand_strength").desc, col("p_brand").asc)
    val profile = withBrand.groupBy("user_id", "p_brand")
      .agg(round(sum("strength"), 4).as("brand_strength"))
      .withColumn("rk", row_number().over(wB))
      .where(col("rk") === 1)
      .select(col("user_id"), col("p_brand"))
    // per-brand shortlist: most popular parts by interaction count
    val wP = Window.partitionBy(col("p_brand")).orderBy(col("pop").desc, col("item_id").asc)
    val shortlist = withBrand.groupBy("p_brand", "item_id")
      .agg(count(lit(1)).as("pop"))
      .withColumn("prk", row_number().over(wP))
      .where(col("prk") <= BrandTop)
      .select(col("p_brand"), col("item_id").as("cand"), col("pop"))
    val unseen = dropSeen(profile.join(broadcast(shortlist), "p_brand"), hist)
    // bounded top-K (pop is an exact small integer — lossless in the
    // double score slot; rides as extra to come back out as a long)
    TopKByScore.ranked(unseen, Seq("user_id", "p_brand"), TopN,
        col("pop").cast("double"), col("cand"), col("pop"))
      .select(col("user_id"), col("rk"), col("id").as("item_id"), col("p_brand"),
              col("extra").as("pop"))
      .orderBy("user_id", "rk")
  }

  val contentRecommendSql: String =
    s"""WITH $cappedSql, wb AS (
       |  SELECT c.user_id, c.item_id, c.strength, p.p_brand
       |  FROM capped c JOIN part p ON c.item_id = p.p_partkey
       |), profile AS (
       |  SELECT user_id, p_brand FROM (
       |    SELECT user_id, p_brand,
       |      row_number() OVER (PARTITION BY user_id
       |        ORDER BY round(sum(strength), 4) DESC, p_brand ASC) AS rk
       |    FROM wb GROUP BY user_id, p_brand
       |  ) WHERE rk = 1
       |), shortlist AS (
       |  SELECT p_brand, cand, pop FROM (
       |    SELECT p_brand, item_id AS cand, count(*) AS pop,
       |      row_number() OVER (PARTITION BY p_brand
       |        ORDER BY count(*) DESC, item_id ASC) AS prk
       |    FROM wb GROUP BY p_brand, item_id
       |  ) WHERE prk <= $BrandTop
       |), unseen AS (
       |  SELECT pr.user_id, s.cand, pr.p_brand, s.pop
       |  FROM profile pr JOIN shortlist s USING (p_brand)
       |  WHERE NOT EXISTS (
       |    SELECT 1 FROM capped h WHERE h.user_id = pr.user_id AND h.item_id = s.cand)
       |)
       |SELECT user_id, rk, cand AS item_id, p_brand, pop FROM (
       |  SELECT user_id, cand, p_brand, pop,
       |    row_number() OVER (PARTITION BY user_id ORDER BY pop DESC, cand ASC) AS rk
       |  FROM unseen
       |) WHERE rk <= $TopN
       |ORDER BY user_id, rk""".stripMargin

  /** Next-items emitted per item by the Markov transition query. */
  val MarkovTop = 5
  /** Min transitions for an item to be profiled (noise floor). */
  val MarkovMinOut = 5

  /** Memoized directed transition-edge aggregate (item → next item,
    * count) from the per-user purchase sequences — the edge list of
    * the sequence graph, shared by the Markov model and GraphRank's
    * SALSA hub/authority walk. One window pass, |interactions|-row
    * aggregate; cached per session like the pair aggregates.
    */
  def transitionEdges(spark: SparkSession, sfDir: String): DataFrame =
    graft.QueryCache.memo(spark, s"recsys:transedges:$sfDir") {
      val o = Tables.orders(spark, sfDir).select("o_orderkey", "o_custkey", "o_orderdate")
      val l = Tables.lineitem(spark, sfDir).select("l_orderkey", "l_partkey", "l_linenumber")
      val seq0 = l.join(o, col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("user_id"), col("l_partkey").as("item_id"),
                col("o_orderdate"), col("o_orderkey"), col("l_linenumber"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc,
                 col("l_linenumber").asc, col("item_id").asc)
      seq0.withColumn("next_item", lead(col("item_id"), 1).over(w))
        .where(col("next_item").isNotNull)
        .groupBy(col("item_id"), col("next_item"))
        .agg(count(lit(1)).as("n"))
    }

  /** Oracle CTE fragment producing the same `trans` table. */
  val transitionEdgesSql: String =
    """seq0 AS (
      |  SELECT o_custkey AS user_id, l_partkey AS item_id,
      |    o_orderdate, o_orderkey, l_linenumber
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |), trans AS (
      |  SELECT item_id, next_item, count(*) AS n FROM (
      |    SELECT item_id,
      |      lead(item_id, 1) OVER (PARTITION BY user_id
      |        ORDER BY o_orderdate ASC, o_orderkey ASC, l_linenumber ASC, item_id ASC) AS next_item
      |    FROM seq0
      |  ) WHERE next_item IS NOT NULL
      |  GROUP BY 1, 2
      |)""".stripMargin

  /** First-order Markov next-item model — the sequence-based
    * recommender tier: per-user item sequences in a fixed order
    * (order date, order key, line number, part key — any rows still
    * tied under that key are IDENTICAL items, whose internal order
    * cannot change the transition multiset, so successions are
    * engine-deterministic), consecutive-pair
    * transition counts, and P(next=j | i) = n(i→j)/n(i→·) with the
    * top-$MarkovTop next items per item. Sequence building is one
    * window pass (no self-join); the transition aggregate is
    * |interactions| rows, linear at any scale. Items with fewer than
    * $MarkovMinOut outgoing transitions are dropped (noise floor).
    */
  def markovNext(spark: SparkSession, sfDir: String): DataFrame = {
    val trans = transitionEdges(spark, sfDir)
    val outs = trans.groupBy("item_id").agg(sum("n").as("n_out"))
      .where(col("n_out") >= MarkovMinOut)
    val probs = trans.join(broadcast(outs), "item_id")
      .withColumn("prob", round(col("n") / col("n_out"), 6))
    TopKByScore.ranked(probs, Seq("item_id"), MarkovTop, col("prob"), col("next_item"), col("n"))
      .select(col("item_id"), col("rk"), col("id").as("next_item"), col("score").as("prob"),
              col("extra").as("n"))
      .orderBy("item_id", "rk")
  }

  val markovNextSql: String =
    s"""WITH $transitionEdgesSql, outs AS (
       |  SELECT item_id, sum(n)::BIGINT AS n_out FROM trans GROUP BY item_id
       |  HAVING sum(n) >= $MarkovMinOut
       |), ranked AS (
       |  SELECT t.item_id, t.next_item, t.n,
       |    round(t.n / o.n_out, 6) AS prob,
       |    row_number() OVER (PARTITION BY t.item_id
       |      ORDER BY round(t.n / o.n_out, 6) DESC, t.next_item ASC) AS rk
       |  FROM trans t JOIN outs o ON t.item_id = o.item_id
       |)
       |SELECT item_id, rk, next_item, prob, n
       |FROM ranked WHERE rk <= $MarkovTop
       |ORDER BY item_id, rk""".stripMargin

  /** Shared by the five eval-metric queries: the time split
    * (train < SplitDate ≤ test, distinct user–item pairs) and the
    * top-EvalK popularity recommendation list ranked 1..K — one
    * definition so the metric queries and their oracles cannot drift
    * apart. Each artifact is MEMOIZED per (session, sfDir) and
    * checkpoint-severed (r11): before the memo, every metric query
    * re-ran the lineitem⋈orders distinct pass up to three times per
    * plan (the q_eval_popularity/q_eval_ranking rescan entries), and
    * the five consumers paid it five times per sweep. A time split is
    * a materialization in a real eval pipeline too — you freeze it
    * once and score every model against the same frozen tables.
    */
  private[graft] def evalTrain(spark: SparkSession, sfDir: String): DataFrame =
    graft.QueryCache.memo(spark, s"eval_split_train:$sfDir") {
      evalUiPairs(spark, sfDir, test = false).localCheckpoint()
    }

  private[graft] def evalTest(spark: SparkSession, sfDir: String): DataFrame =
    graft.QueryCache.memo(spark, s"eval_split_test:$sfDir") {
      evalUiPairs(spark, sfDir, test = true).localCheckpoint()
    }

  private[graft] def evalRecs(spark: SparkSession, sfDir: String): DataFrame =
    graft.QueryCache.memo(spark, s"eval_split_recs:$sfDir") {
      evalTrain(spark, sfDir)
        .groupBy("item_id").agg(countDistinct(col("user_id")).as("pop"))
        .orderBy(col("pop").desc, col("item_id").asc)
        .limit(EvalK)
        .withColumn("rk", row_number().over(
          Window.orderBy(col("pop").desc, col("item_id").asc)))
        .select("item_id", "rk")
        .localCheckpoint()
    }

  private def evalUiPairs(spark: SparkSession, sfDir: String,
                          test: Boolean): DataFrame = {
    val o = Tables.orders(spark, sfDir).select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
    val l = Tables.lineitem(spark, sfDir).select(col("l_orderkey"), col("l_partkey"))
    val ui = l.join(o, col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("user_id"), col("l_partkey").as("item_id"), col("o_orderdate"))
    val split = lit(SplitDate).cast("timestamp_ntz")
    ui.where(if (test) col("o_orderdate") >= split else col("o_orderdate") < split)
      .select("user_id", "item_id").distinct()
  }

  private def popularitySplit(spark: SparkSession, sfDir: String)
      : (DataFrame, DataFrame, DataFrame) =
    (evalTrain(spark, sfDir), evalTest(spark, sfDir), evalRecs(spark, sfDir))

  /** M9 evaluation metrics: precision@K / recall@K / coverage /
    * popularity of a most-popular recommender on a time split
    * (train < SplitDate ≤ test). The popularity recommender is the
    * standard pure-SQL baseline (MLlib recommenders are evaluated by
    * invariant tests instead — their scores aren't SQL-reproducible).
    * Single-row summary output.
    */
  def evalPopularity(spark: SparkSession, sfDir: String): DataFrame = {
    val (_, test, recs) = popularitySplit(spark, sfDir)
    val testUsers = test.groupBy("user_id").agg(count(lit(1)).as("n_test_items"))
    val hits = test.join(broadcast(recs.select("item_id")), "item_id")
      .groupBy("user_id").agg(count(lit(1)).as("n_hits"))
    val perUser = testUsers.join(hits, Seq("user_id"), "left")
      .select(col("user_id"), col("n_test_items"), coalesce(col("n_hits"), lit(0L)).as("n_hits"))
    // catalog size as a broadcast 1-row aggregate, not a driver .count()
    val nItems = Tables.part(spark, sfDir).agg(count(lit(1)).as("n_cat_items"))
    perUser.agg(
        count(lit(1)).as("n_test_users"),
        round(avg(col("n_hits") / lit(EvalK.toDouble)), 6).as("precision_at_k"),
        round(avg(col("n_hits") / col("n_test_items")), 6).as("recall_at_k"),
        sum(col("n_hits")).as("total_hits"))
      .crossJoin(broadcast(nItems))
      .withColumn("coverage", round(lit(EvalK.toDouble) / col("n_cat_items"), 6))
      .select("n_test_users", "precision_at_k", "recall_at_k", "coverage", "total_hits")
  }

  val evalPopularitySql: String =
    s"""WITH ui AS (
       |  SELECT o_custkey AS user_id, l_partkey AS item_id, o_orderdate
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |), train AS (
       |  SELECT DISTINCT user_id, item_id FROM ui WHERE o_orderdate < TIMESTAMP '$SplitDate'
       |), test AS (
       |  SELECT DISTINCT user_id, item_id FROM ui WHERE o_orderdate >= TIMESTAMP '$SplitDate'
       |), recs AS (
       |  SELECT item_id FROM (
       |    SELECT item_id, count(DISTINCT user_id) AS pop FROM train GROUP BY item_id
       |  ) ORDER BY pop DESC, item_id ASC LIMIT $EvalK
       |), test_users AS (
       |  SELECT user_id, count(*) AS n_test_items FROM test GROUP BY user_id
       |), hits AS (
       |  SELECT user_id, count(*) AS n_hits FROM test JOIN recs USING (item_id) GROUP BY user_id
       |), per_user AS (
       |  SELECT tu.user_id, tu.n_test_items, coalesce(h.n_hits, 0) AS n_hits
       |  FROM test_users tu LEFT JOIN hits h ON tu.user_id = h.user_id
       |)
       |SELECT count(*) AS n_test_users,
       |  round(avg(n_hits / ${EvalK.toDouble}), 6) AS precision_at_k,
       |  round(avg(n_hits / n_test_items), 6) AS recall_at_k,
       |  round(${EvalK.toDouble} / (SELECT count(*)::DOUBLE FROM part), 6) AS coverage,
       |  sum(n_hits)::BIGINT AS total_hits
       |FROM per_user""".stripMargin

  /** M9 ranking metrics — NDCG@K and MRR for the same popularity
    * recommender and time split as [[evalPopularity]] (binary
    * relevance: a recommended item is relevant to a user iff it
    * appears in the user's test-window interactions).
    *   - DCG_u  = Σ_{hits at rank r} 1/log2(r+1)
    *   - IDCG_u = Σ_{r=1..min(K, |test_u|)} 1/log2(r+1)
    *   - MRR_u  = 1/min(hit rank), 0 if no hit
    * Both folds run over a generated 1..K sequence with a fixed
    * left-to-right order, so engine noise stays ≤1 ulp (9 digits
    * below the 6 dp rounding). Single-row summary.
    */
  def evalRanking(spark: SparkSession, sfDir: String): DataFrame = {
    val (_, test, recs) = popularitySplit(spark, sfDir)
    val perUserTest = test.groupBy("user_id").agg(count(lit(1)).as("n_test"))
    val hits = test.join(broadcast(recs), "item_id")
      .groupBy("user_id")
      .agg(sum(lit(1.0) / log2(col("rk") + 1.0)).as("dcg"),
           (lit(1.0) / min(col("rk"))).as("mrr"))
    val perUser = perUserTest.join(hits, Seq("user_id"), "left")
      .withColumn("idcg", expr(
        s"aggregate(sequence(1, int(least(n_test, $EvalK))), 0D, (s, r) -> s + 1D / log2(r + 1))"))
      .select(col("user_id"),
              coalesce(col("dcg") / col("idcg"), lit(0.0)).as("ndcg"),
              coalesce(col("mrr"), lit(0.0)).as("mrr"))
    perUser.agg(
        count(lit(1)).as("n_test_users"),
        round(avg("ndcg"), 6).as("avg_ndcg"),
        round(avg("mrr"), 6).as("avg_mrr"),
        sum(when(col("mrr") > 0.0, 1L).otherwise(0L)).as("n_users_with_hit"))
  }

  val evalRankingSql: String =
    s"""WITH ui AS (
       |  SELECT o_custkey AS user_id, l_partkey AS item_id, o_orderdate
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |), train AS (
       |  SELECT DISTINCT user_id, item_id FROM ui WHERE o_orderdate < TIMESTAMP '$SplitDate'
       |), test AS (
       |  SELECT DISTINCT user_id, item_id FROM ui WHERE o_orderdate >= TIMESTAMP '$SplitDate'
       |), recs AS (
       |  SELECT item_id, row_number() OVER (ORDER BY pop DESC, item_id ASC) AS rk
       |  FROM (
       |    SELECT item_id, count(DISTINCT user_id) AS pop FROM train GROUP BY item_id
       |    ORDER BY pop DESC, item_id ASC LIMIT $EvalK
       |  )
       |), per_user_test AS (
       |  SELECT user_id, count(*) AS n_test FROM test GROUP BY user_id
       |), hits AS (
       |  SELECT user_id,
       |    sum(1.0 / log2(rk + 1.0)) AS dcg,
       |    1.0 / min(rk) AS mrr
       |  FROM test JOIN recs USING (item_id) GROUP BY user_id
       |), per_user AS (
       |  SELECT t.user_id,
       |    coalesce(h.dcg / list_reduce(list_transform(
       |      range(1, least(t.n_test, $EvalK)::INT + 1), r -> 1.0 / log2(r + 1)),
       |      (s, v) -> s + v), 0.0) AS ndcg,
       |    coalesce(h.mrr, 0.0) AS mrr
       |  FROM per_user_test t LEFT JOIN hits h ON t.user_id = h.user_id
       |)
       |SELECT count(*) AS n_test_users,
       |  round(avg(ndcg), 6) AS avg_ndcg,
       |  round(avg(mrr), 6) AS avg_mrr,
       |  sum(CASE WHEN mrr > 0.0 THEN 1 ELSE 0 END)::BIGINT AS n_users_with_hit
       |FROM per_user""".stripMargin

  /** SKNN neighbor sessions kept per active session. */
  val SknnK = 10
  /** SKNN recommendations emitted per user. */
  val SknnTopN = 5
  /** Integer fixed-point scale for the squared session cosine:
    * sim² = inter²/(|a|·|h|) in [[SknnUnits]] units — monotone in the
    * cosine (all terms ≥ 0), so ranking on it IS ranking on sim while
    * every score stays an exact BIGINT (no float tie policy). */
  val SknnUnits = 1000000L
  /** Per-item posting cap: each item contributes only its most RECENT
    * [[SknnPostings]] history baskets to neighbor generation — the
    * hot-item fan-out bound (a chart-topper item would otherwise join
    * every session ever; recency is the standard SKNN sampling rule).
    * Far above every fixture posting list, so fixture results are
    * uncapped; the oracle applies the identical cap. */
  val SknnPostings = 500

  /** M10 session-based kNN (SKNN — Jannach & Ludewig, RecSys 2017: the
    * baseline that embarrassed early neural session recommenders):
    * recommend for each user's ACTIVE session (their latest basket)
    * from the K most similar historical baskets — session granularity,
    * where ItemCF/UserCF aggregate whole user histories. Similarity is
    * the binary session cosine |a∩h|/√(|a|·|h|), ranked via the exact
    * integer square (see [[SknnUnits]]); an item i ∉ a scores
    * Σ sim²(h) over the neighbor baskets containing it — exact BIGINT
    * sums end to end, so the oracle reproduces every rank.
    *
    * Scale: the active set is one argmax aggregate (max(struct)); pair
    * generation is an item-keyed join bounded by [[SknnPostings]]
    * postings per item (recency-capped map-side by the bounded top-K
    * aggregate, never a per-item sort shuffle); neighbor and rec
    * ranking ride [[graft.functions.TopKByScore]]'s partial-phase cap,
    * so the shuffles carry ≤ K·|users| rows.
    */
  def sknnRecommend(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
      .select(col("o_orderkey").as("bk"), col("o_custkey").as("user_id"),
              col("o_orderdate").as("dt"))
    // basket item sets, SLIM (r13, guide §2.3/§8): user and date are
    // FUNCTIONS of the basket key, so the frame every downstream leg
    // rescans carries only (bk, item_id) — the old 4-column checkpoint
    // was 60 MB re-read 7× per run; basket metadata attaches by key
    // from the |baskets|-sized side below. Same rows by construction
    // (orders.bk is unique, so the join adds exactly the old columns).
    val bi = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey").as("bk"), col("l_partkey").as("item_id"))
      .distinct()
      .localCheckpoint()
    // one row per basket that HAS items (= the old distinct(u,bk,dt))
    val baskets = bi.select("bk").distinct().join(o, "bk")
      .localCheckpoint() // feeds active argmax AND the postings recency key
    // active basket per user: the argmax struct aggregate (no window)
    val active = baskets.groupBy("user_id")
      .agg(max(struct(col("dt"), col("bk"))).as("m"))
      .select(col("user_id"), col("m.bk").as("abk"))
    val sizes = bi.groupBy("bk").agg(count(lit(1)).as("n"))
    // join on the basket key alone: abk determines user_id (one active
    // basket per user), so this equals the old (user AND bk) join
    val aItems = bi.join(active.select(col("user_id"), col("abk").as("bk")), "bk")
      .select(col("user_id"), col("bk").as("abk"), col("item_id"))
      .join(sizes.select(col("bk").as("abk"), col("n").as("na")), "abk")
      .localCheckpoint() // feeds pair gen AND the seen-item anti join
    // history postings: every non-active basket, recency-capped per item
    val hist = bi.join(active.select(col("abk")), bi("bk") === col("abk"), "left_anti")
    val postings = TopKByScore.rows(
        hist.join(baskets.select(col("bk"), col("dt")), "bk")
          .withColumn("ds", expr("cast(unix_date(cast(dt AS date)) AS double)")),
        Seq("item_id"), SknnPostings, col("ds"), col("bk"), lit(0L))
      .select(col("item_id"), col("id").as("hbk"))
      .join(sizes.select(col("bk").as("hbk"), col("n").as("nh")), "hbk")
    // neighbor generation: shared-item join -> exact integer sim² units.
    // Group on the 2 determining keys (user has ONE active basket; nh is
    // a function of hbk) — same groups as the old 5-key form, 60% less
    // key hashing on the query's biggest aggregate; na/nh ride along as
    // max() of a constant-within-group column.
    val pairs = aItems.join(postings, "item_id")
      .groupBy("user_id", "hbk")
      .agg(count(lit(1)).as("inter"), max("na").as("na"), max("nh").as("nh"))
      .withColumn("s_units",
        expr(s"(inter * inter * ${SknnUnits}L) div (na * nh)"))
    val nbrs = TopKByScore.rows(pairs, Seq("user_id"),
        SknnK, col("s_units").cast("double"), col("hbk"), col("s_units"))
      .select(col("user_id"), col("id").as("hbk"), col("extra").as("s_units"))
    // score neighbor items not already in the active basket
    val histItems = bi.select(col("bk").as("hbk"), col("item_id"))
    val recs = nbrs.join(histItems, "hbk")
      .join(aItems.select("user_id", "item_id"), Seq("user_id", "item_id"), "left_anti")
      .groupBy("user_id", "item_id")
      .agg(sum("s_units").as("score_units"))
    TopKByScore.ranked(recs, Seq("user_id"),
        SknnTopN, col("score_units").cast("double"), col("item_id"), col("score_units"))
      .select(col("user_id"), col("rk"), col("id").as("item_id"), col("extra").as("score_units"))
      .orderBy("user_id", "rk")
  }

  val sknnRecommendSql: String =
    s"""WITH bi AS (
       |  SELECT DISTINCT o_orderkey AS bk, o_custkey AS user_id,
       |    o_orderdate AS dt, l_partkey AS item_id
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |), active AS (
       |  SELECT user_id, bk AS abk FROM (
       |    SELECT user_id, bk,
       |      row_number() OVER (PARTITION BY user_id ORDER BY dt DESC, bk DESC) AS rn
       |    FROM (SELECT DISTINCT user_id, bk, dt FROM bi)
       |  ) WHERE rn = 1
       |), sizes AS (
       |  SELECT bk, count(*)::BIGINT AS n FROM bi GROUP BY bk
       |), a_items AS (
       |  SELECT b.user_id, a.abk, b.item_id, s.n AS na
       |  FROM bi b JOIN active a ON a.user_id = b.user_id AND a.abk = b.bk
       |  JOIN sizes s ON s.bk = a.abk
       |), postings AS (
       |  SELECT item_id, hbk FROM (
       |    SELECT b.item_id, b.bk AS hbk,
       |      row_number() OVER (PARTITION BY b.item_id
       |        ORDER BY epoch_ms(b.dt) // 86400000 DESC, b.bk ASC) AS rn
       |    FROM bi b WHERE b.bk NOT IN (SELECT abk FROM active)
       |  ) WHERE rn <= $SknnPostings
       |), pairs AS (
       |  SELECT a.user_id, a.abk, a.na, p.hbk, s.n AS nh, count(*)::BIGINT AS inter
       |  FROM a_items a JOIN postings p ON p.item_id = a.item_id
       |  JOIN sizes s ON s.bk = p.hbk
       |  GROUP BY a.user_id, a.abk, a.na, p.hbk, s.n
       |), scored_pairs AS (
       |  SELECT user_id, hbk,
       |    ((inter * inter * $SknnUnits) // (na * nh))::BIGINT AS s_units
       |  FROM pairs
       |), nbrs AS (
       |  SELECT user_id, hbk, s_units FROM (
       |    SELECT user_id, hbk, s_units,
       |      row_number() OVER (PARTITION BY user_id
       |        ORDER BY s_units DESC, hbk ASC) AS rn
       |    FROM scored_pairs
       |  ) WHERE rn <= $SknnK
       |), recs AS (
       |  SELECT n.user_id, h.item_id, sum(n.s_units)::BIGINT AS score_units
       |  FROM nbrs n JOIN bi h ON h.bk = n.hbk
       |  WHERE NOT EXISTS (SELECT 1 FROM a_items a
       |                    WHERE a.user_id = n.user_id AND a.item_id = h.item_id)
       |  GROUP BY n.user_id, h.item_id
       |)
       |SELECT user_id, rk, item_id, score_units FROM (
       |  SELECT user_id, item_id, score_units,
       |    row_number() OVER (PARTITION BY user_id
       |      ORDER BY score_units DESC, item_id ASC) AS rk
       |  FROM recs
       |) WHERE rk <= $SknnTopN
       |ORDER BY user_id, rk""".stripMargin

  /** GAUC candidate pool: top train-popularity items each eval user is
    * scored against (minus the user's own train items). */
  val GaucCand = 100
  /** Per-user AUC fixed-point scale — terms are rounded to integer
    * units BEFORE the weighted sum (the MMD discipline), so GAUC is
    * exact under any summation order. */
  val GaucUnits = 1000000000L

  /** M9g grouped AUC (GAUC) — the industry-standard per-user ranking
    * metric beside the GLOBAL AUC of q_eval_auc: a global AUC rewards
    * a model for ordering heavy users above light ones even when every
    * user's own list is shuffled; GAUC computes AUC WITHIN each user's
    * candidate list and averages weighted by the user's positive count
    * (Zhou et al., "Deep Interest Network", KDD 2018 use it as the
    * headline metric for exactly this reason). Scorer under eval =
    * the leak-clean train-popularity ranker on the [[SplitDate]] time
    * split (the [[evalPopularity]]/[[evalRanking]] family): each test
    * user is scored on the top-[[GaucCand]] train items MINUS their
    * own train items, positives = their test-window interactions.
    * Tie-correct via average ranks per (user, score) group — doubled
    * rank sums keep every per-user statistic an exact BIGINT, the
    * per-user AUC is ONE division of exact integers, and the weighted
    * mean runs over [[GaucUnits]]-fixed-point terms, so both engines
    * sum identical integers. Users with zero positives or zero
    * negatives in-pool have undefined AUC and are excluded (the GAUC
    * convention).
    *
    * Scale: the pool is a broadcast [[GaucCand]]-row head; candidates
    * = |eval users|·[[GaucCand]] slim rows (linear); the per-user rank
    * window is bounded at ≤ [[GaucCand]] rows per key — never
    * corpus-sized.
    */
  def evalGauc(spark: SparkSession, sfDir: String): DataFrame = {
    // both splits feed two consumers below — already severed once by
    // the shared memoized eval split (r11)
    val (train, test, _) = popularitySplit(spark, sfDir)
    val pool = train.groupBy("item_id").agg(countDistinct(col("user_id")).as("pop"))
      .orderBy(col("pop").desc, col("item_id").asc).limit(GaucCand)
    val cands = test.select("user_id").distinct()
      .crossJoin(broadcast(pool))
      .join(train, Seq("user_id", "item_id"), "left_anti")
    val lab = cands
      .join(test.withColumn("is_pos", lit(true)), Seq("user_id", "item_id"), "left")
      .select(col("user_id"), col("pop"),
              coalesce(col("is_pos"), lit(false)).as("is_pos"))
    val g = lab.groupBy("user_id", "pop")
      .agg(sum(when(col("is_pos"), 1L).otherwise(0L)).as("na"),
           count(lit(1)).as("t"))
    val wU = Window.partitionBy("user_id").orderBy("pop")
      .rowsBetween(Window.unboundedPreceding, -1)
    val per = g.withColumn("before", coalesce(sum("t").over(wU), lit(0L)))
      .groupBy("user_id")
      .agg(sum("na").as("n1"),
           sum(col("t") - col("na")).as("n2"),
           sum(col("na") * (lit(2L) * col("before") + col("t") + 1)).as("r1x2"))
      .where(col("n1") > 0 && col("n2") > 0)
      .withColumn("auc",
        (col("r1x2") - col("n1") * (col("n1") + 1)).cast("double") /
          (lit(2L) * col("n1") * col("n2")).cast("double"))
      .withColumn("auc_fp", round(col("auc") * GaucUnits).cast("long"))
    // Weighted-mean assembly in DECIMAL(38,0) before the one double
    // division: sum(n1)·GaucUnits and Σ n1·auc_fp are long arithmetic
    // past ~9.2e9 total positives (DuckDB's sum() is HUGEINT there —
    // a silent-wrap divergence point). The per-row product n1·auc_fp
    // stays long-safe by construction (n1 ≤ GaucCand ≪ 2⁵³/GaucUnits);
    // only the SUMS widen. Both engines then divide double(exact) by
    // double(exact) — identical at any scale.
    per.agg(
        count(lit(1)).as("n_eval_users"),
        sum("n1").as("total_pos"),
        round(sum((col("n1") * col("auc_fp")).cast("decimal(38,0)")).cast("double") /
          (sum(col("n1")).cast("decimal(38,0)") * lit(GaucUnits)).cast("double"), 6).as("gauc"),
        round(sum(col("auc_fp").cast("decimal(38,0)")).cast("double") /
          (count(lit(1)).cast("decimal(38,0)") * lit(GaucUnits)).cast("double"), 6).as("macro_auc"))
  }

  val evalGaucSql: String =
    s"""WITH ui AS (
       |  SELECT o_custkey AS user_id, l_partkey AS item_id, o_orderdate
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |), train AS (
       |  SELECT DISTINCT user_id, item_id FROM ui WHERE o_orderdate < TIMESTAMP '$SplitDate'
       |), test AS (
       |  SELECT DISTINCT user_id, item_id FROM ui WHERE o_orderdate >= TIMESTAMP '$SplitDate'
       |), pool AS (
       |  SELECT item_id, count(DISTINCT user_id)::BIGINT AS pop
       |  FROM train GROUP BY item_id
       |  ORDER BY pop DESC, item_id ASC LIMIT $GaucCand
       |), cands AS (
       |  SELECT u.user_id, p.item_id, p.pop
       |  FROM (SELECT DISTINCT user_id FROM test) u CROSS JOIN pool p
       |  WHERE NOT EXISTS (SELECT 1 FROM train t
       |                    WHERE t.user_id = u.user_id AND t.item_id = p.item_id)
       |), lab AS (
       |  SELECT c.user_id, c.pop, (x.item_id IS NOT NULL) AS is_pos
       |  FROM cands c LEFT JOIN test x
       |    ON x.user_id = c.user_id AND x.item_id = c.item_id
       |), g AS (
       |  SELECT user_id, pop,
       |    sum(CASE WHEN is_pos THEN 1 ELSE 0 END)::BIGINT AS na,
       |    count(*)::BIGINT AS t
       |  FROM lab GROUP BY user_id, pop
       |), ranked AS (
       |  SELECT user_id, pop, na, t,
       |    coalesce(sum(t) OVER (PARTITION BY user_id ORDER BY pop
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS before
       |  FROM g
       |), per AS (
       |  SELECT user_id,
       |    sum(na)::BIGINT AS n1,
       |    sum(t - na)::BIGINT AS n2,
       |    sum(na * (2 * before + t + 1))::BIGINT AS r1x2
       |  FROM ranked GROUP BY user_id
       |  HAVING sum(na) > 0 AND sum(t - na) > 0
       |), scored AS (
       |  SELECT user_id, n1,
       |    round(((r1x2 - n1 * (n1 + 1))::DOUBLE / (2 * n1 * n2)::DOUBLE)
       |      * $GaucUnits)::BIGINT AS auc_fp
       |  FROM per
       |)
       |SELECT count(*)::BIGINT AS n_eval_users,
       |  sum(n1)::BIGINT AS total_pos,
       |  round(sum(n1 * auc_fp) / (sum(n1) * $GaucUnits)::DOUBLE, 6) AS gauc,
       |  round(sum(auc_fp) / (count(*) * $GaucUnits)::DOUBLE, 6) AS macro_auc
       |FROM scored""".stripMargin

  /** IPS weight scale: w(i) = IpsUnits div pop(i) in integer units, so
    * the weighted sums are exact BIGINTs under any summation order. */
  val IpsUnits = 1000000000L

  /** Next-item candidates scored per evaluation user. */
  val MarkovEvalK = 5

  /** M9d sequential-recommender eval — hit@K of the Markov transition
    * model on each user's held-out LAST item. Leakage-correct by
    * construction: the transition counts are trained with every
    * user's final transition (second-to-last → last) EXCLUDED, then
    * the model predicts exactly that transition. Per user: prev =
    * second-to-last item in the deterministic sequence order (the
    * [[markovNext]] ordering), actual = last; a hit means actual
    * appears in prev's top-[[MarkovEvalK]] next items by
    * (count desc, item asc). Output: one row — eval users, users
    * whose prev exists in the trained model (cold prevs can never
    * hit), hits, hit rate.
    *
    * Scale shape: sequence building + holdout marking is ONE
    * user-keyed window pass; the train aggregate is |transitions|
    * rows; the per-item top-K is a window over the (item, next)
    * count table (bounded by catalog fanout, not corpus size); eval
    * probes join that K-truncated model — broadcast by policy.
    */
  def evalMarkov(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir).select("o_orderkey", "o_custkey", "o_orderdate")
    val l = Tables.lineitem(spark, sfDir).select("l_orderkey", "l_partkey", "l_linenumber")
    val seq0 = l.join(o, col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("user_id"), col("l_partkey").as("item_id"),
              col("o_orderdate"), col("o_orderkey"), col("l_linenumber"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc,
               col("l_linenumber").asc, col("item_id").asc)
    val seqd = seq0
      .withColumn("rn", row_number().over(w))
      .withColumn("m", count(lit(1)).over(Window.partitionBy(col("user_id"))))
      .withColumn("next_item", lead(col("item_id"), 1).over(w))
    // train: all transitions EXCEPT the one into each user's last row
    val model = seqd
      .where(col("next_item").isNotNull && col("rn") =!= col("m") - 1)
      .groupBy(col("item_id"), col("next_item"))
      .agg(count(lit(1)).as("n"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("item_id").orderBy(col("n").desc, col("next_item").asc)))
      .where(col("rk") <= MarkovEvalK)
      .select(col("item_id").as("prev_item"), col("next_item").as("cand"))
    // eval probes: (prev=second-to-last, actual=last) per user with >=2 rows
    val probes = seqd.where(col("m") >= 2 && col("rn") === col("m") - 1)
      .select(col("user_id"), col("item_id").as("prev_item"), col("next_item").as("actual"))
    probes
      .join(broadcast(model.groupBy("prev_item")
        .agg(collect_set(col("cand")).as("cands"))), Seq("prev_item"), "left")
      .select(col("user_id"),
              when(col("cands").isNotNull, 1L).otherwise(0L).as("known_prev"),
              when(array_contains(col("cands"), col("actual")), 1L).otherwise(0L).as("hit"))
      .agg(count(lit(1)).as("n_eval_users"),
           sum("known_prev").as("n_known_prev"),
           sum("hit").as("n_hits"),
           round(sum("hit") / count(lit(1)).cast("double"), 6).as("hit_rate"))
  }

  val evalMarkovSql: String =
    s"""WITH seq0 AS (
       |  SELECT o_custkey AS user_id, l_partkey AS item_id,
       |    o_orderdate, o_orderkey, l_linenumber
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |), seqd AS (
       |  SELECT user_id, item_id,
       |    row_number() OVER w AS rn,
       |    count(*) OVER (PARTITION BY user_id) AS m,
       |    lead(item_id, 1) OVER w AS next_item
       |  FROM seq0
       |  WINDOW w AS (PARTITION BY user_id
       |    ORDER BY o_orderdate ASC, o_orderkey ASC, l_linenumber ASC, item_id ASC)
       |), model AS (
       |  SELECT item_id AS prev_item, next_item AS cand FROM (
       |    SELECT item_id, next_item,
       |      row_number() OVER (PARTITION BY item_id
       |        ORDER BY count(*) DESC, next_item ASC) AS rk
       |    FROM seqd
       |    WHERE next_item IS NOT NULL AND rn <> m - 1
       |    GROUP BY item_id, next_item
       |  ) WHERE rk <= $MarkovEvalK
       |), probes AS (
       |  SELECT user_id, item_id AS prev_item, next_item AS actual
       |  FROM seqd WHERE m >= 2 AND rn = m - 1
       |), j AS (
       |  SELECT p.user_id,
       |    CASE WHEN EXISTS (SELECT 1 FROM model mm WHERE mm.prev_item = p.prev_item)
       |         THEN 1 ELSE 0 END AS known_prev,
       |    CASE WHEN EXISTS (SELECT 1 FROM model mm
       |                      WHERE mm.prev_item = p.prev_item AND mm.cand = p.actual)
       |         THEN 1 ELSE 0 END AS hit
       |  FROM probes p
       |)
       |SELECT count(*) AS n_eval_users,
       |  sum(known_prev)::BIGINT AS n_known_prev,
       |  sum(hit)::BIGINT AS n_hits,
       |  round(sum(hit)::DOUBLE / count(*), 6) AS hit_rate
       |FROM j""".stripMargin

  /** M9c popularity-debiased evaluation — self-normalized inverse-
    * propensity-scored recall@K. Offline eval of a popularity
    * recommender against logged feedback is circular: the test set
    * itself over-represents popular items, so plain recall rewards the
    * bias. IPS reweights each test interaction by 1/propensity
    * (propensity ≈ the item's train popularity), which hands the long
    * tail its rightful mass; the debiased recall is the weighted hit
    * fraction. Weights are integer fixed-point ([[IpsUnits]] div pop)
    * so both engines sum exactly regardless of partitioning; the one
    * float division happens once, on two exact BIGINTs. Cold test
    * items (no train propensity) are counted, not silently dropped.
    * Output: one row — raw recall vs IPS recall side by side (the gap
    * IS the popularity bias of the recommender).
    *
    * Scale shape: per-item propensity is catalog-sized (broadcast by
    * policy), the rec list is K rows; the corpus-sized test set is
    * never shuffled except for the final 1-row aggregate.
    */
  def evalIps(spark: SparkSession, sfDir: String): DataFrame = {
    val (train, test, recs) = popularitySplit(spark, sfDir)
    val pop = train.groupBy("item_id").agg(countDistinct("user_id").as("pop"))
    test
      .join(broadcast(pop), Seq("item_id"), "left")
      .join(broadcast(recs.select(col("item_id"), lit(1L).as("is_hit"))),
            Seq("item_id"), "left")
      .withColumn("w_units", expr(s"${IpsUnits}L div pop"))
      .agg(count(lit(1)).as("n_test"),
           sum(when(col("pop").isNull, 1L).otherwise(0L)).as("n_cold"),
           round(sum(coalesce(col("is_hit"), lit(0L))) /
                 sum(when(col("pop").isNotNull, 1L).otherwise(0L)).cast("double"), 6)
             .as("recall_at_k"),
           round(sum(when(col("is_hit") === 1L, col("w_units")).otherwise(0L)) /
                 sum(col("w_units")).cast("double"), 6).as("ips_recall_at_k"))
  }

  val evalIpsSql: String =
    s"""WITH ui AS (
       |  SELECT o_custkey AS user_id, l_partkey AS item_id, o_orderdate
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |), train AS (
       |  SELECT DISTINCT user_id, item_id FROM ui WHERE o_orderdate < TIMESTAMP '$SplitDate'
       |), test AS (
       |  SELECT DISTINCT user_id, item_id FROM ui WHERE o_orderdate >= TIMESTAMP '$SplitDate'
       |), pop AS (
       |  SELECT item_id, count(DISTINCT user_id) AS pop FROM train GROUP BY item_id
       |), recs AS (
       |  SELECT item_id, 1 AS is_hit FROM (
       |    SELECT item_id FROM pop ORDER BY pop DESC, item_id ASC LIMIT $EvalK
       |  )
       |), j AS (
       |  SELECT t.user_id, t.item_id, p.pop, r.is_hit,
       |    $IpsUnits // p.pop AS w_units
       |  FROM test t LEFT JOIN pop p ON p.item_id = t.item_id
       |              LEFT JOIN recs r ON r.item_id = t.item_id
       |)
       |SELECT count(*) AS n_test,
       |  sum(CASE WHEN pop IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_cold,
       |  round(sum(coalesce(is_hit, 0))::DOUBLE
       |        / sum(CASE WHEN pop IS NOT NULL THEN 1 ELSE 0 END), 6) AS recall_at_k,
       |  round(sum(CASE WHEN is_hit = 1 THEN w_units ELSE 0 END)::DOUBLE
       |        / sum(w_units), 6) AS ips_recall_at_k
       |FROM j""".stripMargin

  /** M9d doubly-robust off-policy evaluation (Dudík, Langford & Li) —
    * the estimator family that decides whether a NEW policy is better
    * than the logged one WITHOUT deploying it. Logged bandit data is
    * derived deterministically from the fixtures: context = customer
    * segment, action = the purchased part's brand, reward = line
    * price in exact cents; a hash split (seed 'dr') cuts orders into
    * calibration (fits the direct model and the logging propensities)
    * and eval (scores the estimators — leak-clean, like
    * [[graft.operators.Stats.conformal]]'s split). The target policy
    * π(x) plays the calibration-best brand per segment (argmax of the
    * cell mean m̂, brand-ASC ties). Side by side on the eval half:
    * DM = mean m̂(x, π(x)) (biased if m̂ is wrong), IPS =
    * propensity-weighted matched reward (unbiased, high variance),
    * SNIPS = self-normalized IPS (the weight-sum denominator), and
    * DR = DM + propensity-weighted residual correction (unbiased if
    * EITHER the model or the propensities are right — the double
    * robustness).
    *
    * Determinism: every row-level quantity is an exact BIGINT (cents,
    * cell counts, m̂ rounded to integer cents); the only doubles are
    * ≤ |segments| per-estimator terms — each ONE multiply + ONE
    * divide of exact integers — summed and rounded at 4 dp (the CMH
    * per-stratum precedent). Scale: ONE (segment × brand × arm)
    * corpus aggregate (≤ 5×25×2 cells, checkpointed so both arm
    * splits read it instead of re-executing the star join), a 125-row
    * bounded argmax window, and a 5-row assembly — nothing
    * corpus-sized past the first aggregate, propensities never attach
    * row-level.
    */
  def evalDr(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_partkey"),
        expr("cast(round(l_extendedprice * 100) AS bigint)").as("cents"))
      .join(Tables.orders(spark, sfDir).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, sfDir)
          .select(col("c_custkey"), col("c_mktsegment").as("segment")),
        col("o_custkey") === col("c_custkey"))
      .join(Tables.part(spark, sfDir)
          .select(col("p_partkey"), col("p_brand").as("brand")),
        col("l_partkey") === col("p_partkey"))
      .withColumn("arm", expr(
        "cast(conv(substring(md5(concat_ws('-', cast(o_orderkey AS string), 'dr')), 1, 8), 16, 10) AS bigint)") % 2)
      .select("segment", "brand", "cents", "arm")
    // ONE pass over the star join: (segment, brand, arm) cells are
    // ≤ 5·25·2 rows — checkpointed so the arm splits below read the
    // tiny cell table instead of re-planning the corpus joins per
    // consumer (arm filters push below the join and defeat exchange
    // reuse, so without this the star join would execute twice)
    val cells = base.groupBy("segment", "brand", "arm")
      .agg(count(lit(1)).as("n"), sum("cents").as("s"))
      .localCheckpoint()
    val calCells = cells.where(col("arm") === 0)
      .select(col("segment"), col("brand"), col("n").as("n_xa"), col("s").as("s_xa"))
      .withColumn("mhat",
        round(col("s_xa").cast("double") / col("n_xa"), 0).cast("long"))
    val calSeg = calCells.groupBy("segment").agg(sum("n_xa").as("n_x"))
    val pi = calCells
      .withColumn("rk", row_number().over(
        Window.partitionBy("segment")
          .orderBy(col("mhat").desc, col("brand").asc)))
      .where(col("rk") === 1)
      .select(col("segment"), col("brand").as("pi_brand"),
        col("mhat").as("mhat_pi"), col("n_xa").as("n_x_pi"))
    val evCells = cells.where(col("arm") === 1)
      .select(col("segment"), col("brand"), col("n").as("ne_xa"), col("s").as("se_xa"))
    val evSeg = evCells.groupBy("segment").agg(sum("ne_xa").as("ne_x"))
    val segRows = pi
      .join(calSeg, "segment")
      .join(evSeg, "segment")
      .join(evCells.select(col("segment"), col("brand").as("pi_brand"),
          col("ne_xa").as("ne_m0"), col("se_xa").as("se_m0")),
        Seq("segment", "pi_brand"), "left")
      .withColumn("ne_m", coalesce(col("ne_m0"), lit(0L)))
      .withColumn("se_m", coalesce(col("se_m0"), lit(0L)))
    segRows.agg(
        sum("n_x").as("n_cal"),
        sum("ne_x").as("n_eval"),
        sum("ne_m").as("n_match"),
        sum(col("ne_x") * col("mhat_pi")).as("dm_units"),
        sum(col("se_m").cast("double") * col("n_x") / col("n_x_pi")).as("ips_num"),
        sum(col("ne_m").cast("double") * col("n_x") / col("n_x_pi")).as("w_sum"),
        sum((col("se_m") - col("ne_m") * col("mhat_pi")).cast("double")
          * col("n_x") / col("n_x_pi")).as("dr_corr"))
      .select(
        col("n_cal"), col("n_eval"), col("n_match"),
        round(col("n_match").cast("double") / col("n_eval"), 6).as("match_rate"),
        round(col("dm_units").cast("double") / col("n_eval"), 4).as("v_dm_cents"),
        round(col("ips_num") / col("n_eval"), 4).as("v_ips_cents"),
        when(col("n_match") > 0,
          round(col("ips_num") / col("w_sum"), 4)).as("v_snips_cents"),
        round((col("dm_units").cast("double") + col("dr_corr")) / col("n_eval"), 4)
          .as("v_dr_cents"))
  }

  val evalDrSql: String =
    """WITH base AS MATERIALIZED (
      |  SELECT c.c_mktsegment AS segment, p.p_brand AS brand,
      |    CAST(round(l.l_extendedprice * 100) AS BIGINT) AS cents,
      |    ('0x' || substr(md5(o.o_orderkey || '-' || 'dr'), 1, 8))::BIGINT % 2 AS arm
      |  FROM lineitem l
      |  JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN part p ON l.l_partkey = p.p_partkey
      |), calc AS MATERIALIZED (
      |  SELECT segment, brand, count(*)::BIGINT AS n_xa, sum(cents)::BIGINT AS s_xa,
      |    round((sum(cents)::BIGINT)::DOUBLE / count(*))::BIGINT AS mhat
      |  FROM base WHERE arm = 0 GROUP BY 1, 2
      |), calseg AS (
      |  SELECT segment, sum(n_xa)::BIGINT AS n_x FROM calc GROUP BY 1
      |), pi AS (
      |  SELECT segment, brand AS pi_brand, mhat AS mhat_pi, n_xa AS n_x_pi FROM (
      |    SELECT *, row_number() OVER (PARTITION BY segment
      |      ORDER BY mhat DESC, brand ASC) AS rk
      |    FROM calc) WHERE rk = 1
      |), evc AS MATERIALIZED (
      |  SELECT segment, brand, count(*)::BIGINT AS ne_xa, sum(cents)::BIGINT AS se_xa
      |  FROM base WHERE arm = 1 GROUP BY 1, 2
      |), evseg AS (
      |  SELECT segment, sum(ne_xa)::BIGINT AS ne_x FROM evc GROUP BY 1
      |), segrows AS (
      |  SELECT pp.segment, cs.n_x, pp.n_x_pi, pp.mhat_pi, es.ne_x,
      |    coalesce(e.ne_xa, 0)::BIGINT AS ne_m, coalesce(e.se_xa, 0)::BIGINT AS se_m
      |  FROM pi pp
      |  JOIN calseg cs ON cs.segment = pp.segment
      |  JOIN evseg es ON es.segment = pp.segment
      |  LEFT JOIN evc e ON e.segment = pp.segment AND e.brand = pp.pi_brand
      |)
      |SELECT sum(n_x)::BIGINT AS n_cal, sum(ne_x)::BIGINT AS n_eval,
      |  sum(ne_m)::BIGINT AS n_match,
      |  round(sum(ne_m)::DOUBLE / sum(ne_x), 6) AS match_rate,
      |  round(sum(ne_x * mhat_pi)::DOUBLE / sum(ne_x), 4) AS v_dm_cents,
      |  round(sum(se_m::DOUBLE * n_x / n_x_pi) / sum(ne_x), 4) AS v_ips_cents,
      |  CASE WHEN sum(ne_m) > 0 THEN
      |    round(sum(se_m::DOUBLE * n_x / n_x_pi)
      |          / sum(ne_m::DOUBLE * n_x / n_x_pi), 4)
      |  END AS v_snips_cents,
      |  round((sum(ne_x * mhat_pi)::DOUBLE
      |         + sum((se_m - ne_m * mhat_pi)::DOUBLE * n_x / n_x_pi))
      |        / sum(ne_x), 4) AS v_dr_cents
      |FROM segrows""".stripMargin

  /** M9 diversity metrics — intra-list diversity of the ItemCF top-N
    * via brand entropy: per user, the Shannon entropy of the brand
    * distribution of their recommended items (0 = all one brand,
    * ln(TopN) = all distinct), summarized over users. The
    * over-concentration failure mode of similarity recommenders is
    * exactly what this catches; computed as ln(N) − Σn·ln(n)/N from
    * exact integer counts so both engines agree to libm precision.
    * Reads the session-cached recommend output — in production this
    * metric runs over the same materialized rec table the serving
    * layer reads.
    */
  def recDiversity(spark: SparkSession, sfDir: String): DataFrame = {
    val recs = itemcfRecommend(spark, sfDir).select("user_id", "item_id")
    val parts = Tables.part(spark, sfDir).select(col("p_partkey"), col("p_brand"))
    val bc = recs.join(broadcast(parts), recs("item_id") === parts("p_partkey"))
      .groupBy("user_id", "p_brand").agg(count(lit(1)).as("n"))
    val perUser = bc.groupBy("user_id")
      .agg(sum("n").as("tot"),
           count(lit(1)).as("n_brands"),
           sum(col("n") * log(col("n"))).as("nlogn"))
      .select(col("user_id"), col("n_brands"),
              (log(col("tot")) - col("nlogn") / col("tot")).as("entropy"))
    perUser.agg(
        count(lit(1)).as("n_users"),
        round(avg("entropy"), 6).as("avg_entropy"),
        round(max("entropy"), 6).as("max_entropy"),
        round(avg("n_brands"), 4).as("avg_brands"),
        sum(when(col("n_brands") === 1, 1L).otherwise(0L)).as("n_single_brand_users"))
  }

  /** Aggregate coverage of the recommender: what fraction of the
    * catalog ever gets recommended, and how concentrated the exposure
    * is — catalog coverage plus the Gini coefficient of per-item
    * exposure counts over the FULL catalog (never-recommended items
    * enter as zeros, which is what makes Gini honest here), plus the
    * top item's exposure share. The standard aggregate-diversity
    * metrics next to [[recDiversity]]'s per-user entropy.
    *
    * Gini is computed from the closed form over counts sorted
    * ascending: G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n, with a deterministic
    * (count, partkey) order. Σi·x is TIE-INVARIANT (within a run of
    * equal x the weight is constant, so the rank permutation inside
    * the run cannot change the sum), which lets the whole rank-
    * weighted sum collapse to the per-VALUE closed form
    * x·Σ_{i=lo..hi} i = x·cnt·(lo+hi)/2 over the exposure-count
    * histogram — rank intervals come from
    * [[RankPrefix.before]]'s two-level prefix, so no global
    * window touches the catalog (the r7-era catalog-wide row_number
    * is retired; cnt·(lo+hi) is always even, the `div 2` is exact).
    */
  def recCoverage(spark: SparkSession, sfDir: String): DataFrame = {
    val expo = itemcfRecommend(spark, sfDir)
      .groupBy("item_id").agg(count(lit(1)).as("n"))
    val cat = Tables.part(spark, sfDir).select(col("p_partkey"))
    val full = cat.join(expo, cat("p_partkey") === expo("item_id"), "left")
      .select(col("p_partkey"), coalesce(col("n"), lit(0L)).as("x"))
    RankPrefix.before(full.groupBy("x").agg(count(lit(1)).as("cnt")), Nil, "x", "cnt")
      .select(col("x"), col("cnt"), (col("cnt_before") + 1L).as("lo"))
      .withColumn("ix", expr("x * ((cnt * (lo + lo + cnt - 1)) div 2)"))
      .agg(sum("cnt").as("n_catalog"),
           sum(when(col("x") > 0, col("cnt")).otherwise(0L)).as("n_recommended"),
           sum(col("x") * col("cnt")).as("total_recs"),
           sum("ix").as("sum_ix"),
           max("x").as("max_exposure"))
      .withColumn("coverage", round(col("n_recommended") / col("n_catalog").cast("double"), 6))
      .withColumn("gini", round(
        lit(2.0) * col("sum_ix") / (col("n_catalog") * col("total_recs")).cast("double")
          - (col("n_catalog") + 1).cast("double") / col("n_catalog"), 6))
      .withColumn("top_share", round(col("max_exposure") / col("total_recs").cast("double"), 6))
      .select("n_catalog", "n_recommended", "coverage", "gini", "max_exposure", "top_share")
  }

  val recCoverageSql: String =
    s"""WITH recs AS (
       |  SELECT user_id, item_id FROM (
       |    ${itemcfRecommendSql.replace("\n", "\n    ")}
       |  )
       |), expo AS (
       |  SELECT item_id, count(*) AS n FROM recs GROUP BY item_id
       |), full_cat AS (
       |  SELECT p.p_partkey, coalesce(e.n, 0) AS x
       |  FROM part p LEFT JOIN expo e ON e.item_id = p.p_partkey
       |), ranked AS (
       |  SELECT x, p_partkey,
       |    row_number() OVER (ORDER BY x ASC, p_partkey ASC) AS i
       |  FROM full_cat
       |), agg AS (
       |  SELECT count(*) AS n_catalog,
       |    sum(CASE WHEN x > 0 THEN 1 ELSE 0 END)::BIGINT AS n_recommended,
       |    sum(x)::BIGINT AS total_recs,
       |    sum(i * x)::BIGINT AS sum_ix,
       |    max(x)::BIGINT AS max_exposure
       |  FROM ranked
       |)
       |SELECT n_catalog, n_recommended,
       |  round(n_recommended / n_catalog::DOUBLE, 6) AS coverage,
       |  round(2.0 * sum_ix / (n_catalog * total_recs)::DOUBLE
       |        - (n_catalog + 1)::DOUBLE / n_catalog, 6) AS gini,
       |  max_exposure,
       |  round(max_exposure / total_recs::DOUBLE, 6) AS top_share
       |FROM agg""".stripMargin

  val recDiversitySql: String =
    s"""WITH recs AS (
       |  SELECT user_id, item_id FROM (
       |    ${itemcfRecommendSql.replace("\n", "\n    ")}
       |  )
       |), bc AS (
       |  SELECT user_id, p_brand, count(*) AS n
       |  FROM recs JOIN part ON item_id = p_partkey
       |  GROUP BY 1, 2
       |), per_user AS (
       |  SELECT user_id, count(*) AS n_brands,
       |    ln(sum(n)) - sum(n * ln(n)) / sum(n) AS entropy
       |  FROM bc GROUP BY user_id
       |)
       |SELECT count(*) AS n_users,
       |  round(avg(entropy), 6) AS avg_entropy,
       |  round(max(entropy), 6) AS max_entropy,
       |  round(avg(n_brands), 4) AS avg_brands,
       |  sum(CASE WHEN n_brands = 1 THEN 1 ELSE 0 END)::BIGINT AS n_single_brand_users
       |FROM per_user""".stripMargin

  /** Weighted Slope One (Lemire & Maclachlan 2005): the deviation-based
    * rating predictor — dev(j,i) = avg over co-raters of (r_j − r_i),
    * P(u,j) = Σ_{i∈H(u)} (r_ui + dev(j,i))·c_ji / Σ c_ji. The deviation
    * table rides the SAME memoized pair aggregate as the CF tiers
    * ([[itemPairAgg]]): [[graft.functions.PairDiff]] emits aligned
    * pairwise differences next to PairPack's packed ids, so Σ(r_i−r_j)
    * per pair costs one extra summed column on a generator pass the
    * session already runs — no second self-join, no second shuffle of
    * the interaction table. Each item's deviation list is capped to its
    * [[TopK]] strongest-support neighbors (co desc, the Slope One
    * analogue of the CF neighborhood cap) to bound candidate
    * generation; the cap is selected with the bounded top-K aggregate
    * and joined back (broadcast) rather than rank-sorting the mirrored
    * deviation table.
    */
  def slopeOne(spark: SparkSession, sfDir: String): DataFrame = {
    val hist = cappedInteractions(spark, sfDir)
    val half = unpack(itemPairAgg(spark, sfDir).select("pk", "sdiff", "co"), "item_i", "item_j")
    // rows: (other = the history item, target = the candidate), with
    // sd = Σ over co-raters of (r_target − r_other)
    val mirrored = half.select(explode(array(
        struct(col("item_j").as("other"), col("item_i").as("target"),
               col("sdiff").as("sd"), col("co")),
        struct(col("item_i").as("other"), col("item_j").as("target"),
               (-col("sdiff")).as("sd"), col("co"))
      )).as("p"))
      .select(col("p.other").as("other"), col("p.target").as("target"),
              col("p.sd").as("sd"), col("p.co").as("co"))
    // One pass over the mirrored pair table: the deviation sum rides the
    // top-K aggregate's long `extra` slot as raw IEEE bits ([[BitCast]]),
    // so neighbor selection AND payload come out of a single 2|pairs|-row
    // scan (the join-back formulation scanned it twice). Order (co desc,
    // target asc) matches the oracle's row_number tie-break.
    val knnRows = TopKByScore.rows(mirrored, Seq("other"),
        TopK, col("co").cast("double"), col("target"),
        graft.functions.BitCast.doubleBits(col("sd")))
      .select(col("other"), col("id").as("target"),
              graft.functions.BitCast.bitsDouble(col("extra")).as("sd"),
              col("score").cast("long").as("co"))
    // K·|items| rows after the cap — broadcast into the history join so
    // the interaction table never shuffles (same shape as itemcfRecommend)
    val knn = broadcast(knnRows)
    val scored = hist
      .join(knn, hist("item_id") === knn("other"))
      .groupBy(col("user_id"), col("target").as("cand"))
      .agg(round(sum(col("strength") * col("co") + col("sd")) / sum(col("co")), 6).as("score"))
    topNPerUser(dropSeen(scored, hist))
  }

  val slopeOneSql: String =
    s"""WITH $cappedSql, pairs AS (
       |  SELECT a.item_id AS item_i, b.item_id AS item_j,
       |    sum(a.strength - b.strength) AS sd, count(*) AS co
       |  FROM capped a JOIN capped b ON a.user_id = b.user_id AND a.item_id < b.item_id
       |  GROUP BY 1, 2
       |), mirrored AS (
       |  SELECT item_j AS other, item_i AS target, sd, co FROM pairs
       |  UNION ALL
       |  SELECT item_i AS other, item_j AS target, -sd AS sd, co FROM pairs
       |), knn AS (
       |  SELECT other, target, sd, co FROM (
       |    SELECT other, target, sd, co,
       |      row_number() OVER (PARTITION BY other ORDER BY co DESC, target ASC) AS rk
       |    FROM mirrored
       |  ) WHERE rk <= $TopK
       |), scored AS (
       |  SELECT h.user_id, k.target AS cand,
       |    round(sum(h.strength * k.co + k.sd) / sum(k.co), 6) AS score
       |  FROM capped h JOIN knn k ON h.item_id = k.other
       |  GROUP BY 1, 2
       |), unseen AS (
       |  SELECT s.user_id, s.cand, s.score
       |  FROM scored s
       |  WHERE NOT EXISTS (
       |    SELECT 1 FROM capped h WHERE h.user_id = s.user_id AND h.item_id = s.cand)
       |), ranked AS (
       |  SELECT user_id, cand, score,
       |    row_number() OVER (PARTITION BY user_id ORDER BY score DESC, cand ASC) AS rk
       |  FROM unseen
       |)
       |SELECT user_id, rk, cand AS item_id, score
       |FROM ranked WHERE rk <= $TopN
       |ORDER BY user_id, rk""".stripMargin

  /** Cap on per-user purchase-sequence length for ordered-pair mining. */
  val SeqCap = 100
  /** Minimum users supporting an ordered pair. */
  val SeqMinSup = 3
  /** Ordered pairs reported. */
  val SeqTop = 50

  /** Sequential purchase associations — "customers who bought A later
    * bought B": for each user's time-ordered item sequence (first
    * purchase date per item, capped at [[SeqCap]] earliest items),
    * count ordered pairs (A strictly before B in time), and rank rules
    * by confidence n(A→B)/n(A). This is the temporal counterpart of
    * the symmetric co-occurrence tiers — markov_next sees only
    * ADJACENT transitions; this sees every ordered pair, the classic
    * sequential-pattern signal for "what to promote after a purchase".
    *
    * Scale shape: ordered pairs are generated MAP-SIDE per user from
    * the collected (capped) sequence by the codegen
    * [[graft.functions.PairPackAfter]] expression (ids(i)·2³²+ids(j)
    * for every strictly-later j) — the same no-self-join,
    * packed-primitive design as the CF pair aggregate; the only
    * shuffles are the user collect and the pair-count aggregate.
    * Same-timestamp items are incomparable and yield no pair (strict
    * inequality), so the result is independent of how ties would sort.
    */
  def seqBuyPairs(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir).select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
    val l = Tables.lineitem(spark, sfDir).select(col("l_orderkey"), col("l_partkey"))
    val ui = l.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey").as("user_id"), col("l_partkey").as("item_id"))
      .agg(min(col("o_orderdate")).as("ts"))
    val seqs = ui.groupBy("user_id")
      .agg(expr(s"slice(sort_array(collect_list(struct(ts, item_id))), 1, $SeqCap)").as("es"))
    // es is (ts, item_id)-sorted, so the epoch-µs array is the
    // non-decreasing key array PairPackAfter's monotone pointer needs
    val pairs = seqs.select(explode(graft.functions.PairPackAfter.pairPackAfter(
        expr("transform(es, x -> unix_micros(timestamp(x.ts)))"),
        expr("transform(es, x -> x.item_id)"))).as("pk"))
    val na = seqs.select(col("user_id"), explode(expr("transform(es, x -> x.item_id)")).as("a"))
      .groupBy("a").agg(count(lit(1)).as("n_a"))
    // r13: the ordered-pair space is nearly duplicate-free (like the
    // co-occurrence space — the expandWeightedPairs measurement), so a
    // partial+final aggregate shuffles (pk, count) pairs for ~no row
    // reduction; repartition+complete moves bare 8-byte pks instead
    // (measured: the pair exchange was this query's largest, ~98 MB)
    val top = pairs.repartition(col("pk")).groupBy("pk").agg(count(lit(1)).as("n_ab"))
      .where(col("n_ab") >= SeqMinSup)
      .select(shiftright(col("pk"), 32).as("a"),
        col("pk").bitwiseAND(graft.functions.PairPack.Base - 1L).as("b"), col("n_ab"))
      .join(broadcast(na), "a")
      .withColumn("confidence", round(col("n_ab") / col("n_a"), 6))
      .orderBy(col("confidence").desc, col("a").asc, col("b").asc)
      .limit(SeqTop)
    top.withColumn("rk", row_number().over(
        Window.orderBy(col("confidence").desc, col("a").asc, col("b").asc)))
      .select(col("rk"), col("a").as("item_a"), col("b").as("item_b"),
              col("n_ab"), col("n_a"), col("confidence"))
      .orderBy("rk")
  }

  val seqBuyPairsSql: String =
    s"""WITH ui AS (
       |  SELECT o_custkey AS user_id, l_partkey AS item_id, min(o_orderdate) AS ts
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  GROUP BY 1, 2
       |), capped AS (
       |  SELECT user_id, item_id, ts FROM (
       |    SELECT user_id, item_id, ts,
       |      row_number() OVER (PARTITION BY user_id ORDER BY ts ASC, item_id ASC) AS rn
       |    FROM ui
       |  ) WHERE rn <= $SeqCap
       |), pairs AS (
       |  SELECT x.item_id AS a, y.item_id AS b, count(*) AS n_ab
       |  FROM capped x JOIN capped y
       |    ON x.user_id = y.user_id AND y.ts > x.ts
       |  GROUP BY 1, 2 HAVING count(*) >= $SeqMinSup
       |), na AS (
       |  SELECT item_id AS a, count(*) AS n_a FROM capped GROUP BY item_id
       |), scored AS (
       |  SELECT p.a, p.b, p.n_ab, na.n_a,
       |    round(p.n_ab / na.n_a::DOUBLE, 6) AS confidence
       |  FROM pairs p JOIN na ON na.a = p.a
       |)
       |SELECT rk, a AS item_a, b AS item_b, n_ab, n_a, confidence FROM (
       |  SELECT a, b, n_ab, n_a, confidence,
       |    row_number() OVER (ORDER BY confidence DESC, a ASC, b ASC) AS rk
       |  FROM scored
       |) WHERE rk <= $SeqTop
       |ORDER BY rk""".stripMargin

  /** Trailing/previous window length (days) for trending momentum —
    * sized to the fixture's order-date density (orders spread over
    * ~6.5 years, so weekly windows are near-empty at every SF; a
    * quarter captures a meaningful per-item count while still being
    * "recent" on that time axis).
    */
  val TrendWindowDays = 90
  /** Floor on recent-window purchases for a trending candidate. */
  val TrendMinRecent = 1
  /** Trending items reported. */
  val TrendTop = 25

  /** Trending items — purchase momentum over the last two
    * [[TrendWindowDays]]-day windows ending at the corpus's max order
    * date: momentum = (recent+1)/(previous+1) (add-one smoothed so new
    * items don't divide by zero), floored at [[TrendMinRecent]] recent
    * purchases. The freshness-biased candidate generator every
    * recommender mixes in next to the similarity tiers. The anchor
    * date is a 1-row broadcast aggregate — no driver round-trip — and
    * the window counts are one conditional aggregate over the
    * interaction join; exact integers, one IEEE division, stable
    * ranking.
    */
  def trendingItems(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir).select(col("o_orderkey"), col("o_orderdate"))
    val l = Tables.lineitem(spark, sfDir).select(col("l_orderkey"), col("l_partkey"))
    val uiRaw = l.join(o, col("l_orderkey") === col("o_orderkey"))
      .select(col("l_partkey").as("item_id"), col("o_orderdate"))
    val anchor = uiRaw.agg(max("o_orderdate").as("dmax"))
    val counts = uiRaw.crossJoin(broadcast(anchor))
      .withColumn("recent",
        (col("o_orderdate") > col("dmax") - expr(s"interval $TrendWindowDays days")).cast("long"))
      .withColumn("previous",
        (col("o_orderdate") <= col("dmax") - expr(s"interval $TrendWindowDays days") &&
         col("o_orderdate") > col("dmax") - expr(s"interval ${2 * TrendWindowDays} days")).cast("long"))
      .groupBy("item_id")
      .agg(sum("recent").as("n_recent"), sum("previous").as("n_prev"))
      .where(col("n_recent") >= TrendMinRecent)
      .withColumn("momentum", round((col("n_recent") + 1) / (col("n_prev") + 1.0), 6))
    val top = counts
      .orderBy(col("momentum").desc, col("n_recent").desc, col("item_id").asc)
      .limit(TrendTop)
    top.withColumn("rk", row_number().over(
        Window.orderBy(col("momentum").desc, col("n_recent").desc, col("item_id").asc)))
      .select("rk", "item_id", "n_recent", "n_prev", "momentum")
      .orderBy("rk")
  }

  val trendingItemsSql: String =
    s"""WITH ui AS (
       |  SELECT l_partkey AS item_id, o_orderdate
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |), anchor AS (
       |  SELECT max(o_orderdate) AS dmax FROM ui
       |), counts AS (
       |  SELECT item_id,
       |    sum(CASE WHEN o_orderdate > (SELECT dmax FROM anchor) - INTERVAL $TrendWindowDays DAY
       |             THEN 1 ELSE 0 END)::BIGINT AS n_recent,
       |    sum(CASE WHEN o_orderdate <= (SELECT dmax FROM anchor) - INTERVAL $TrendWindowDays DAY
       |              AND o_orderdate > (SELECT dmax FROM anchor) - INTERVAL ${2 * TrendWindowDays} DAY
       |             THEN 1 ELSE 0 END)::BIGINT AS n_prev
       |  FROM ui GROUP BY item_id
       |), scored AS (
       |  SELECT item_id, n_recent, n_prev,
       |    round((n_recent + 1) / (n_prev + 1.0), 6) AS momentum
       |  FROM counts WHERE n_recent >= $TrendMinRecent
       |)
       |SELECT rk, item_id, n_recent, n_prev, momentum FROM (
       |  SELECT item_id, n_recent, n_prev, momentum,
       |    row_number() OVER (ORDER BY momentum DESC, n_recent DESC, item_id ASC) AS rk
       |  FROM scored
       |) WHERE rk <= $TrendTop
       |ORDER BY rk""".stripMargin

  /** Force-build the session-shared memoized tables (capped
    * interactions, the item-pair aggregate, both similarity models).
    * Bench calls this from its warmup so per-query timings measure
    * query work, not shared-infrastructure builds — mirroring a
    * production pipeline, where these tables are materialized once per
    * run (they ARE the model) and every query serves from them.
    */
  def warm(spark: SparkSession, sfDir: String): Unit = {
    cappedInteractions(spark, sfDir).count()
    itemPairAgg(spark, sfDir).count()
    userPairAgg(spark, sfDir).count()
    memoSim(spark, sfDir, "itemcf") { itemcfSimilarityPlan(spark, sfDir) }.count()
    memoSim(spark, sfDir, "usercf") { usercfSimilarityPlan(spark, sfDir) }.count()
    transitionEdges(spark, sfDir).count()
    // the frozen eval split (train/test/recs) — five metric queries ride it
    evalTrain(spark, sfDir).count()
    evalTest(spark, sfDir).count()
    evalRecs(spark, sfDir).count()
    // the persisted ItemCF model (built once, served many), the frozen
    // model's refresh store (the statistics the delta leg reads), and
    // the published refreshed model (the rollout the drift alarm ends in)
    ensureCfModel(spark, sfDir)
    ensureCfStore(spark, sfDir)
    ensureRefreshedModel(spark, sfDir)
    ensureChainStore(spark, sfDir)
  }

  /** Brand pairs reported by the affinity rollup. */
  val AffinityTop = 30

  /** Brand-affinity cross-sell matrix: the item-pair co-occurrence
    * model ROLLED UP to brand granularity (unordered brand pairs via
    * least/greatest), the merchandising view of the same model the
    * item-level tiers serve. Rides the memoized pair aggregate and two
    * broadcast joins of the part dim — zero new shuffles beyond the
    * brand-pair aggregate, which is |brands|² rows at most. The
    * distinct-brand filter keeps the cross-sell signal (within-brand
    * pairs are substitutes, not cross-sell).
    */
  def brandAffinity(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = unpack(itemPairAgg(spark, sfDir).select("pk", "co"), "item_i", "item_j")
    val brands = Tables.part(spark, sfDir).select(col("p_partkey"), col("p_brand"))
    val bp = pairs
      .join(broadcast(brands.select(col("p_partkey").as("item_i"), col("p_brand").as("ba"))), "item_i")
      .join(broadcast(brands.select(col("p_partkey").as("item_j"), col("p_brand").as("bb"))), "item_j")
      .where(col("ba") =!= col("bb"))
      .groupBy(least(col("ba"), col("bb")).as("brand_a"),
               greatest(col("ba"), col("bb")).as("brand_b"))
      .agg(sum("co").as("co_total"), count(lit(1)).as("n_item_pairs"))
    val top = bp.orderBy(col("co_total").desc, col("brand_a").asc, col("brand_b").asc)
      .limit(AffinityTop)
    top.withColumn("rk", row_number().over(
        Window.orderBy(col("co_total").desc, col("brand_a").asc, col("brand_b").asc)))
      .select("rk", "brand_a", "brand_b", "co_total", "n_item_pairs")
      .orderBy("rk")
  }

  val brandAffinitySql: String =
    s"""WITH $cappedSql, r AS (
       |  SELECT user_id, item_id FROM capped
       |), pairs AS (
       |  SELECT a.item_id AS item_i, b.item_id AS item_j, count(*) AS co
       |  FROM r a JOIN r b ON a.user_id = b.user_id AND a.item_id < b.item_id
       |  GROUP BY 1, 2
       |), bp AS (
       |  SELECT least(pa.p_brand, pb.p_brand) AS brand_a,
       |    greatest(pa.p_brand, pb.p_brand) AS brand_b,
       |    sum(co)::BIGINT AS co_total, count(*) AS n_item_pairs
       |  FROM pairs
       |  JOIN part pa ON pa.p_partkey = pairs.item_i
       |  JOIN part pb ON pb.p_partkey = pairs.item_j
       |  WHERE pa.p_brand <> pb.p_brand
       |  GROUP BY 1, 2
       |)
       |SELECT rk, brand_a, brand_b, co_total, n_item_pairs FROM (
       |  SELECT brand_a, brand_b, co_total, n_item_pairs,
       |    row_number() OVER (ORDER BY co_total DESC, brand_a ASC, brand_b ASC) AS rk
       |  FROM bp
       |) WHERE rk <= $AffinityTop
       |ORDER BY rk""".stripMargin

  /** MMR candidate pool / emitted list / relevance-diversity trade-off. */
  val MmrCandidates = 50
  val MmrTopN = 10
  val MmrLambda = 0.7

  /** MMR (Maximal Marginal Relevance) diversified re-rank of the
    * revenue-top [[MmrCandidates]] items under a brand-indicator
    * similarity, emitting the first [[MmrTopN]] picks — the standard
    * "don't show ten near-identical items" re-ranker next to the
    * diversity AUDITS (q_rec_diversity measures, this one acts).
    *
    * The greedy MMR loop (pick argmax λ·rel − (1−λ)·max-sim-to-
    * selected, repeat) is inherently sequential — but with a 0/1
    * brand-indicator similarity it collapses to a CLOSED FORM: a
    * brand's relevance leader always outscores its brand-mates
    * (λ·rel_lead ≥ λ·rel_mate > λ·rel_mate − (1−λ)), so the leader is
    * always selected first and every non-leader is penalized by
    * exactly (1−λ) at its own selection time. Greedy order ≡ sort by
    * adj = λ·rel − (1−λ)·[brand_rank > 1]. Two windows replace an
    * unparallelizable k-step loop; RecsysSpec runs the literal greedy
    * loop and pins the equivalence.
    *
    * Scale: the quadratic-looking re-rank is over a bounded candidate
    * head (TakeOrderedAndProject); the catalog-wide scoring feeding
    * it is one aggregate. Relevance is normalized by the pool max so
    * λ trades off against a [0,1] score as in the original
    * formulation (Carbonell & Goldstein 1998).
    */
  def mmrRerank(spark: SparkSession, sfDir: String): DataFrame = {
    val cand = Tables.lineitem(spark, sfDir)
      .groupBy(col("l_partkey").as("item_id"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("revenue"))
      .orderBy(col("revenue").desc, col("item_id").asc)
      .limit(MmrCandidates)
    val brands = Tables.part(spark, sfDir).select(col("p_partkey"), col("p_brand"))
    val mx = cand.agg(max("revenue").as("max_rev"))
    cand.join(broadcast(brands), col("item_id") === col("p_partkey"))
      .crossJoin(broadcast(mx))
      .withColumn("rel", col("revenue") / col("max_rev"))
      .withColumn("brand_rn", row_number().over(
        Window.partitionBy("p_brand").orderBy(col("rel").desc, col("item_id").asc)))
      .withColumn("mmr_score", round(
        lit(MmrLambda) * col("rel") -
        lit(1 - MmrLambda) * (col("brand_rn") > 1).cast("int"), 6))
      .withColumn("mmr_rank", row_number().over(
        Window.orderBy(col("mmr_score").desc, col("item_id").asc)))
      .where(col("mmr_rank") <= MmrTopN)
      .select(col("mmr_rank"), col("item_id"), col("p_brand").as("brand"),
        round(col("rel"), 4).as("relevance"), col("mmr_score"))
      .orderBy("mmr_rank")
  }

  val mmrRerankSql: String =
    s"""WITH cand AS (
       |  SELECT l_partkey AS item_id,
       |    round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
       |  FROM lineitem GROUP BY 1
       |  ORDER BY revenue DESC, item_id ASC LIMIT $MmrCandidates
       |), scored AS (
       |  SELECT c.item_id, p.p_brand AS brand,
       |    c.revenue / (SELECT max(revenue) FROM cand) AS rel
       |  FROM cand c JOIN part p ON c.item_id = p.p_partkey
       |), adj AS (
       |  SELECT item_id, brand, rel,
       |    round($MmrLambda * rel - ${1 - MmrLambda} * CASE WHEN
       |      row_number() OVER (PARTITION BY brand ORDER BY rel DESC, item_id ASC) > 1
       |      THEN 1 ELSE 0 END, 6) AS mmr_score
       |  FROM scored
       |), ranked AS (
       |  SELECT row_number() OVER (ORDER BY mmr_score DESC, item_id ASC) AS mmr_rank,
       |    item_id, brand, round(rel, 4) AS relevance, mmr_score
       |  FROM adj
       |)
       |SELECT mmr_rank, item_id, brand, relevance, mmr_score
       |FROM ranked WHERE mmr_rank <= $MmrTopN
       |ORDER BY mmr_rank""".stripMargin

  /** Recommendations explained per user (head of each rec list). */
  val ExplainRk = 3

  /** Recommendation explanations — "because you bought X": for each of
    * a user's top-[[ExplainRk]] ItemCF recommendations, the history
    * item contributing the largest sim×strength term to its score,
    * with that term's share of the total. The explainability surface
    * every production recommender ships next to the recs themselves;
    * reuses the memoized similarity model and capped history, so the
    * extra cost over the recommend itself is one broadcast-sim join on
    * the 3-per-user rec head.
    *
    * The argmax is a struct-max aggregate (contribution desc, seed id
    * asc via negated id) — no per-(user,rec) sort; ties on the rounded
    * contribution resolve to the smallest seed on both engines.
    */
  def itemcfExplain(spark: SparkSession, sfDir: String): DataFrame = {
    val recs = itemcfRecommend(spark, sfDir)
      .where(col("rk") <= ExplainRk)
      .select(col("user_id"), col("rk"), col("item_id").as("rec_item"), col("score"))
    val hist = cappedInteractions(spark, sfDir)
      .select(col("user_id"), col("item_id").as("seed"), col("strength"))
    val sim = broadcast(itemcfSimilarity(spark, sfDir).select("item_i", "item_j", "sim"))
    recs.join(hist, "user_id")
      .join(sim, col("rec_item") === col("item_j") && col("seed") === col("item_i"))
      .withColumn("contribution", round(col("sim") * col("strength"), 6))
      .groupBy("user_id", "rk", "rec_item", "score")
      .agg(max(struct(col("contribution"), (-col("seed")).as("ns"))).as("top"))
      .select(col("user_id"), col("rk"), col("rec_item"),
        (-col("top.ns")).as("because_item"),
        col("top.contribution").as("contribution"),
        round(col("top.contribution") / col("score"), 4).as("share"))
      .orderBy("user_id", "rk")
  }

  val itemcfExplainSql: String =
    s"""WITH recs AS (
       |  SELECT user_id, rk, item_id AS rec_item, score FROM (
       |    ${itemcfRecommendSql.replace("\n", "\n    ")}
       |  ) WHERE rk <= $ExplainRk
       |), ${cappedSql.replace("interactions AS", "interactions2 AS").replace("FROM interactions", "FROM interactions2").replace("capped AS", "capped2 AS")}, h AS (
       |  SELECT user_id, item_id AS seed, strength FROM capped2
       |), r2 AS (
       |  SELECT user_id, item_id FROM capped2
       |), counts2 AS (
       |  SELECT item_id, count(*) AS n_users FROM r2 GROUP BY item_id
       |), pairs2 AS (
       |  SELECT a.item_id AS item_i, b.item_id AS item_j, count(*) AS co
       |  FROM r2 a JOIN r2 b ON a.user_id = b.user_id AND a.item_id < b.item_id
       |  GROUP BY 1, 2
       |), mirrored2 AS (
       |  SELECT item_i, item_j, co FROM pairs2
       |  UNION ALL
       |  SELECT item_j AS item_i, item_i AS item_j, co FROM pairs2
       |), sim2 AS (
       |  SELECT item_i, item_j,
       |    round(co / sqrt(ci.n_users * cj.n_users), 6) AS sim
       |  FROM mirrored2
       |  JOIN counts2 ci ON ci.item_id = item_i
       |  JOIN counts2 cj ON cj.item_id = item_j
       |), knn2 AS (
       |  SELECT item_i, item_j, sim FROM (
       |    SELECT item_i, item_j, sim,
       |      row_number() OVER (PARTITION BY item_i ORDER BY sim DESC, item_j ASC) AS nrk
       |    FROM sim2
       |  ) WHERE nrk <= $TopK
       |), contrib AS (
       |  SELECT recs.user_id, recs.rk, recs.rec_item, recs.score,
       |    h.seed, round(s.sim * h.strength, 6) AS contribution,
       |    row_number() OVER (PARTITION BY recs.user_id, recs.rk
       |      ORDER BY round(s.sim * h.strength, 6) DESC, h.seed ASC) AS crk
       |  FROM recs
       |  JOIN h ON h.user_id = recs.user_id
       |  JOIN knn2 s ON s.item_j = recs.rec_item AND s.item_i = h.seed
       |)
       |SELECT user_id, rk, rec_item, seed AS because_item, contribution,
       |  round(contribution / score, 4) AS share
       |FROM contrib WHERE crk = 1
       |ORDER BY user_id, rk""".stripMargin

  /** Novelty (self-information) profile of the ItemCF rec lists by
    * rank position (Vargas & Castells 2011): novelty(i) = −log₂ of
    * the item's user-share in the interaction corpus; averaged over
    * every rec at each rank. The long-tail counterpart to accuracy
    * metrics — a recommender that only surfaces head items scores
    * high precision and ~0 novelty; the per-rank profile shows where
    * in the list the tail actually appears.
    *
    * Scale: popularity is one aggregate; the attach to the rec lists
    * broadcasts the |items|-row share table.
    */
  def evalNovelty(spark: SparkSession, sfDir: String): DataFrame = {
    val hist = cappedInteractions(spark, sfDir)
    val nUsers = hist.select("user_id").distinct()
      .agg(count(lit(1)).as("n_total"))
    val pop = hist.select("user_id", "item_id").distinct()
      .groupBy("item_id").agg(count(lit(1)).as("n_u"))
      .crossJoin(broadcast(nUsers))
      .select(col("item_id"),
        (-log2(col("n_u").cast("double") / col("n_total"))).as("nov"))
    itemcfRecommend(spark, sfDir)
      .join(broadcast(pop), "item_id")
      .groupBy("rk")
      .agg(count(lit(1)).as("n_recs"),
           round(avg("nov"), 4).as("avg_novelty"),
           round(min("nov"), 4).as("min_novelty"),
           round(max("nov"), 4).as("max_novelty"))
      .orderBy("rk")
  }

  val evalNoveltySql: String =
    s"""WITH recs AS (
       |  SELECT user_id, rk, item_id FROM (
       |    ${itemcfRecommendSql.replace("\n", "\n    ")}
       |  )
       |), ${cappedSql.replace("interactions AS", "interactions3 AS").replace("FROM interactions", "FROM interactions3").replace("capped AS", "capped3 AS")}, hist AS (
       |  SELECT DISTINCT user_id, item_id FROM capped3
       |), nt AS (SELECT count(DISTINCT user_id) AS n_total FROM hist),
       |pop AS (
       |  SELECT item_id, -log2(count(*)::DOUBLE / (SELECT n_total FROM nt)) AS nov
       |  FROM hist GROUP BY item_id
       |)
       |SELECT rk, count(*) AS n_recs,
       |  round(avg(nov), 4) AS avg_novelty,
       |  round(min(nov), 4) AS min_novelty,
       |  round(max(nov), 4) AS max_novelty
       |FROM recs JOIN pop USING (item_id)
       |GROUP BY rk ORDER BY rk""".stripMargin

  /** Cold quantile: catalog items at or below this per-item
    * interaction-count percentile are "cold". Relative, not an
    * absolute floor — the fixture (and any healthy marketplace head)
    * has no zero-history items, and a relative tail stays meaningful
    * at every scale (the scale-invariant-floor precedent of the
    * sequential-pattern support). */
  val ColdQuantile = 0.25

  /** Cold-start exposure audit: the catalog's bottom-[[ColdQuantile]]
    * items by interacting-user count (never-interacted items
    * included at 0), and what share of recommendation exposure the
    * CF ranker gives that cold tail. CF amplifies history, so
    * exposure_lift < 1 is the expected popularity-bias reading —
    * this query MEASURES the blind spot the content-based and
    * popularity tiers exist to fill (the ops number behind "do we
    * need an exploration slate").
    *
    * Scale: per-item counts from the memoized capped interactions;
    * exposure from the memoized recommend table; the quantile
    * threshold is one scalar over catalog-sized counts, broadcast
    * back; one left join on the part dim and a single-row rollup.
    */
  def coldStart(spark: SparkSession, sfDir: String): DataFrame = {
    val counts = cappedInteractions(spark, sfDir)
      .groupBy("item_id").agg(count(lit(1)).as("n_users"))
    val cat = Tables.part(spark, sfDir).select(col("p_partkey").as("item_id"))
    val expo = itemcfRecommend(spark, sfDir)
      .groupBy("item_id").agg(count(lit(1)).as("n_rec"))
    val perItem = cat.join(counts, Seq("item_id"), "left")
      .join(expo, Seq("item_id"), "left")
      .select(col("item_id"),
        coalesce(col("n_users"), lit(0L)).as("x"),
        coalesce(col("n_rec"), lit(0L)).as("n_rec"))
    val thr = perItem.agg(expr(s"percentile(x, $ColdQuantile)").as("thr"))
    perItem.crossJoin(broadcast(thr))
      .select((col("x") <= col("thr")).cast("long").as("is_cold"), col("n_rec"))
      .agg(count(lit(1)).as("n_catalog"),
           sum("is_cold").as("n_cold"),
           sum("n_rec").as("n_recs"),
           sum(col("is_cold") * col("n_rec")).as("recs_to_cold"))
      .select(col("n_catalog"), col("n_cold"),
        round(col("n_cold") / col("n_catalog").cast("double"), 6).as("cold_share"),
        col("n_recs"), col("recs_to_cold"),
        round(col("recs_to_cold") / col("n_recs").cast("double"), 6)
          .as("cold_exposure_share"),
        round((col("recs_to_cold") / col("n_recs").cast("double")) /
          (col("n_cold") / col("n_catalog").cast("double")), 4).as("exposure_lift"))
  }

  val coldStartSql: String =
    s"""WITH $cappedSql, counts AS (
       |  SELECT item_id, count(*) AS n_users FROM capped GROUP BY item_id
       |), recs AS (
       |  SELECT item_id, count(*) AS n_rec FROM (
       |    ${itemcfRecommendSql.replace("\n", "\n    ")}
       |  ) GROUP BY item_id
       |), pi AS (
       |  SELECT coalesce(c.n_users, 0) AS x, coalesce(r.n_rec, 0) AS n_rec
       |  FROM part p
       |  LEFT JOIN counts c ON c.item_id = p.p_partkey
       |  LEFT JOIN recs r ON r.item_id = p.p_partkey
       |), per_item AS (
       |  SELECT CASE WHEN x <= (SELECT quantile_cont(x, $ColdQuantile) FROM pi)
       |              THEN 1 ELSE 0 END AS is_cold,
       |    n_rec
       |  FROM pi
       |), agg AS (
       |  SELECT count(*) AS n_catalog, sum(is_cold)::BIGINT AS n_cold,
       |    sum(n_rec)::BIGINT AS n_recs,
       |    sum(is_cold * n_rec)::BIGINT AS recs_to_cold
       |  FROM per_item
       |)
       |SELECT n_catalog, n_cold,
       |  round(n_cold / n_catalog::DOUBLE, 6) AS cold_share,
       |  n_recs, recs_to_cold,
       |  round(recs_to_cold / n_recs::DOUBLE, 6) AS cold_exposure_share,
       |  round((recs_to_cold / n_recs::DOUBLE)
       |    / (n_cold / n_catalog::DOUBLE), 4) AS exposure_lift
       |FROM agg""".stripMargin

  /** Support floor on train-period co-occurrence for the serendipity
    * recommender (pairs below it are noise, and the floor keeps the
    * pair space sparsified exactly as [[GraphRank.EdgeMinCo]] does). */
  val SerCoMin = 2
  /** Per-item neighbor cap before candidate scoring — the standard
    * CF-kNN sparsification (mirrors [[TopK]] in the ItemCF tiers):
    * scoring fan-out becomes |history|·M instead of |history|·degree. */
  val SerTopM = 10

  /** Serendipity@K — the one standard eval metric the family was
    * missing (beside precision/recall, NDCG/MRR, diversity, coverage,
    * novelty, IPS): the share of recommendations that are BOTH
    * unexpected (absent from the obvious popularity top-K every user
    * sees anyway) AND useful (confirmed by the user's holdout
    * purchases). Leak-clean by construction: a co-visitation
    * recommender is trained on the SAME pre-[[SplitDate]] train period
    * as [[popularitySplit]]'s baseline — per user, candidates score by
    * Σ train co-occurrence with the user's capped train history, seen
    * items anti-joined away, top [[EvalK]] kept ((score desc, cand
    * asc) — scores are exact integer co-sums, no float tie hazard).
    *
    * Scale: the capped-history pair expansion rides the same
    * [[pairsWithin]] codegen generator as the CF tiers (bounded by
    * cap², support-floored), candidate scoring is one equi-join on the
    * history item, ranking is the bounded [[graft.functions.TopKByScore]]
    * aggregate, and both metric joins (popularity set, holdout) are
    * broadcast/key joins. Single-row output.
    */
  def serendipity(spark: SparkSession, sfDir: String): DataFrame = {
    val (train, test, popRecs) = popularitySplit(spark, sfDir)
    // deterministic train-history cap: the MaxHistory smallest item ids
    // (all-equal strengths make TopKByScore's tie order = id asc, which
    // this window states explicitly and the oracle mirrors)
    val wCap = Window.partitionBy("user_id").orderBy("item_id")
    val capped = train.withColumn("hrk", row_number().over(wCap))
      .where(col("hrk") <= MaxHistory).select("user_id", "item_id")
      .localCheckpoint() // feeds pair gen, scoring join, anti-join
    // a-priori prune (exact for the floored pair space — pair co ≤ min
    // item frequency, the house lesson from q_link_predict): items in
    // fewer than SerCoMin capped train histories can never reach the
    // floor, so they leave pair GENERATION before the quadratic
    // expansion; the oracle needs no mirror
    val frequent = capped.groupBy("item_id").agg(count(lit(1)).as("nf"))
      .where(col("nf") >= SerCoMin).select("item_id")
    val co = unpack(
      pairsWithin(capped.join(frequent, "item_id"), "user_id", "item_id")
        .repartition(col("pk")).groupBy("pk").agg(count(lit(1)).as("co"))
        .where(col("co") >= SerCoMin),
      "item_i", "item_j")
    val sym = co.select(explode(array(
        struct(col("item_i").as("item"), col("item_j").as("cand"), col("co")),
        struct(col("item_j").as("item"), col("item_i").as("cand"), col("co"))))
        .as("p"))
      .select(col("p.item").as("item"), col("p.cand").as("cand"), col("p.co").as("co"))
    // bounded per-item neighbor head ((co desc, cand asc) — exact ints)
    val knn = TopKByScore.rows(sym, Seq("item"),
        SerTopM, col("co").cast("double"), col("cand"), lit(0L))
      .select(col("item"), col("id").as("cand"), col("score").cast("long").as("co"))
    val scored = capped.join(knn, col("item_id") === col("item"))
      .groupBy("user_id", "cand").agg(sum("co").as("score"))
    val recs = TopKByScore.rows(dropSeen(scored, capped), Seq("user_id"),
        EvalK, col("score").cast("double"), col("cand"), lit(0L))
      .select(col("user_id"), col("id").as("cand"))
    val perUser = recs
      .join(broadcast(popRecs.select(col("item_id"), lit(1).as("expected"))),
        col("cand") === col("item_id"), "left")
      .join(test.select(col("user_id").as("tu"), col("item_id").as("ti"),
          lit(1).as("useful")),
        col("user_id") === col("tu") && col("cand") === col("ti"), "left")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_recs"),
        sum(when(col("expected").isNull, 1).otherwise(0)).as("n_unexp"),
        sum(coalesce(col("useful"), lit(0))).as("n_useful"),
        sum(when(col("expected").isNull && col("useful") === 1, 1).otherwise(0))
          .as("n_serendip"))
    perUser.agg(
      count(lit(1)).as("n_eval_users"),
      round(avg(col("n_unexp").cast("double") / col("n_recs")), 6)
        .as("unexpected_share"),
      round(avg(col("n_useful").cast("double") / EvalK), 6).as("precision_at_k"),
      round(avg(col("n_serendip").cast("double") / EvalK), 6).as("serendipity_at_k"),
      sum("n_serendip").as("total_serendipitous"))
  }

  val serendipitySql: String =
    s"""WITH ui AS (
       |  SELECT o_custkey AS user_id, l_partkey AS item_id, o_orderdate
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |), train AS (
       |  SELECT DISTINCT user_id, item_id FROM ui WHERE o_orderdate < TIMESTAMP '$SplitDate'
       |), test AS (
       |  SELECT DISTINCT user_id, item_id FROM ui WHERE o_orderdate >= TIMESTAMP '$SplitDate'
       |), capped AS MATERIALIZED (
       |  SELECT user_id, item_id FROM (
       |    SELECT user_id, item_id,
       |      row_number() OVER (PARTITION BY user_id ORDER BY item_id) AS hrk
       |    FROM train
       |  ) WHERE hrk <= $MaxHistory
       |), pairs AS MATERIALIZED (
       |  SELECT a.item_id AS item_i, b.item_id AS item_j, count(*)::BIGINT AS co
       |  FROM capped a JOIN capped b
       |    ON a.user_id = b.user_id AND a.item_id < b.item_id
       |  GROUP BY 1, 2 HAVING count(*) >= $SerCoMin
       |), sym AS (
       |  SELECT item_i AS item, item_j AS cand, co FROM pairs
       |  UNION ALL
       |  SELECT item_j AS item, item_i AS cand, co FROM pairs
       |), knn AS MATERIALIZED (
       |  SELECT item, cand, co FROM (
       |    SELECT item, cand, co,
       |      row_number() OVER (PARTITION BY item ORDER BY co DESC, cand ASC) AS nrk
       |    FROM sym
       |  ) WHERE nrk <= $SerTopM
       |), scored AS MATERIALIZED (
       |  SELECT c.user_id, s.cand, sum(s.co)::BIGINT AS score
       |  FROM capped c JOIN knn s ON s.item = c.item_id
       |  GROUP BY 1, 2
       |), unseen AS (
       |  SELECT sc.user_id, sc.cand, sc.score FROM scored sc
       |  WHERE NOT EXISTS (
       |    SELECT 1 FROM capped h WHERE h.user_id = sc.user_id AND h.item_id = sc.cand)
       |), recs AS (
       |  SELECT user_id, cand FROM (
       |    SELECT user_id, cand,
       |      row_number() OVER (PARTITION BY user_id ORDER BY score DESC, cand ASC) AS rk
       |    FROM unseen
       |  ) WHERE rk <= $EvalK
       |), pop AS (
       |  SELECT item_id FROM (
       |    SELECT item_id, count(DISTINCT user_id) AS pop FROM train GROUP BY item_id
       |  ) ORDER BY pop DESC, item_id ASC LIMIT $EvalK
       |), per_user AS (
       |  SELECT r.user_id, count(*)::BIGINT AS n_recs,
       |    sum(CASE WHEN p.item_id IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_unexp,
       |    sum(CASE WHEN t.user_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_useful,
       |    sum(CASE WHEN p.item_id IS NULL AND t.user_id IS NOT NULL
       |      THEN 1 ELSE 0 END)::BIGINT AS n_serendip
       |  FROM recs r
       |  LEFT JOIN pop p ON p.item_id = r.cand
       |  LEFT JOIN test t ON t.user_id = r.user_id AND t.item_id = r.cand
       |  GROUP BY r.user_id
       |)
       |SELECT count(*)::BIGINT AS n_eval_users,
       |  round(avg(n_unexp::DOUBLE / n_recs), 6) AS unexpected_share,
       |  round(avg(n_useful::DOUBLE / $EvalK), 6) AS precision_at_k,
       |  round(avg(n_serendip::DOUBLE / $EvalK), 6) AS serendipity_at_k,
       |  sum(n_serendip)::BIGINT AS total_serendipitous
       |FROM per_user""".stripMargin

  /** Head size for the miscalibration ranking. */
  val CalibTop = 20
  /** Steck's smoothing weight: q̃ = (1−α)·q + α·p (α = 0.01) keeps the
    * KL finite when a history brand never appears in the rec list.
    * Kept as literal TEXT so engine and oracle parse the identical
    * doubles. */
  val CalibAlphaLit = "0.01"
  val CalibOneMinusAlpha = "0.99"

  /** Calibrated recommendations audit (Steck 2018) — the eval the
    * accuracy metrics miss: a recommender can score high precision
    * while collapsing every user onto their majority interest. Per
    * user: p(brand) over the capped purchase history vs q(brand) over
    * the served top-N list (both ride the memoized interaction and
    * recommendation tables + a broadcast part-brand dim), and the
    * calibration divergence C_KL(p‖q̃) = Σ_b p·ln(p/q̃) with Steck's
    * α-smoothing toward p. Emits the [[CalibTop]] most miscalibrated
    * users — the segment a re-ranker (e.g. [[mmrRerank]]) would
    * target first. Ranked on the 6dp-rounded divergence with user
    * tie-break; the head compiles to TakeOrderedAndProject.
    */
  def recCalibration(spark: SparkSession, sfDir: String): DataFrame = {
    val brand = broadcast(Tables.part(spark, sfDir)
      .select(col("p_partkey").as("item_id"), col("p_brand").as("brand")))
    val hist = cappedInteractions(spark, sfDir).select("user_id", "item_id")
      .join(brand, "item_id")
    val hCnt = hist.groupBy("user_id", "brand").agg(count(lit(1)).as("hc"))
    val hTot = hist.groupBy("user_id").agg(count(lit(1)).as("ht"))
    val recs = itemcfRecommend(spark, sfDir).select("user_id", "item_id")
      .join(brand, "item_id")
    val rCnt = recs.groupBy("user_id", "brand").agg(count(lit(1)).as("rc"))
    val rTot = recs.groupBy("user_id").agg(count(lit(1)).as("rt"))
    val terms = hCnt.join(hTot, "user_id")
      .join(rCnt, Seq("user_id", "brand"), "left")
      .join(rTot, "user_id")
      .select(col("user_id"),
        (col("hc").cast("double") / col("ht")).as("p"),
        (coalesce(col("rc"), lit(0L)).cast("double") / col("rt")).as("q"))
      // literal text matches the oracle exactly — 1.0-α recomputed in
      // the JVM need not be the same double the SQL parser produces
      .withColumn("qs", expr(s"$CalibOneMinusAlpha * q + $CalibAlphaLit * p"))
      .withColumn("term", col("p") * log(col("p") / col("qs")))
    terms.groupBy("user_id")
      .agg(count(lit(1)).as("n_hist_brands"), round(sum("term"), 6).as("ckl"))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("ckl").desc, col("user_id").asc)))
      .where(col("rk") <= CalibTop)
      .select("rk", "user_id", "n_hist_brands", "ckl")
      .orderBy("rk")
  }

  val recCalibrationSql: String =
    s"""WITH $cappedSql, r AS (
       |  SELECT user_id, item_id FROM capped
       |), counts AS (
       |  SELECT item_id, count(*) AS n_users FROM r GROUP BY item_id
       |), pairs AS MATERIALIZED (
       |  SELECT a.item_id AS item_i, b.item_id AS item_j, count(*) AS co
       |  FROM r a JOIN r b ON a.user_id = b.user_id AND a.item_id < b.item_id
       |  GROUP BY 1, 2
       |), mirrored AS (
       |  SELECT item_i, item_j, co FROM pairs
       |  UNION ALL
       |  SELECT item_j AS item_i, item_i AS item_j, co FROM pairs
       |), sim AS (
       |  SELECT item_i, item_j,
       |    round(co / sqrt(ci.n_users * cj.n_users), 6) AS sim
       |  FROM mirrored
       |  JOIN counts ci ON ci.item_id = item_i
       |  JOIN counts cj ON cj.item_id = item_j
       |), knn AS (
       |  SELECT item_i, item_j, sim FROM (
       |    SELECT item_i, item_j, sim,
       |      row_number() OVER (PARTITION BY item_i ORDER BY sim DESC, item_j ASC) AS rk
       |    FROM sim
       |  ) WHERE rk <= $TopK
       |), scored AS (
       |  SELECT h.user_id, k.item_j AS cand,
       |    round(sum(k.sim * h.strength), 6) AS score
       |  FROM capped h JOIN knn k ON h.item_id = k.item_i
       |  GROUP BY 1, 2
       |), recs AS MATERIALIZED (
       |  SELECT user_id, cand AS item_id FROM (
       |    SELECT s.user_id, s.cand, s.score,
       |      row_number() OVER (PARTITION BY s.user_id ORDER BY s.score DESC, s.cand ASC) AS rk
       |    FROM scored s
       |    WHERE NOT EXISTS (
       |      SELECT 1 FROM capped h WHERE h.user_id = s.user_id AND h.item_id = s.cand)
       |  ) WHERE rk <= $TopN
       |), hb AS (
       |  SELECT c.user_id, p.p_brand AS brand, count(*) AS hc
       |  FROM capped c JOIN part p ON p.p_partkey = c.item_id
       |  GROUP BY 1, 2
       |), htot AS (
       |  SELECT user_id, sum(hc)::BIGINT AS ht FROM hb GROUP BY user_id
       |), rb AS (
       |  SELECT c.user_id, p.p_brand AS brand, count(*) AS rc
       |  FROM recs c JOIN part p ON p.p_partkey = c.item_id
       |  GROUP BY 1, 2
       |), rtot AS (
       |  SELECT user_id, sum(rc)::BIGINT AS rt FROM rb GROUP BY user_id
       |), terms AS (
       |  SELECT hb.user_id,
       |    hb.hc::DOUBLE / htot.ht AS p,
       |    coalesce(rb.rc, 0)::DOUBLE / rtot.rt AS q
       |  FROM hb
       |  JOIN htot USING (user_id)
       |  LEFT JOIN rb ON rb.user_id = hb.user_id AND rb.brand = hb.brand
       |  JOIN rtot ON rtot.user_id = hb.user_id
       |), ckl AS (
       |  SELECT user_id, count(*)::BIGINT AS n_hist_brands,
       |    round(sum(p * ln(p / ($CalibOneMinusAlpha * q + $CalibAlphaLit * p))), 6) AS ckl
       |  FROM terms GROUP BY user_id
       |)
       |SELECT rk, user_id, n_hist_brands, ckl FROM (
       |  SELECT user_id, n_hist_brands, ckl,
       |    row_number() OVER (ORDER BY ckl DESC, user_id ASC) AS rk
       |  FROM ckl
       |) WHERE rk <= $CalibTop
       |ORDER BY rk""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_rec_calibration", recCalibration _, Some(recCalibrationSql)),
    QuerySpec("q_serendipity", serendipity _, Some(serendipitySql)),
    QuerySpec("q_cold_start", coldStart _, Some(coldStartSql)),
    QuerySpec("q_eval_novelty", evalNovelty _, Some(evalNoveltySql)),
    QuerySpec("q_itemcf_explain", itemcfExplain _, Some(itemcfExplainSql)),
    QuerySpec("q_mmr_rerank", mmrRerank _, Some(mmrRerankSql)),
    QuerySpec("q_brand_affinity", brandAffinity _, Some(brandAffinitySql)),
    QuerySpec("q_seq_buy_pairs", seqBuyPairs _, Some(seqBuyPairsSql)),
    QuerySpec("q_trending_items", trendingItems _, Some(trendingItemsSql)),
    QuerySpec("q_rec_diversity", recDiversity _, Some(recDiversitySql)),
    QuerySpec("q_rec_coverage", recCoverage _, Some(recCoverageSql)),
    QuerySpec("q_eval_ranking", evalRanking _, Some(evalRankingSql)),
    QuerySpec("q_eval_gauc", evalGauc _, Some(evalGaucSql)),
    QuerySpec("q_sknn_recommend", sknnRecommend _, Some(sknnRecommendSql)),
    QuerySpec("q_markov_next", markovNext _, Some(markovNextSql)),
    QuerySpec("q_itemcf_similarity", itemcfSimilarity _, Some(itemcfSimilaritySql)),
    QuerySpec("q_itemcf_weighted", itemcfWeighted _, Some(itemcfWeightedSql)),
    QuerySpec("q_itemcf_decay", itemcfDecay _, Some(itemcfDecaySql)),
    QuerySpec("q_itemcf_recommend", itemcfRecommend _, Some(itemcfRecommendSql)),
    QuerySpec("q_itemcf_serve", itemcfServe _, Some(itemcfRecommendSql)),
    QuerySpec("q_itemcf_drift", itemcfDrift _, Some(itemcfDriftSql)),
    // the refresh's oracle IS the from-scratch full-corpus model —
    // delta-merge identity is the correctness contract
    QuerySpec("q_itemcf_refresh", itemcfRefresh _, Some(itemcfSimilaritySql)),
    // refreshed model == fresh model, so serving from the published
    // refresh must equal the plain recommend
    QuerySpec("q_itemcf_refresh_serve", itemcfRefreshServe _, Some(itemcfRecommendSql)),
    // two sequential refreshes from the advanced store == one combined
    // refresh == from-scratch (semilattice associativity) — the chain
    // shares the from-scratch oracle
    QuerySpec("q_itemcf_refresh_chain", itemcfRefreshChain _, Some(itemcfSimilaritySql)),
    QuerySpec("q_itemcf_delete", itemcfDelete _, Some(itemcfDeleteSql)),
    QuerySpec("q_slope_one", slopeOne _, Some(slopeOneSql)),
    QuerySpec("q_usercf_similarity", usercfSimilarity _, Some(usercfSimilaritySql)),
    QuerySpec("q_usercf_recommend", usercfRecommend _, Some(usercfRecommendSql)),
    QuerySpec("q_swing_similarity", swingSimilarity _, Some(swingSimilaritySql)),
    QuerySpec("q_content_recommend", contentRecommend _, Some(contentRecommendSql)),
    QuerySpec("q_eval_popularity", evalPopularity _, Some(evalPopularitySql)),
    QuerySpec("q_eval_ips", evalIps _, Some(evalIpsSql)),
    QuerySpec("q_eval_dr", evalDr _, Some(evalDrSql)),
    QuerySpec("q_eval_markov", evalMarkov _, Some(evalMarkovSql)),
  )
}
