package graft.operators

import graft.{QueryFamily, QuerySpec, Tables}
import graft.functions.VectorFunctions
import graft.sources.Sources
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Document deduplication tiers (SURVEY.md §2.10 L1/L2 + the driver's
  * LLM-pipeline mandate): exact, MinHash+LSH banding, SimHash, and
  * n-gram Jaccard — all pure Spark SQL with DuckDB oracles.
  *
  * Portability backbone: a 32-bit hash both engines compute identically,
  *   Spark:  cast(conv(substring(md5(s), 1, 8), 16, 10) AS bigint)
  *   DuckDB: ('0x' || substr(md5(s), 1, 8))::BIGINT
  * All downstream hashing (MinHash permutations, SimHash bits,
  * fingerprints) is integer arithmetic on that value, so signatures are
  * bit-identical across engines and the oracle can verify the FULL
  * pipeline, not just its output shape.
  *
  * Scale notes: shingling/minhashing is embarrassingly parallel (per-doc
  * map work); the only shuffles are the per-band bucket join (LSH) and
  * the shingle-join verify — both bounded by band-bucket sizes, which is
  * the entire point of LSH at 100 TB. The candidate→verify flow never
  * materializes the O(n²) pair space.
  */
object Dedup extends QueryFamily {

  /** Shingle width (tokens) for MinHash / n-gram Jaccard. */
  val ShingleW = 3
  /** MinHash permutation parameters — small multipliers keep a*h+b well
    * inside int64 (a < 2^20, h < 2^32). Shared verbatim with the oracle.
    */
  val MinHashA: Seq[Long] = Seq(3L, 7L, 13L, 31L, 61L, 127L, 251L, 509L, 1021L, 2039L, 4093L, 8191L)
  val MinHashB: Seq[Long] = MinHashA.indices.map(i => 999331L * (i + 1))
  /** Prime modulus just above 2^32. */
  val MinHashP = 4294967311L
  /** LSH band width (signature positions per band). */
  val BandW = 2
  /** Jaccard threshold for confirmed near-duplicates. */
  val JaccardThreshold = 0.5

  /** Spark SQL expression for the portable 32-bit hash of column expr. */
  private def h32Spark(e: String): String =
    s"cast(conv(substring(md5($e), 1, 8), 16, 10) AS bigint)"

  /** DuckDB expression for the same hash. */
  private def h32Duck(e: String): String =
    s"('0x' || substr(md5($e), 1, 8))::BIGINT"

  import TextNorm.{normDuck, normSpark}

  /** L1 exact dedup: normalized-text grouping, min(doc_id) survives.
    * Emits per-source totals (the fixture plants no exact dups — the
    * counts prove it rather than assuming it).
    */
  def exactDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir)
      .withColumn("norm", expr(normSpark))
    val survivors = d.groupBy("norm")
      .agg(min("doc_id").as("survivor"), count(lit(1)).as("group_size"))
    d.join(survivors, "norm")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
           countDistinct(col("norm")).as("n_distinct"),
           sum(when(col("doc_id") =!= col("survivor"), 1L).otherwise(0L)).as("n_removed"))
      .orderBy("source")
  }

  val exactDedupSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, source, $normDuck AS norm FROM documents
       |), survivors AS (
       |  SELECT norm, min(doc_id) AS survivor, count(*) AS group_size
       |  FROM d GROUP BY norm
       |)
       |SELECT source, count(*) AS n_docs,
       |  count(DISTINCT d.norm) AS n_distinct,
       |  sum(CASE WHEN doc_id <> survivor THEN 1 ELSE 0 END)::BIGINT AS n_removed
       |FROM d JOIN survivors ON d.norm = survivors.norm
       |GROUP BY source
       |ORDER BY source""".stripMargin

  /** Distinct (doc_id, shingle) pairs — shared by the Jaccard and
    * MinHash tiers. Shingling is a per-row generator (map-side only).
    * Memoized+persisted per (session, sfDir): each near-dup query reads
    * this set up to four times (both join sides, sizes, signatures), and
    * the Jaccard and MinHash tiers share it within a session.
    * Session-lifecycle-aware via [[graft.QueryCache]] (inputs assumed
    * immutable per session; see QueryCache.invalidate otherwise).
    */
  private[graft] def shingles(spark: SparkSession, sfDir: String): DataFrame =
    graft.QueryCache.memo(spark, s"dedup:shingles:$sfDir") {
      Tables.documents(spark, sfDir)
        .withColumn("t", split(expr(normSpark), " "))
        .where(size(col("t")) >= ShingleW)
        // codegen shingling (graft.functions.Shingles) — byte-identical
        // output to the HOF chain the oracle SQL still mirrors
        .select(col("doc_id"),
          explode(graft.functions.Shingles.shingles(col("t"), ShingleW)).as("s"))
        .distinct()
    }

  private[graft] val shinglesSql: String =
    s"""toks AS (
       |  SELECT doc_id, string_split($normDuck, ' ') AS t FROM documents
       |), sh AS (
       |  SELECT DISTINCT doc_id,
       |    unnest(list_transform(range(0, len(t) - ${ShingleW - 1}),
       |                          i -> array_to_string(list_slice(t, i + 1, i + $ShingleW), ' '))) AS s
       |  FROM toks WHERE len(t) >= $ShingleW
       |)""".stripMargin

  /** Stop-list bound: shingles shared by more than this many documents
    * are excluded from PAIR GENERATION (doc sizes still count them, so
    * reported Jaccard is a lower bound for affected pairs). A shingle
    * this hot is uninformative boilerplate, and it is the cap that
    * bounds PairPack's per-key list (n(n−1)/2 blowup) at corpus scale —
    * the same role MaxHistory plays for hot users in Recsys. Far above
    * any fixture df, so the fixture output is the exact Jaccard.
    */
  val HotShingleDf = 10000

  /** L2a n-gram Jaccard near-dup: exact Jaccard over ${ShingleW}-token
    * shingles via the inverted-index join (shingle → docs), threshold
    * ${JaccardThreshold}; shingles with df > $HotShingleDf stop-listed.
    */
  def ngramJaccard(spark: SparkSession, sfDir: String): DataFrame =
    pairScores(spark, sfDir)
      .withColumn("jaccard", round(col("inter") / (col("na") + col("nb") - col("inter")), 6))
      .where(col("jaccard") >= JaccardThreshold)
      .select("doc_a", "doc_b", "inter", "jaccard")
      .orderBy("doc_a", "doc_b")

  /** Stop-listed inverted-index pair scores — (doc_a, doc_b, inter,
    * na, nb) for every doc pair sharing ≥1 non-hot shingle — shared by
    * the Jaccard tier and the LSH recall audit (memoized per session).
    *
    * Pair generation WITHOUT the shingle self-join: one groupBy per
    * shingle collects its (sorted) doc list, and the codegen PairPack
    * expression expands the co-occurring doc pairs map-side — the
    * hot-shingle blowup (a trigram shared by n docs yields n(n−1)/2
    * pairs) no longer rides through an SMJ shuffle of duplicated
    * shingle rows. Identical pair multiset to the x⋈y join the oracle
    * still uses.
    */
  private[graft] def pairScores(spark: SparkSession, sfDir: String): DataFrame =
    graft.QueryCache.memo(spark, s"dedup:pairScores:$sfDir") {
      val sh = shingles(spark, sfDir)
      val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("ns"))
      val inter = sh.groupBy("s")
        .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
        .where(size(col("ds")) <= HotShingleDf) // stop-list hot shingles
        .select(explode(graft.functions.PairPack.pairPack(col("ds"))).as("pk"))
        .groupBy("pk").agg(count(lit(1)).as("inter"))
        .withColumn("doc_a", shiftright(col("pk"), 32))
        .withColumn("doc_b", col("pk").bitwiseAND(graft.functions.PairPack.Base - 1L))
        .drop("pk")
      // size attach deliberately UNHINTED: the size table is CORPUS-sized
      // (one row per doc), so a forced broadcast would cap the operator at
      // driver memory. AQE broadcasts it from runtime stats while it's
      // small and degrades to a shuffled equi-join on doc_id at crawl
      // scale — same policy as the canonical-emission removal join.
      inter
        .join(sizes.select(col("doc_id").as("doc_a"), col("ns").as("na")), "doc_a")
        .join(sizes.select(col("doc_id").as("doc_b"), col("ns").as("nb")), "doc_b")
    }

  val ngramJaccardSql: String =
    s"""WITH $shinglesSql, sizes AS (
       |  SELECT doc_id, count(*) AS ns FROM sh GROUP BY doc_id
       |), keep AS (
       |  SELECT s FROM sh GROUP BY s HAVING count(*) <= $HotShingleDf
       |), inter AS (
       |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS inter
       |  FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
       |  JOIN keep k ON k.s = x.s
       |  GROUP BY 1, 2
       |)
       |SELECT doc_a, doc_b, inter,
       |  round(inter / (na.ns + nb.ns - inter), 6) AS jaccard
       |FROM inter
       |JOIN sizes na ON na.doc_id = doc_a
       |JOIN sizes nb ON nb.doc_id = doc_b
       |WHERE round(inter / (na.ns + nb.ns - inter), 6) >= $JaccardThreshold
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Band-collision candidate pairs (doc_a < doc_b, distinct) — the
    * LSH generator shared by the verify tier and the recall audit,
    * memoized per session.
    */
  private[graft] def minhashCandidates(spark: SparkSession, sfDir: String): DataFrame =
    graft.QueryCache.memo(spark, s"dedup:mhcands:$sfDir") {
      val sh = shingles(spark, sfDir).withColumn("h", expr(h32Spark("s")))
      // Signature as ONE groupBy(doc_id) with a min-aggregate per
      // permutation: the k-explode formulation this replaces pushed
      // |shingles|×12 rows through a (doc_id, k) aggregate; here the
      // aggregate reads each shingle row once and keeps 12 codegen'd
      // min slots per doc — 12× less shuffle input, same values
      // bit-for-bit (min over identical hk sets).
      val minCols = MinHashA.zip(MinHashB).zipWithIndex.map { case ((a, b), k) =>
        min(expr(s"($a * h + $b) % $MinHashP")).as(s"mh$k")
      }
      val sig = sh.groupBy("doc_id").agg(minCols.head, minCols.tail: _*)
      // band key: concatenated minhashes within the band, order fixed by k
      // (identical string to the previous sort_array(collect_list) form)
      val bandStructs = (0 until MinHashA.size by BandW).map { b =>
        val ks = b until math.min(b + BandW, MinHashA.size)
        struct(lit(b / BandW).as("band"),
               concat_ws(",", ks.map(k => col(s"mh$k").cast("string")): _*).as("bkey"))
      }
      val bands = sig.select(col("doc_id"), explode(array(bandStructs: _*)).as("bb"))
        .select(col("doc_id"), col("bb.band").as("band"), col("bb.bkey").as("bkey"))
      bands.as("x").join(bands.as("y"),
          col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
        .distinct()
    }

  /** L2b MinHash + LSH banding: ${MinHashA.size}-permutation signature,
    * bands of $BandW rows; docs colliding in ANY band become candidate
    * pairs; candidates are verified with exact Jaccard ≥ $JaccardThreshold.
    * Signatures are integer arithmetic on the portable 32-bit hash, so
    * the DuckDB oracle reproduces them bit-for-bit.
    */
  def minhashLsh(spark: SparkSession, sfDir: String): DataFrame = {
    val sh = shingles(spark, sfDir)
    val cands = minhashCandidates(spark, sfDir)
    // verify candidates with exact Jaccard
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("ns"))
    val inter = cands
      .join(sh.select(col("doc_id").as("doc_a"), col("s")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("s").as("s2")), "doc_b")
      .where(col("s") === col("s2"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("inter"))
    inter // corpus-sized size table: unhinted, see pairScores
      .join(sizes.select(col("doc_id").as("doc_a"), col("ns").as("na")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("ns").as("nb")), "doc_b")
      .withColumn("jaccard", round(col("inter") / (col("na") + col("nb") - col("inter")), 6))
      .where(col("jaccard") >= JaccardThreshold)
      .select("doc_a", "doc_b", "jaccard")
      .orderBy("doc_a", "doc_b")
  }

  val minhashLshSql: String = {
    val permRows = MinHashA.zip(MinHashB).zipWithIndex
      .map { case ((a, b), k) => s"($k, $a, $b)" }.mkString(", ")
    s"""WITH $shinglesSql, hashed AS (
       |  SELECT doc_id, ${h32Duck("s")} AS h, s FROM sh
       |), perms(k, a, b) AS (VALUES $permRows),
       |sig AS (
       |  SELECT doc_id, k, min((a * h + b) % $MinHashP) AS mh
       |  FROM hashed CROSS JOIN perms
       |  GROUP BY doc_id, k
       |), bands AS (
       |  SELECT doc_id, k // $BandW AS band,
       |    array_to_string(list(mh ORDER BY k), ',') AS bkey
       |  FROM sig GROUP BY doc_id, k // $BandW
       |), cands AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id
       |), sizes AS (
       |  SELECT doc_id, count(*) AS ns FROM sh GROUP BY doc_id
       |), inter AS (
       |  SELECT doc_a, doc_b, count(*) AS inter
       |  FROM cands
       |  JOIN sh a ON a.doc_id = doc_a
       |  JOIN sh b ON b.doc_id = doc_b AND a.s = b.s
       |  GROUP BY doc_a, doc_b
       |)
       |SELECT doc_a, doc_b,
       |  round(inter / (na.ns + nb.ns - inter), 6) AS jaccard
       |FROM inter
       |JOIN sizes na ON na.doc_id = doc_a
       |JOIN sizes nb ON nb.doc_id = doc_b
       |WHERE round(inter / (na.ns + nb.ns - inter), 6) >= $JaccardThreshold
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** L2 audit — the LSH banding recall S-curve: for every ground-truth
    * pair (exact Jaccard over the shared stop-listed inverted index,
    * bucketed by decile), the fraction the band-collision candidate
    * generator recovers. This is the empirical form of the banding
    * design rule P(candidate) = 1−(1−j^r)^b (r=$BandW rows ×
    * b=${MinHashA.size / BandW} bands): ≈1 near j=1, an S-drop through
    * the threshold region, →0 for unrelated pairs. Bucket 0 (pairs
    * sharing ≥1 non-hot shingle but j < 0.1) shows the in-truth
    * false-candidate contrast, and bucket −1 completes the
    * wasted-verify picture: candidate pairs sharing NO non-hot
    * shingle at all (pure-chance or hot-shingle-only band
    * collisions), anti-joined against the truth set — without it the
    * audit would undercount wasted verifies by exactly the pairs the
    * stop-listed index never scores. Re-run whenever the banding parameters change; a recall dip at
    * the target threshold means b/r are mistuned.
    *
    * Determinism: buckets and recall are integer math — bucket =
    * (10·inter) div union, recall in basis points via the shared
    * half-up fixed-point idiom ((2·10000·c+n) div 2n) — so the oracle
    * hash-matches despite being a statistical audit.
    *
    * Scale shape: ground truth rides the memoized stop-listed pair
    * aggregate, candidates ride the banded bucket join, and the audit
    * itself is a pair-keyed equi-join — nothing here is O(n²). At true
    * corpus scale the audit runs on a hash-sampled slice (the
    * q_hash_sample gate) rather than the full corpus; the plan is
    * identical.
    */
  def lshRecall(spark: SparkSession, sfDir: String): DataFrame = {
    val truth = pairScores(spark, sfDir)
      .withColumn("bucket", expr("(10 * inter) div (na + nb - inter)"))
    val caught = minhashCandidates(spark, sfDir).withColumn("hit", lit(1L))
    val byBucket = truth.join(caught, Seq("doc_a", "doc_b"), "left")
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_pairs"),
           sum(coalesce(col("hit"), lit(0L))).as("n_caught"))
      .withColumn("recall_bp", expr("(20000 * n_caught + n_pairs) div (2 * n_pairs)"))
    // Bucket −1: candidates with no truth row at all. "Recall" is
    // trivially 10000 bp (the bander emitted every one of them); the
    // row exists for its n_pairs — the complete wasted-verify count.
    val outside = caught.join(truth, Seq("doc_a", "doc_b"), "left_anti")
      .agg(count(lit(1)).as("n_pairs"))
      .select(lit(-1L).as("bucket"), col("n_pairs"),
              col("n_pairs").as("n_caught"), lit(10000L).as("recall_bp"))
    byBucket.unionByName(outside).orderBy("bucket")
  }

  val lshRecallSql: String = {
    val permRows = MinHashA.zip(MinHashB).zipWithIndex
      .map { case ((a, b), k) => s"($k, $a, $b)" }.mkString(", ")
    s"""WITH $shinglesSql, hashed AS (
       |  SELECT doc_id, ${h32Duck("s")} AS h, s FROM sh
       |), perms(k, a, b) AS (VALUES $permRows),
       |sig AS (
       |  SELECT doc_id, k, min((a * h + b) % $MinHashP) AS mh
       |  FROM hashed CROSS JOIN perms
       |  GROUP BY doc_id, k
       |), bands AS (
       |  SELECT doc_id, k // $BandW AS band,
       |    array_to_string(list(mh ORDER BY k), ',') AS bkey
       |  FROM sig GROUP BY doc_id, k // $BandW
       |), cands AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id
       |), sizes AS (
       |  SELECT doc_id, count(*) AS ns FROM sh GROUP BY doc_id
       |), keep AS (
       |  SELECT s FROM sh GROUP BY s HAVING count(*) <= $HotShingleDf
       |), truth AS (
       |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS inter
       |  FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
       |  JOIN keep k ON k.s = x.s
       |  GROUP BY 1, 2
       |), bk AS (
       |  SELECT (10 * inter) // (na.ns + nb.ns - inter) AS bucket,
       |    t.doc_a, t.doc_b
       |  FROM truth t
       |  JOIN sizes na ON na.doc_id = t.doc_a
       |  JOIN sizes nb ON nb.doc_id = t.doc_b
       |), g AS (
       |  SELECT bucket, count(*) AS n_pairs,
       |    sum(CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_caught
       |  FROM bk LEFT JOIN cands c ON bk.doc_a = c.doc_a AND bk.doc_b = c.doc_b
       |  GROUP BY bucket
       |), outside AS (
       |  SELECT count(*)::BIGINT AS n
       |  FROM cands c LEFT JOIN truth t
       |    ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
       |  WHERE t.doc_a IS NULL
       |)
       |SELECT bucket, n_pairs, n_caught,
       |  (20000 * n_caught + n_pairs) // (2 * n_pairs) AS recall_bp
       |FROM g
       |UNION ALL
       |SELECT -1::BIGINT AS bucket, n AS n_pairs, n AS n_caught,
       |  10000::BIGINT AS recall_bp
       |FROM outside
       |ORDER BY bucket""".stripMargin
  }

  /** First doc_id of the "incoming batch" in the incremental query. */
  val IncrementalFrom = 400L

  /** L2e incremental dedup — the steady-state ingest path: a NEW batch
    * of documents (doc_id >= $IncrementalFrom) is checked against the
    * EXISTING corpus only, never against itself and never corpus ×
    * corpus. This is the shape that matters at 100 TB: the corpus side
    * is a standing shingle INDEX (here the memoized shingle set; in
    * production a bucketed table keyed by shingle), the batch side is
    * small, and the join cost is |batch shingles| probes — independent
    * of corpus size growth per batch. Emits each new doc's best
    * existing match above the Jaccard threshold.
    */
  def incrementalDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val sh = shingles(spark, sfDir)
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("ns"))
    val corpus = sh.where(col("doc_id") < IncrementalFrom)
      .select(col("doc_id").as("old_id"), col("s"))
    val batch = sh.where(col("doc_id") >= IncrementalFrom)
      .select(col("doc_id").as("new_id"), col("s"))
    val inter = batch.join(corpus, "s")
      .groupBy("new_id", "old_id").agg(count(lit(1)).as("inter"))
    val scored = inter // corpus-sized size table: unhinted, see pairScores
      .join(sizes.select(col("doc_id").as("new_id"), col("ns").as("nn")), "new_id")
      .join(sizes.select(col("doc_id").as("old_id"), col("ns").as("no")), "old_id")
      .withColumn("jaccard", round(col("inter") / (col("nn") + col("no") - col("inter")), 6))
      .where(col("jaccard") >= JaccardThreshold)
    // best existing match per new doc (jaccard desc, old_id asc)
    scored.groupBy("new_id")
      .agg(graft.functions.TopKByScore.topK(1, col("jaccard"), col("old_id"), col("inter")).as("m"))
      .select(col("new_id"), col("m")(0).getField("id").as("dup_of"),
              col("m")(0).getField("score").as("jaccard"),
              col("m")(0).getField("extra").as("inter"))
      .orderBy("new_id")
  }

  /** `oldFilter` splices a predicate onto the resident-corpus side —
    * the tombstone-mask variant restricts which residents can match. */
  private def mkIncrementalDedupSql(oldFilter: String): String =
    s"""WITH $shinglesSql, sizes AS (
       |  SELECT doc_id, count(*) AS ns FROM sh GROUP BY doc_id
       |), inter AS (
       |  SELECT b.doc_id AS new_id, c.doc_id AS old_id, count(*) AS inter
       |  FROM sh b JOIN sh c ON b.s = c.s
       |  WHERE b.doc_id >= $IncrementalFrom AND c.doc_id < $IncrementalFrom$oldFilter
       |  GROUP BY 1, 2
       |), scored AS (
       |  SELECT new_id, old_id, inter,
       |    round(inter / (nn.ns + no.ns - inter), 6) AS jaccard
       |  FROM inter
       |  JOIN sizes nn ON nn.doc_id = new_id
       |  JOIN sizes no ON no.doc_id = old_id
       |)
       |SELECT new_id, old_id AS dup_of, jaccard, inter FROM (
       |  SELECT new_id, old_id, jaccard, inter,
       |    row_number() OVER (PARTITION BY new_id ORDER BY jaccard DESC, old_id ASC) AS rk
       |  FROM scored WHERE jaccard >= $JaccardThreshold
       |) WHERE rk = 1
       |ORDER BY new_id""".stripMargin

  val incrementalDedupSql: String = mkIncrementalDedupSql("")

  /** Resident docs with doc_id % DedupTombMod == 0 are tombstoned in
    * the deletion leg (≈9% of the standing corpus). Declared before
    * the SQL val that interpolates it. */
  val DedupTombMod = 11L

  /** Oracle for the deletion leg: the incremental pass against a
    * corpus that never contained the tombstoned residents. */
  val dedupServeDeleteSql: String =
    mkIncrementalDedupSql(s" AND c.doc_id % $DedupTombMod <> 0")

  /** Catalog names for the persisted dedup index, unique +
    * deterministic per fixture dir (the [[graft.operators.Similarity]]
    * serve-index naming discipline). */
  private[graft] def dedupIndexNames(sfDir: String): Map[String, String] =
    Seq("shingles", "sizes").map(n => n -> Sources.serveName(s"dedup_$n", sfDir)).toMap

  /** Build-once: persist the STANDING corpus's dedup index — the
    * inverted shingle index (doc_id < [[IncrementalFrom]]) bucketed by
    * shingle (the probe join key: an arriving batch's shingle join
    * reads only matching buckets and never reshuffles the resident
    * index) and the per-doc shingle sizes bucketed by doc_id. Written
    * once per (session, sfDir) ([[graft.QueryCache.once]]) by
    * [[graft.sources.Sources.publish]] to a warehouse-rooted serve
    * location — the q_ivf_serve pattern applied to the dedup pillar. */
  private[graft] def ensureDedupIndex(spark: SparkSession, sfDir: String): Unit =
    graft.QueryCache.once(spark, s"dedup_serve_written:$sfDir") {
      val names = dedupIndexNames(sfDir)
      val old = shingles(spark, sfDir).where(col("doc_id") < IncrementalFrom)
      Sources.publish(old, names("shingles"), Seq("s"), 8, Seq("s"))
      Sources.publish(old.groupBy("doc_id").agg(count(lit(1)).as("ns")),
        names("sizes"), Seq("doc_id"), 8, Seq("doc_id"))
    }

  /** Serve incremental dedup from the PERSISTED index — the
    * build-once/serve-many leg of the dedup pillar, mirroring
    * [[graft.operators.Similarity.ivfServe]]: the standing corpus's
    * inverted shingle index and size table are written once as
    * bucketed catalog tables ([[ensureDedupIndex]]), and each arriving
    * batch (doc_id ≥ [[IncrementalFrom]], shingled fresh — at serve
    * time new documents arrive raw) joins the RELOADED index for the
    * same best-match output as [[incrementalDedup]], row for row
    * (shared oracle). At 10⁹ resident docs this is the shape a crawl
    * pipeline actually runs: the resident index is a table on disk
    * serving months of daily batches, not a session memo; bucketing by
    * shingle means the batch join never reshuffles the resident side.
    */
  def dedupServe(spark: SparkSession, sfDir: String): DataFrame = {
    ensureDedupIndex(spark, sfDir)
    val names = dedupIndexNames(sfDir)
    serveProbe(spark, sfDir,
      spark.table(names("shingles")), spark.table(names("sizes")),
      col("doc_id") >= IncrementalFrom)
  }

  /** Identical contract to [[incrementalDedupSql]]: serving from the
    * reloaded index must be indistinguishable from the in-session
    * corpus pass. */
  val dedupServeSql: String = incrementalDedupSql

  /** Wave boundary for the GROW leg: batch docs below it are wave 1
    * (admitted into the index if they survive dedup), at/above it
    * wave 2 (deduped against the GROWN index). Declared before the
    * SQL val that interpolates it (init-order discipline). */
  val GrowMid = 450L

  /** Catalog names of the GROW-lineage dedup index — a separate
    * lineage from [[dedupIndexNames]] because growing THOSE tables
    * would silently change q_dedup_serve's corpus. */
  private[graft] def dedupGrowNames(sfDir: String): Map[String, String] =
    Seq("shingles", "sizes").map(n => n -> Sources.serveName(s"dedupgrow_$n", sfDir)).toMap

  /** Build + grow, once per session: persist the standing corpus's
    * inverted shingle index (the [[ensureDedupIndex]] layout, separate
    * lineage), dedup WAVE 1 of the arriving batch against the RELOADED
    * index, and APPEND the SURVIVORS' shingles and sizes into the
    * bucketed tables — the admission step a crawl pipeline runs after
    * each batch's dedup verdict (duplicates are dropped, novel docs
    * join the corpus). The append writes per-bucket files alongside
    * the resident ones (grow-only contract, SourcesSpec-pinned), so
    * the resident 10⁹-doc index is never rewritten. Wave-1 docs are
    * admitted independently (checked against the standing corpus only,
    * not each other — the parallel-admission policy; both engines
    * mirror it exactly). */
  private[graft] def ensureDedupGrow(spark: SparkSession, sfDir: String): Unit =
    graft.QueryCache.once(spark, s"dedup_grow_appended:$sfDir") {
      val names = dedupGrowNames(sfDir)
      writeResidentIndex(spark, sfDir, names)
      // wave 1 dedups against the RELOADED standing index
      admitWave(spark, names,
        shingles(spark, sfDir)
          .where(col("doc_id") >= IncrementalFrom && col("doc_id") < GrowMid))
    }

  /** (Re)write a grow-lineage resident index: the standing corpus's
    * shingles bucketed by shingle and sizes bucketed by doc_id —
    * shared by [[ensureDedupGrow]] and the T13 streaming-admission
    * twin (which grows its OWN lineage, never the registry's). */
  private[graft] def writeResidentIndex(spark: SparkSession, sfDir: String,
      names: Map[String, String]): Unit = {
    val standing = shingles(spark, sfDir).where(col("doc_id") < IncrementalFrom)
      .localCheckpoint() // index write + size write read it
    Sources.publish(standing, names("shingles"), Seq("s"), 8, Seq("s"))
    Sources.publish(standing.groupBy("doc_id").agg(count(lit(1)).as("ns")),
      names("sizes"), Seq("doc_id"), 8, Seq("doc_id"))
  }

  /** ADMIT one wave of (doc_id, s) shingle rows into a grow-lineage
    * index: dedup the wave against the RELOADED resident tables
    * (docs in the wave are checked against the corpus only, not each
    * other — the parallel-admission policy), then APPEND the
    * survivors' shingles and sizes into the bucketed tables. This is
    * the admission step a crawl pipeline runs per batch — and, driven
    * from a Structured Streaming foreachBatch sink, per MICRO-batch
    * (the T13 online twin in StreamingSpec): foreachBatch hands each
    * micro-batch to exactly this function, so stream and batch
    * admission are the same code by construction. */
  private[graft] def admitWave(spark: SparkSession, names: Map[String, String],
      wave0: DataFrame): Unit = {
    val wave = wave0.localCheckpoint() // match pass + survivor append read it
    val corpus = spark.table(names("shingles")).select(col("doc_id").as("old_id"), col("s"))
    val wSizes = wave.groupBy("doc_id").agg(count(lit(1)).as("nn"))
      .select(col("doc_id").as("new_id"), col("nn"))
    val oldSizes = spark.table(names("sizes"))
      .select(col("doc_id").as("old_id"), col("ns").as("no"))
    val dupIds = wave.select(col("doc_id").as("new_id"), col("s"))
      .join(corpus, "s")
      .groupBy("new_id", "old_id").agg(count(lit(1)).as("inter"))
      .join(wSizes, "new_id")
      .join(oldSizes, "old_id")
      .where(round(col("inter") / (col("nn") + col("no") - col("inter")), 6)
        >= JaccardThreshold)
      .select("new_id").distinct()
    val survivors = wave.join(dupIds, wave("doc_id") === dupIds("new_id"), "left_anti")
    Sources.appendBucketedTable(
      survivors.select("doc_id", "s"), names("shingles"), Seq("s"), 8, Seq("s"))
    Sources.appendBucketedTable(
      survivors.groupBy("doc_id").agg(count(lit(1)).as("ns")),
      names("sizes"), Seq("doc_id"), 8, Seq("doc_id"))
    // A foreachBatch sink executes the append through streaming's
    // CLONED session, whose write-side refresh invalidates only the
    // clone's relation cache — the caller's session would keep serving
    // the PRE-append file listing (measured: wave 2 deduped against a
    // stale standing-only corpus and the admitted docs were invisible).
    // Refresh in the session the next wave will read through.
    spark.catalog.refreshTable(names("shingles"))
    spark.catalog.refreshTable(names("sizes"))
  }

  /** Serve dedup from the GROWN index — the dedup pillar's grow leg
    * (the ANN pillar's q_ivf_serve_ingest, transposed): wave 2 of the
    * batch dedups against standing corpus PLUS wave 1's admitted
    * survivors, read entirely from the reloaded bucketed tables. A
    * wave-2 duplicate of a wave-1 novel doc is caught — the property
    * a frozen index misses and the whole point of admission. Output
    * contract matches [[dedupServe]] (best match per wave-2 doc). */
  def dedupServeGrow(spark: SparkSession, sfDir: String): DataFrame = {
    ensureDedupGrow(spark, sfDir)
    val names = dedupGrowNames(sfDir)
    serveProbe(spark, sfDir,
      spark.table(names("shingles")), spark.table(names("sizes")),
      col("doc_id") >= GrowMid)
  }

  /** Oracle: the grown-index dedup recomputed from first principles —
    * wave-1 admission against the standing corpus, then wave 2 vs
    * standing ∪ survivors. */
  val dedupServeGrowSql: String =
    s"""WITH $shinglesSql, sizes AS (
       |  SELECT doc_id, count(*) AS ns FROM sh GROUP BY doc_id
       |), w1dup AS (
       |  SELECT DISTINCT i.new_id FROM (
       |    SELECT b.doc_id AS new_id, c.doc_id AS old_id, count(*) AS inter
       |    FROM sh b JOIN sh c ON b.s = c.s
       |    WHERE b.doc_id >= $IncrementalFrom AND b.doc_id < $GrowMid
       |      AND c.doc_id < $IncrementalFrom
       |    GROUP BY 1, 2
       |  ) i
       |  JOIN sizes nn ON nn.doc_id = i.new_id
       |  JOIN sizes no ON no.doc_id = i.old_id
       |  WHERE round(i.inter / (nn.ns + no.ns - i.inter), 6) >= $JaccardThreshold
       |), idx AS MATERIALIZED (
       |  SELECT doc_id, s FROM sh
       |  WHERE doc_id < $IncrementalFrom
       |     OR (doc_id >= $IncrementalFrom AND doc_id < $GrowMid
       |         AND doc_id NOT IN (SELECT new_id FROM w1dup))
       |), inter AS (
       |  SELECT b.doc_id AS new_id, c.doc_id AS old_id, count(*) AS inter
       |  FROM sh b JOIN idx c ON b.s = c.s
       |  WHERE b.doc_id >= $GrowMid
       |  GROUP BY 1, 2
       |), scored AS (
       |  SELECT new_id, old_id, inter,
       |    round(inter / (nn.ns + no.ns - inter), 6) AS jaccard
       |  FROM inter
       |  JOIN sizes nn ON nn.doc_id = new_id
       |  JOIN sizes no ON no.doc_id = old_id
       |)
       |SELECT new_id, old_id AS dup_of, jaccard, inter FROM (
       |  SELECT new_id, old_id, jaccard, inter,
       |    row_number() OVER (PARTITION BY new_id ORDER BY jaccard DESC, old_id ASC) AS rk
       |  FROM scored WHERE jaccard >= $JaccardThreshold
       |) WHERE rk = 1
       |ORDER BY new_id""".stripMargin

  /** Catalog names of the COMPACTED grow-lineage index and the
    * deletion leg's tombstone table — each its own lineage (the grown
    * and standing serve tables other queries read stay immutable). */
  private[graft] def dedupCompactNames(sfDir: String): Map[String, String] =
    Map("shingles" -> "dedupcmp_shingles", "sizes" -> "dedupcmp_sizes",
        "tombstones" -> "deduptomb_ids")
      .map { case (k, stem) => k -> Sources.serveName(stem, sfDir) }

  /** COMPACT the grown dedup index (r12 verdict #5 — the ANN
    * compactor's pattern transplanted): every admission wave appends
    * its own per-bucket files into the grown shingle/size tables, so
    * after months of batches a bucket is hundreds of fragments.
    * [[graft.sources.Sources.compact]] rewrites each grown table into
    * the minimal one-file-per-bucket layout. A physical rewrite, never
    * a semantic change — the spec pins strictly-fewer files AND
    * bit-identical serve. */
  private[graft] def ensureDedupCompact(spark: SparkSession, sfDir: String): Unit =
    graft.QueryCache.once(spark, s"dedup_grow_compacted:$sfDir") {
      ensureDedupGrow(spark, sfDir)
      val grown = dedupGrowNames(sfDir)
      val names = dedupCompactNames(sfDir)
      Seq("shingles", "sizes").foreach(t => Sources.compact(spark, grown(t), names(t)))
    }

  /** Serve wave-2 dedup from the COMPACTED grown index — must be
    * indistinguishable from [[dedupServeGrow]] (shared oracle),
    * completing the dedup pillar's operational lifecycle: build →
    * grow → compact → serve. */
  def dedupServeCompact(spark: SparkSession, sfDir: String): DataFrame = {
    ensureDedupCompact(spark, sfDir)
    val names = dedupCompactNames(sfDir)
    serveProbe(spark, sfDir,
      spark.table(names("shingles")), spark.table(names("sizes")),
      col("doc_id") >= GrowMid)
  }

  /** Identical contract to [[dedupServeGrowSql]]: a physical rewrite. */
  val dedupServeCompactSql: String = dedupServeGrowSql

  /** Persist the deletion leg's tombstone set — resident doc_ids with
    * doc_id % [[DedupTombMod]] == 0, derived from the persisted SIZE
    * table (one slim id column): like the CF and ANN deletes, a
    * "forget these documents" job needs only the index, never a
    * corpus scan. */
  private[graft] def ensureDedupTombstones(spark: SparkSession, sfDir: String): Unit =
    graft.QueryCache.once(spark, s"dedup_tombstones_written:$sfDir") {
      ensureDedupIndex(spark, sfDir)
      Sources.publish(
        spark.table(dedupIndexNames(sfDir)("sizes"))
          .select("doc_id").where(col("doc_id") % DedupTombMod === 0),
        dedupCompactNames(sfDir)("tombstones"))
    }

  /** Serve incremental dedup with the tombstone table honored at
    * SERVE time (r12 verdict #4, dedup pillar): the resident index
    * and size table anti-join the broadcast tombstone set before the
    * probe, so a deleted resident can never be reported as anyone's
    * duplicate — a batch doc whose best match was tombstoned falls to
    * its next-best surviving match (or to novelty). The oracle
    * recomputes the pass against a corpus that never held the
    * tombstoned docs.
    *
    * Scale: the tombstone set broadcasts; both anti-joins ride the
    * existing bucketed scans — zero new shuffles, zero resident
    * rewrites; the physical erasure is [[ensureDedupCompact]]'s
    * rewrite composed with the same anti-join (the ANN pillar's
    * delete-compact shape, pinned in the spec). */
  def dedupServeDelete(spark: SparkSession, sfDir: String): DataFrame = {
    ensureDedupTombstones(spark, sfDir)
    val idx = dedupIndexNames(sfDir)
    val tomb = broadcast(spark.table(dedupCompactNames(sfDir)("tombstones")))
    serveProbe(spark, sfDir,
      spark.table(idx("shingles")).join(tomb, Seq("doc_id"), "left_anti"),
      spark.table(idx("sizes")).join(tomb, Seq("doc_id"), "left_anti"),
      col("doc_id") >= IncrementalFrom)
  }

  /** The shared batch-vs-resident probe: shingle-join the batch
    * (selected by `batchPred`, shingled fresh) against a resident
    * index + size table, score Jaccard, report the best match per
    * batch doc — the retrieval core of [[dedupServe]],
    * [[dedupServeGrow]], their compacted twin and the deletion leg. */
  private def serveProbe(spark: SparkSession, sfDir: String,
      residentShingles: DataFrame, residentSizes: DataFrame,
      batchPred: org.apache.spark.sql.Column): DataFrame = {
    val corpus = residentShingles.select(col("doc_id").as("old_id"), col("s"))
    val oldSizes = residentSizes.select(col("doc_id").as("old_id"), col("ns").as("no"))
    val batch = shingles(spark, sfDir).where(batchPred)
    val newSizes = batch.groupBy("doc_id").agg(count(lit(1)).as("ns"))
      .select(col("doc_id").as("new_id"), col("ns").as("nn"))
    val inter = batch.select(col("doc_id").as("new_id"), col("s"))
      .join(corpus, "s")
      .groupBy("new_id", "old_id").agg(count(lit(1)).as("inter"))
    val scored = inter // corpus-sized size tables: unhinted, see pairScores
      .join(newSizes, "new_id")
      .join(oldSizes, "old_id")
      .withColumn("jaccard", round(col("inter") / (col("nn") + col("no") - col("inter")), 6))
      .where(col("jaccard") >= JaccardThreshold)
    scored.groupBy("new_id")
      .agg(graft.functions.TopKByScore.topK(1, col("jaccard"), col("old_id"), col("inter")).as("m"))
      .select(col("new_id"), col("m")(0).getField("id").as("dup_of"),
              col("m")(0).getField("score").as("jaccard"),
              col("m")(0).getField("extra").as("inter"))
      .orderBy("new_id")
  }

  /** SimHash bit width. */
  val SimBits = 32
  /** Max Hamming distance for a SimHash near-dup pair. */
  val MaxHamming = 2

  /** Default pigeonhole chunk count: a pair within Hamming ≤
    * [[MaxHamming]] differs in at most $MaxHamming bits, so splitting
    * the signature into MaxHamming+1 chunks guarantees at least one
    * chunk matches EXACTLY — candidate generation becomes an equi-join
    * on (chunk_idx, chunk_val), never an all-pairs scan.
    *
    * [[simhashPairsFromSigs]] generalizes this to any k ≥ MaxHamming+1:
    * m differing bits can dirty at most m chunks, so at least k−m
    * chunks match exactly, and candidates come from equi-joining every
    * (k−m)-chunk combination key — C(k, k−m) keys per doc, buckets
    * geometrically smaller as k grows. k=MaxHamming+1 (one-chunk keys,
    * ~SimBits/3 ≈ 10-bit buckets) is right for this corpus; a 10⁹-doc
    * crawl would run k=5-6 so per-bucket populations stay bounded.
    */
  val SimChunks = MaxHamming + 1

  /** L2c SimHash: ${SimBits}-bit signature — per token-occurrence hash,
    * bit i votes +1/−1; the sign of the vote sum sets bit i. Pairs
    * within Hamming ≤ $MaxHamming emitted.
    *
    * Candidate generation is [[simhashPairsFromSigs]] — generalized
    * k-chunk Hamming-pigeonhole banding (the Manku WWW'07 scheme) —
    * run at the default k = [[SimChunks]] = MaxHamming+1, where the
    * combination keys degenerate to single chunks: ~SimBits/3 ≈
    * 10-bit buckets (≥1024 buckets), one key per chunk. Corpora where
    * D/2^10 per-bucket populations grow too large run the same
    * operator at higher k (DedupScaleSpec pins k=3/4/5 emit identical
    * pair sets; PlanShapeSpec pins the equi-join shape at both k's).
    */
  def simhashPairs(spark: SparkSession, sfDir: String): DataFrame =
    simhashPairsFromSigs(simhashSigs(spark, sfDir), SimChunks)
      .orderBy("doc_a", "doc_b")

  /** The ${SimBits}-bit signatures alone — factored out so banding can
    * run on synthesized corpora (scale specs) and at different k.
    */
  private[graft] def simhashSigs(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = Tables.spread(Tables.documents(spark, sfDir), "doc_id")
      .select(col("doc_id"), explode(split(expr(normSpark), " ")).as("tok"))
      .withColumn("h", expr(h32Spark("tok")))
    // One groupBy(doc_id) with a ±1 vote-sum aggregate per bit: the
    // bit-explode this replaces shuffled |token occurrences|×32 rows
    // through a (doc_id, i) aggregate; here each token row is read
    // once into 32 codegen'd sum slots. Votes (and thus signatures)
    // are identical: same CASE arithmetic per (token, bit).
    val voteCols = (0 until SimBits).map { i =>
      sum(expr(s"CASE WHEN (h div ${1L << i}) % 2 = 1 THEN 1 ELSE -1 END")).as(s"v$i")
    }
    toks.groupBy("doc_id").agg(voteCols.head, voteCols.tail: _*)
      .select(col("doc_id"),
        (0 until SimBits).map(i => when(col(s"v$i") > 0, lit(1L << i)).otherwise(lit(0L)))
          .reduce(_ + _).as("sig"))
  }

  /** k-chunk pigeonhole banding over a (doc_id, sig) frame: emits every
    * pair within Hamming ≤ [[MaxHamming]], exactly — banding only
    * shapes CANDIDATE generation, the final bit_count filter is exact,
    * so the result set is identical for every legal k. Each signature
    * explodes into C(k, k−MaxHamming) (comb_idx, key_val) rows — the
    * chunk values of one (k−MaxHamming)-subset packed into a single
    * long (total width ≤ SimBits, and same comb_idx ⇒ same layout, so
    * packing is injective) — candidates come from a shuffled EQUI-join
    * on those two columns, then exact verification. Non-colliding
    * pairs are never materialized: at 10⁹ docs a signature self-join
    * would plan ~5·10¹⁷ bit_count evaluations; this plans
    * |docs|·C(k, k−m) bucket rows and only intra-bucket pairs.
    * Raising k shrinks buckets geometrically (the keys get wider) at
    * the price of more bucket rows per doc — the standard Manku
    * WWW'07 trade.
    */
  private[graft] def simhashPairsFromSigs(sigs: DataFrame, k: Int): DataFrame =
    simhashCandidatesFromSigs(sigs, k)
      .withColumn("hd", expr("bit_count(sig_a ^ sig_b)"))
      .where(col("hd") <= MaxHamming)
      .select("doc_a", "doc_b", "hd")

  /** The candidate generator alone (deduped colliding pairs, before
    * exact verification) — exposed so the scale spec can measure
    * candidate volume per k against ground truth.
    */
  private[graft] def simhashCandidatesFromSigs(sigs: DataFrame, k: Int): DataFrame = {
    require(k > MaxHamming && k <= SimBits,
      s"simhash chunk count k=$k must be in (${MaxHamming}, $SimBits]")
    val bounds = (0 to k).map(c => c * SimBits / k)
    def chunkVal(c: Int): Column =
      shiftright(col("sig"), bounds(c)).bitwiseAND(lit((1L << (bounds(c + 1) - bounds(c))) - 1L))
    // One packed key per (k−m)-chunk combination. m differing bits
    // dirty ≤ m chunks, so ≥ k−m chunks match exactly — at least one
    // whole combination key collides (pigeonhole over combinations).
    val keyCols = (0 until k).combinations(k - MaxHamming).toSeq.map { combo =>
      combo.foldLeft((lit(0L), 0)) { case ((key, shift), c) =>
        (key + (chunkVal(c) * lit(1L << shift)), shift + (bounds(c + 1) - bounds(c)))
      }._1
    }
    // A pair colliding on several combination keys appears once per
    // collision — dropDuplicates collapses them before verification.
    val keys = sigs.select(col("doc_id"), col("sig"),
      posexplode(array(keyCols: _*)).as(Seq("comb_idx", "key_val")))
    keys.as("x").join(keys.as("y"),
        col("x.comb_idx") === col("y.comb_idx") &&
        col("x.key_val") === col("y.key_val") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        col("x.sig").as("sig_a"), col("y.sig").as("sig_b"))
      .dropDuplicates("doc_a", "doc_b")
  }

  /** SimHash signature CTEs, shared with PipelineOps' cluster oracle. */
  private[operators] val simhashSigsSql: String =
    s"""toks AS (
       |  SELECT doc_id, unnest(string_split($normDuck, ' ')) AS tok FROM documents
       |), hashed AS (
       |  SELECT doc_id, ${h32Duck("tok")} AS h FROM toks
       |), bits AS (
       |  SELECT doc_id, i,
       |    sum(CASE WHEN (h // (2::BIGINT ^ i)::BIGINT) % 2 = 1 THEN 1 ELSE -1 END) AS vote
       |  FROM hashed CROSS JOIN (SELECT unnest(range(0, $SimBits)) AS i)
       |  GROUP BY doc_id, i
       |), sigs AS (
       |  SELECT doc_id,
       |    sum(CASE WHEN vote > 0 THEN (2::BIGINT ^ i)::BIGINT ELSE 0 END)::BIGINT AS sig
       |  FROM bits GROUP BY doc_id
       |)""".stripMargin

  val simhashPairsSql: String =
    s"""WITH $simhashSigsSql
       |SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, bit_count(xor(x.sig, y.sig)) AS hd
       |FROM sigs x JOIN sigs y ON x.doc_id < y.doc_id
       |WHERE bit_count(xor(x.sig, y.sig)) <= $MaxHamming
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Pairs emitted by the embedding near-dup query. */
  val EmbTop = 50

  /** L2d embedding-cosine near-dup: top-$EmbTop closest pairs by cosine
    * over the 64-dim float vectors. Dot/norm fold left-to-right in
    * DOUBLE on both engines (codegen [[graft.functions.FloatDot]] here,
    * list_reduce in DuckDB), so cosines are bit-identical. Brute force
    * is the correctness tier; Similarity.scala holds the LSH scale tier.
    */
  def embeddingNearDup(spark: SparkSession, sfDir: String): DataFrame = {
    import VectorFunctions.{floatDot, floatNorm}
    // spread the stream side: the quadratic dot-product loop otherwise
    // runs on the small file's single scan task (r13, Tables.spread)
    val e = Tables.spread(Tables.embeddings(spark, sfDir), "vec_id")
      .select(col("vec_id"), col("embedding"), floatNorm(col("embedding")).as("nrm"))
    e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .withColumn("cos", round(
        floatDot(col("a.embedding"), col("b.embedding"))
          / (col("a.nrm") * col("b.nrm")), 6))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"), col("cos"))
      .orderBy(col("cos").desc, col("vec_a").asc, col("vec_b").asc)
      .limit(EmbTop)
  }

  val embeddingNearDupSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, embedding,
       |    ${VectorFunctions.duckNorm("embedding")} AS nrm
       |  FROM embeddings
       |)
       |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |  round(${VectorFunctions.duckDot("a.embedding", "b.embedding")}
       |    / (a.nrm * b.nrm), 6) AS cos
       |FROM e a JOIN e b ON a.vec_id < b.vec_id
       |ORDER BY cos DESC, vec_a ASC, vec_b ASC
       |LIMIT $EmbTop""".stripMargin

  /** Bloom bitset size (power of two) and hash count for [[bloomDedup]];
    * sized for the corpus-side key count at every local SF (fp rate
    * ≈ (k·n/m)^k ≈ 1e-9 here — at 100 TB you'd size m from the corpus
    * key count the same way, a few GB of broadcast for 10^10 keys).
    */
  val BloomNumBits = 1 << 16
  val BloomNumHashes = 4
  /** The retried-ingest batch starts here (overlaps the < IncrementalFrom
    * corpus by [BloomBatchFrom, IncrementalFrom) — the idempotent-replay
    * scenario the guard exists for).
    */
  val BloomBatchFrom = 300L

  /** L1-incremental re-ingestion guard with a Bloom prefilter: a retried
    * batch (doc_id ≥ [[BloomBatchFrom]], overlapping the already-loaded
    * corpus) is checked for content already ingested. The corpus key
    * set aggregates into a [[graft.functions.BloomAgg]] bitset —
    * deterministic (bit-OR, order-independent) unlike a count sketch —
    * which broadcasts into the batch scan; only bloom-POSITIVE rows
    * probe the exact corpus key join (false positives resolve there,
    * and bloom misses are PROVABLY new, never joined). Output is the
    * exact verdict per batch doc, so the oracle is the plain two-CTE
    * formulation with no bloom at all. At 100 TB the bitset (GBs) fits
    * where the key set (TBs) doesn't — the probe side of the join drops
    * from |batch| to |dups| + fp·|batch|.
    */
  def bloomDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val keyed = Tables.documents(spark, sfDir)
      .select(col("doc_id"), expr(s"md5($normSpark)").as("key"))
      .withColumn("k64", expr("cast(conv(substring(key, 1, 15), 16, 10) AS bigint)"))
    val corpus = keyed.where(col("doc_id") < IncrementalFrom)
    val batch = keyed.where(col("doc_id") >= BloomBatchFrom)
      .select(col("doc_id").as("new_id"), col("key"), col("k64"))
    val bf = corpus.agg(graft.functions.Bloom.bloomAgg(
      BloomNumBits, BloomNumHashes, col("k64")).as("bf"))
    val cmin = corpus.groupBy("key").agg(min("doc_id").as("dup_of"))
      .withColumnRenamed("key", "ckey")
    batch.crossJoin(broadcast(bf))
      .withColumn("candidate",
        graft.functions.Bloom.mightContain(col("bf"), col("k64"), BloomNumHashes))
      // bloom miss ⇒ definitely new: the membership bit is part of the
      // join condition, so non-candidates never probe the corpus keys.
      // The key set itself is corpus-sized (the scaladoc's TBs-at-100TB
      // side) — unhinted so AQE broadcasts it only while it is small
      .join(cmin, col("key") === col("ckey") && col("candidate"), "left")
      .select(col("new_id"), col("dup_of"),
        when(col("dup_of").isNotNull, 1L).otherwise(0L).as("is_dup"))
      .orderBy("new_id")
  }

  val bloomDedupSql: String =
    s"""WITH k AS (
       |  SELECT doc_id, md5($normDuck) AS key FROM documents
       |), c AS (
       |  SELECT key, min(doc_id) AS dup_of FROM k WHERE doc_id < $IncrementalFrom GROUP BY key
       |), b AS (
       |  SELECT doc_id AS new_id, key FROM k WHERE doc_id >= $BloomBatchFrom
       |)
       |SELECT new_id, c.dup_of,
       |  (CASE WHEN c.dup_of IS NULL THEN 0 ELSE 1 END)::BIGINT AS is_dup
       |FROM b LEFT JOIN c USING (key)
       |ORDER BY new_id""".stripMargin

  /** Character-window width for the substring tier. */
  val SubW = 40
  /** Content-defined selection: keep windows whose hash ≡ 0 mod this. */
  val SubSel = 8
  /** Minimum shared selected windows for a reported pair. */
  val SubMinShared = 2
  /** Stop-list: windows shared by more docs than this are boilerplate
    * and excluded from pair generation (the HotShingleDf analogue). */
  val SubHotDf = 1000

  /** L2e exact-substring near-dup (the Lee et al. "Deduplicating
    * Training Data" signal, SQL-shaped): two docs are flagged when they
    * share ≥ [[SubMinShared]] exact [[SubW]]-char windows of normalized
    * text. Every window position is hashed and a deterministic 1/
    * [[SubSel]] CONTENT-DEFINED sample (h ≡ 0 mod [[SubSel]]) is kept —
    * selection by content, not position, so a copied span is sampled
    * identically in both copies regardless of alignment shift (the
    * winnowing idea). Pair generation is the inverted-index + PairPack
    * path of the Jaccard tier, never a doc×doc join; at 100 TB the
    * window stream is ~len/[[SubSel]] rows per doc and shards by window
    * hash. A true suffix-array dedup finds unaligned overlaps ≥ W with
    * stride-free guarantees; this tier trades that completeness for a
    * shuffle-only plan — the standard production compromise.
    */
  def substringDedup(spark: SparkSession, sfDir: String): DataFrame = {
    // r13 (guide §1.2 step 2, per-task work): select window positions INSIDE
    // the array world — the old shape materialized every window as a
    // generator output row and md5-filtered afterwards, paying row
    // construction for the 7/8 of windows the content-defined sample
    // drops. The filter runs on positions (ints), so only selected
    // windows become rows; the md5 per window (the selection function,
    // pinned by the oracle) is unchanged and still paid once per
    // position. Selected windows recompute their substring once more
    // (1/SubSel of positions) — far cheaper than the dropped rows.
    val wins = Tables.spread(Tables.documents(spark, sfDir), "doc_id")
      .withColumn("norm", expr(normSpark))
      .where(length(col("norm")) >= SubW)
      .select(col("doc_id"),
        explode(expr(
          s"""transform(
             |  filter(sequence(1, length(norm) - ${SubW - 1}),
             |         i -> ${h32Spark(s"substring(norm, i, $SubW)")} % $SubSel = 0),
             |  i -> substring(norm, i, $SubW))""".stripMargin)).as("w"))
    // one hash-shuffle: collect_set dedups (doc, window) inside the
    // window groups, replacing the old distinct-then-collect_list two
    // -exchange chain (sorted set == sorted distinct list)
    val pairs = wins.groupBy("w")
      .agg(sort_array(collect_set(col("doc_id"))).as("ds"))
      .where(size(col("ds")).between(2, SubHotDf))
      .select(explode(graft.functions.PairPack.pairPack(col("ds"))).as("pk"))
      .groupBy("pk").agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= SubMinShared)
    pairs
      .withColumn("doc_a", shiftright(col("pk"), 32))
      .withColumn("doc_b", col("pk").bitwiseAND(graft.functions.PairPack.Base - 1L))
      .select("doc_a", "doc_b", "n_shared")
      .orderBy("doc_a", "doc_b")
  }

  val substringDedupSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, $normDuck AS norm FROM documents
       |), wins AS (
       |  SELECT DISTINCT doc_id, w FROM (
       |    SELECT doc_id,
       |      unnest(list_transform(range(1, length(norm) - ${SubW - 2}),
       |                            i -> substr(norm, i, $SubW))) AS w
       |    FROM d WHERE length(norm) >= $SubW
       |  )
       |), sel AS (
       |  SELECT doc_id, w FROM wins WHERE ${h32Duck("w")} % $SubSel = 0
       |), keep AS (
       |  SELECT w FROM sel GROUP BY w HAVING count(*) BETWEEN 2 AND $SubHotDf
       |), pairs AS (
       |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS n_shared
       |  FROM sel x JOIN sel y ON x.w = y.w AND x.doc_id < y.doc_id
       |  JOIN keep k ON k.w = x.w
       |  GROUP BY 1, 2
       |)
       |SELECT doc_a, doc_b, n_shared FROM pairs
       |WHERE n_shared >= $SubMinShared
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Max edit distance for a fuzzy name match. */
  val FuzzyMaxEdit = 3
  /** Fuzzy pairs reported. */
  val FuzzyTop = 100

  /** Fuzzy entity resolution over the part-name vocabulary: distinct
    * names, blocked on their first character, pairwise Levenshtein
    * within a block, matches at edit distance 1..[[FuzzyMaxEdit]]
    * (0 = exact duplicate, handled by the exact tier). The classic
    * blocking-then-verify ER shape: the block key turns an O(n²)
    * all-pairs comparison into Σ per-block n², and the distinct-name
    * projection first collapses the catalog (2k parts → 64 names at
    * sf0.01) so the quadratic runs on the VOCABULARY, not the rows.
    * Production ER adds more blocking passes (token sort, phonetic) —
    * same plan shape per pass. Edit distance is exact integer DP in
    * both engines.
    */
  def fuzzyNames(spark: SparkSession, sfDir: String): DataFrame = {
    val names = Tables.part(spark, sfDir)
      .groupBy(col("p_name")).agg(count(lit(1)).as("n_parts"))
      .withColumn("blk", substring(col("p_name"), 1, 1))
    val a = names.select(col("blk"), col("p_name").as("name_a"), col("n_parts").as("n_parts_a"))
    val b = names.select(col("blk"), col("p_name").as("name_b"), col("n_parts").as("n_parts_b"))
    val pairs = a.join(b, Seq("blk"))
      .where(col("name_a") < col("name_b"))
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
      .where(col("dist").between(1, FuzzyMaxEdit))
    val top = pairs
      .orderBy(col("dist").asc, col("name_a").asc, col("name_b").asc)
      .limit(FuzzyTop)
    top.withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("dist").asc, col("name_a").asc, col("name_b").asc)))
      .select("rk", "name_a", "name_b", "dist", "n_parts_a", "n_parts_b")
      .orderBy("rk")
  }

  val fuzzyNamesSql: String =
    s"""WITH names AS (
       |  SELECT p_name, count(*) AS n_parts, substr(p_name, 1, 1) AS blk
       |  FROM part GROUP BY p_name
       |), pairs AS (
       |  SELECT a.p_name AS name_a, b.p_name AS name_b,
       |    levenshtein(a.p_name, b.p_name) AS dist,
       |    a.n_parts AS n_parts_a, b.n_parts AS n_parts_b
       |  FROM names a JOIN names b
       |    ON a.blk = b.blk AND a.p_name < b.p_name
       |  WHERE levenshtein(a.p_name, b.p_name) BETWEEN 1 AND $FuzzyMaxEdit
       |)
       |SELECT rk, name_a, name_b, dist, n_parts_a, n_parts_b FROM (
       |  SELECT name_a, name_b, dist, n_parts_a, n_parts_b,
       |    row_number() OVER (ORDER BY dist ASC, name_a ASC, name_b ASC) AS rk
       |  FROM pairs
       |) WHERE rk <= $FuzzyTop
       |ORDER BY rk""".stripMargin

  /** Force-build the memoized shingle set and the persisted dedup
    * index (built once, served many — the write IS the warmup). */
  def warm(spark: SparkSession, sfDir: String): Unit = {
    shingles(spark, sfDir).count()
    ensureDedupIndex(spark, sfDir)
    // the grow lineage: standing build + wave-1 admission append
    ensureDedupGrow(spark, sfDir)
    // r14: the r13-build delete/compact lifecycle stores, previously
    // missing here — their one-time writes ran inside the first timed
    // query run (see Similarity.warm's r14 note)
    ensureDedupTombstones(spark, sfDir)
    ensureDedupCompact(spark, sfDir)
  }

  /** Containment threshold (|A∩B| / |A|). */
  val ContainThreshold = 0.4

  /** Asymmetric containment similarity C(A→B) = |A∩B| / |A| over the
    * shared shingle set — the sub-document detector: a short document
    * quoted inside a long one scores high containment while its
    * Jaccard stays low (the union washes it out), which is why corpus
    * pipelines run BOTH tiers (Broder's containment vs resemblance
    * distinction). Rides the same memoized shingle table and PairPack
    * inverted index as the Jaccard tier — zero new shuffles beyond the
    * pair aggregate — and emits each qualifying DIRECTED edge.
    */
  def containment(spark: SparkSession, sfDir: String): DataFrame = {
    val sh = shingles(spark, sfDir)
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("ns"))
    val inter = sh.groupBy("s")
      .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
      .where(size(col("ds")) <= HotShingleDf)
      .select(explode(graft.functions.PairPack.pairPack(col("ds"))).as("pk"))
      .groupBy("pk").agg(count(lit(1)).as("inter"))
      .withColumn("doc_a", shiftright(col("pk"), 32))
      .withColumn("doc_b", col("pk").bitwiseAND(graft.functions.PairPack.Base - 1L))
      .drop("pk")
    val directed = inter.select(col("doc_a").as("src"), col("doc_b").as("dst"), col("inter"))
      .unionByName(inter.select(col("doc_b").as("src"), col("doc_a").as("dst"), col("inter")))
    directed // corpus-sized size table: unhinted, see pairScores
      .join(sizes.select(col("doc_id").as("src"), col("ns").as("n_src")), "src")
      .withColumn("containment", round(col("inter") / col("n_src"), 6))
      .where(col("containment") >= ContainThreshold)
      .select(col("src").as("doc_contained"), col("dst").as("doc_container"),
              col("inter"), col("n_src"), col("containment"))
      .orderBy("doc_contained", "doc_container")
  }

  val containmentSql: String =
    s"""WITH $shinglesSql, sizes AS (
       |  SELECT doc_id, count(*) AS ns FROM sh GROUP BY doc_id
       |), keep AS (
       |  SELECT s FROM sh GROUP BY s HAVING count(*) <= $HotShingleDf
       |), inter AS (
       |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS inter
       |  FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
       |  JOIN keep k ON k.s = x.s
       |  GROUP BY 1, 2
       |), directed AS (
       |  SELECT doc_a AS src, doc_b AS dst, inter FROM inter
       |  UNION ALL
       |  SELECT doc_b AS src, doc_a AS dst, inter FROM inter
       |)
       |SELECT d.src AS doc_contained, d.dst AS doc_container,
       |  d.inter, z.ns AS n_src,
       |  round(d.inter / z.ns::DOUBLE, 6) AS containment
       |FROM directed d JOIN sizes z ON z.doc_id = d.src
       |WHERE round(d.inter / z.ns::DOUBLE, 6) >= $ContainThreshold
       |ORDER BY doc_contained, doc_container""".stripMargin

  /** Pairwise SOURCE-overlap matrix: n-gram Jaccard and containment
    * between whole sources — the "is crawl B a re-crawl / subset of
    * crawl A" diagnostic that decides whether two feeds should even
    * coexist in the mix (doc-level dedup then handles the remainder).
    * Rides the memoized shingle set; a gram contributes through its
    * DISTINCT source list (≤ |sources| entries), so pair expansion is
    * bounded by S² per gram no matter how hot the gram — the
    * hot-shingle problem that needs a stop-list at doc granularity
    * vanishes at source granularity. Output is all overlapping source
    * pairs with intersection size, Jaccard, and containment
    * (inter / min side — 1.0 means the smaller source's gram set is
    * fully inside the larger).
    *
    * Scale: one (source, gram) dedup shuffle, one per-gram aggregate,
    * S² - bounded pair rows, |sources|-row count table broadcast. */
  def sourceOverlap(spark: SparkSession, sfDir: String): DataFrame = {
    val src = graft.Tables.documents(spark, sfDir).select("doc_id", "source")
    // r10 rescan sever: the per-source totals and the cross-source
    // pair aggregate both consume the distinct (source, shingle) set —
    // severed once (documents ×4 in the r9 plan)
    val sg = shingles(spark, sfDir).join(src, "doc_id")
      .select("source", "s").distinct()
      .localCheckpoint()
    val perSrc = sg.groupBy("source").agg(count(lit(1)).as("n"))
    val pairs = sg.groupBy("s")
      .agg(sort_array(collect_set(col("source"))).as("ss"))
      .where(size(col("ss")) > 1)
      .select(explode(expr(
        """flatten(transform(ss, (x, i) ->
          |  transform(slice(ss, i + 2, size(ss) - i - 1), y ->
          |    named_struct('src_a', x, 'src_b', y))))""".stripMargin)).as("p"))
      .select(col("p.src_a").as("src_a"), col("p.src_b").as("src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("inter"))
    pairs
      .join(broadcast(perSrc.select(col("source").as("src_a"), col("n").as("na"))), "src_a")
      .join(broadcast(perSrc.select(col("source").as("src_b"), col("n").as("nb"))), "src_b")
      .select(col("src_a"), col("src_b"), col("inter"),
        round(col("inter") / (col("na") + col("nb") - col("inter")), 6).as("jaccard"),
        round(col("inter") / least(col("na"), col("nb")), 6).as("containment"))
      .orderBy("src_a", "src_b")
  }

  val sourceOverlapSql: String =
    s"""WITH $shinglesSql, sg AS (
       |  SELECT DISTINCT d.source, sh.s
       |  FROM sh JOIN documents d USING (doc_id)
       |), per AS (
       |  SELECT source, count(*) AS n FROM sg GROUP BY source
       |), pairs AS (
       |  SELECT a.source AS src_a, b.source AS src_b, count(*) AS inter
       |  FROM sg a JOIN sg b ON a.s = b.s AND a.source < b.source
       |  GROUP BY 1, 2
       |)
       |SELECT src_a, src_b, inter,
       |  round(inter / (pa.n + pb.n - inter)::DOUBLE, 6) AS jaccard,
       |  round(inter / least(pa.n, pb.n)::DOUBLE, 6) AS containment
       |FROM pairs
       |JOIN per pa ON pa.source = src_a
       |JOIN per pb ON pb.source = src_b
       |ORDER BY src_a, src_b""".stripMargin

  /** Sorted-neighborhood comparison window (records checked against
    * their w successors in sort order). */
  val SnWindow = 3
  /** Edit-distance match ceiling for a candidate pair. */
  val SnMaxEdit = 3

  /** Sorted-neighborhood entity-resolution blocking (Hernández &
    * Stolfo 1995), MULTI-PASS as production ER actually runs it: sort
    * the distinct part names under two independent deterministic keys
    * — pass 1 the name itself (first-letter blocks), pass 2 the
    * REVERSED name (last-letter blocks, the classic second key: a typo
    * in the first characters moves a record across pass-1 blocks but
    * leaves its reversed sort position adjacent) — compare each name
    * ONLY to its [[SnWindow]] successors per pass via lead(), union
    * the candidate pairs, then verify once with edit distance ≤
    * [[SnMaxEdit]]. The complement of [[fuzzyNames]]' block-join: that
    * tier compares all pairs inside a block (quadratic in block size,
    * complete within the edit radius); this one is strictly linear —
    * n·w·passes comparisons however skewed the blocks — at the cost
    * of missing pairs BOTH sort orders separate. `n_passes` records
    * how many passes surfaced each survivor (the standard multi-pass
    * audit column).
    *
    * Scale: ONE distinct-names aggregate fans out to (pass, key) rows
    * map-side (no second scan); per-(pass, block) parallel windows
    * with a BOUNDED frame (lead 1..w); candidates dedup on the
    * canonical pair before the per-row edit-distance verify. No pair
    * table ever exceeds n·w·2 rows; blocks shard every sort.
    */
  def sortedNeighborhood(spark: SparkSession, sfDir: String): DataFrame =
    sortedNeighborhoodOf(Tables.part(spark, sfDir).select(col("p_name")).distinct())

  /** Frame-parameterized core of [[sortedNeighborhood]] over a
    * `p_name` column (exposed so the spec can plant a pair only the
    * reversed-key pass can find). */
  private[graft] def sortedNeighborhoodOf(names: DataFrame): DataFrame =
    snCandidatesOf(names)
      .where(col("dist").between(1, SnMaxEdit))
      .select("name_a", "name_b", "n_passes", "dist")
      .orderBy("name_a", "name_b")

  /** The UNVERIFIED two-pass candidate set (every pair either sort
    * order put within the window, with pass count and edit distance,
    * no match filter) — shared by the edit-distance verify above and
    * the Fellegi–Sunter linkage scorer, which needs the non-matches
    * too (they estimate its u-probabilities). */
  private[graft] def snCandidatesOf(names: DataFrame): DataFrame = {
    val keyed = names
      .select(col("p_name"), explode(array(
        struct(lit(1).as("pass"), col("p_name").as("k")),
        struct(lit(2).as("pass"), reverse(col("p_name")).as("k")))).as("e"))
      .select(col("p_name"), col("e.pass").as("pass"), col("e.k").as("k"))
      .withColumn("blk", substring(col("k"), 1, 1))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("pass", "blk").orderBy("k")
    keyed
      .withColumn("nbrs",
        array((1 to SnWindow).map(j => lead(col("p_name"), j).over(w)): _*))
      .select(col("pass"), col("p_name").as("x"), explode(col("nbrs")).as("y"))
      .where(col("y").isNotNull)
      .select(col("pass"), least(col("x"), col("y")).as("name_a"),
              greatest(col("x"), col("y")).as("name_b"))
      .distinct()
      .groupBy("name_a", "name_b")
      .agg(count(lit(1)).cast("int").as("n_passes"))
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
  }

  val sortedNeighborhoodSql: String = {
    val leads = (1 to SnWindow).map { k =>
      s"""SELECT pass, p_name AS x,
         |    lead(p_name, $k) OVER (PARTITION BY pass, blk ORDER BY k) AS y
         |  FROM keyed""".stripMargin
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH names AS (
       |  SELECT DISTINCT p_name FROM part
       |), keyed AS (
       |  SELECT p_name, pass,
       |    CASE WHEN pass = 1 THEN p_name ELSE reverse(p_name) END AS k,
       |    substr(CASE WHEN pass = 1 THEN p_name ELSE reverse(p_name) END, 1, 1) AS blk
       |  FROM names, (VALUES (1), (2)) AS t(pass)
       |), leads AS (
       |  $leads
       |), cand AS (
       |  SELECT DISTINCT pass, least(x, y) AS name_a, greatest(x, y) AS name_b
       |  FROM leads WHERE y IS NOT NULL
       |), uni AS (
       |  SELECT name_a, name_b, count(*) AS n_passes FROM cand GROUP BY 1, 2
       |)
       |SELECT name_a, name_b, n_passes::INTEGER AS n_passes,
       |  levenshtein(name_a, name_b)::INTEGER AS dist
       |FROM uni
       |WHERE levenshtein(name_a, name_b) BETWEEN 1 AND $SnMaxEdit
       |ORDER BY name_a, name_b""".stripMargin
  }

  /** m-probability (P(field agrees | true match)) for every linkage
    * field — the classic 0.9 default; a production deployment learns
    * these by EM over labeled pairs. Kept as two EXACT decimal
    * constants so both engines parse the identical double. */
  val RlM = 0.9
  val RlM1 = 0.1
  /** Pairs reported by the linkage scorer. */
  val RlTop = 50

  /** Probabilistic record linkage (Fellegi & Sunter 1969) over the
    * two-pass sorted-neighborhood candidate set — the SCORING layer
    * above the blocking tiers: each candidate pair gets an agreement
    * vector (edit distance within [[SnMaxEdit]]; same first token;
    * length within 2), and a log-likelihood match weight
    * w = Σ_k a_k·log₂(m/u_k) + (1−a_k)·log₂((1−m)/(1−u_k)).
    * m is the standard 0.9 prior; each field's u-probability
    * (P(agree | non-match)) is estimated from the candidate set
    * itself — candidate pairs are overwhelmingly non-matches, the
    * standard unlabeled approximation — with Laplace smoothing
    * (Σa+1)/(n+2) so a field that always/never agrees cannot produce
    * an infinite weight. Ranks the [[RlTop]] strongest pairs on the
    * ROUNDED weight (house rule) with a name tie-break.
    *
    * Scale: candidates are the linear n·w·2 sorted-neighborhood set
    * (never a pair cross-product); the u-estimates are one 1-row
    * aggregate broadcast back; scoring is map-side; the head is a
    * bounded rank. */
  def recordLinkage(spark: SparkSession, sfDir: String): DataFrame = {
    val cand = snCandidatesOf(Tables.part(spark, sfDir).select(col("p_name")).distinct())
      .withColumn("a_edit", (col("dist") <= SnMaxEdit).cast("int"))
      .withColumn("a_tok", (substring_index(col("name_a"), " ", 1) ===
        substring_index(col("name_b"), " ", 1)).cast("int"))
      .withColumn("a_len",
        (abs(length(col("name_a")) - length(col("name_b"))) <= 2).cast("int"))
    val u = cand.agg(count(lit(1)).as("n"),
      sum("a_edit").as("se"), sum("a_tok").as("st"), sum("a_len").as("sl"))
    def uOf(s: Column) = (s + 1.0) / (col("n") + 2.0)
    def term(a: Column, s: Column) =
      when(a === 1, log2(lit(RlM) / uOf(s)))
        .otherwise(log2(lit(RlM1) / (lit(1.0) - uOf(s))))
    val scored = cand.crossJoin(broadcast(u))
      .withColumn("weight", round(
        term(col("a_edit"), col("se")) + term(col("a_tok"), col("st")) +
          term(col("a_len"), col("sl")), 4))
    scored
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("weight").desc, col("name_a").asc, col("name_b").asc)))
      .where(col("rk") <= RlTop)
      .select("rk", "name_a", "name_b", "n_passes", "dist",
              "a_edit", "a_tok", "a_len", "weight")
      .orderBy("rk")
  }

  val recordLinkageSql: String = {
    val leads = (1 to SnWindow).map { k =>
      s"""SELECT pass, p_name AS x,
         |    lead(p_name, $k) OVER (PARTITION BY pass, blk ORDER BY k) AS y
         |  FROM keyed""".stripMargin
    }.mkString("\n  UNION ALL\n  ")
    def uOf(s: String) = s"(($s + 1.0) / (n + 2.0))"
    def term(a: String, s: String) =
      s"(CASE WHEN $a = 1 THEN log2($RlM / ${uOf(s)}) " +
        s"ELSE log2($RlM1 / (1.0 - ${uOf(s)})) END)"
    s"""WITH names AS (
       |  SELECT DISTINCT p_name FROM part
       |), keyed AS (
       |  SELECT p_name, pass,
       |    CASE WHEN pass = 1 THEN p_name ELSE reverse(p_name) END AS k,
       |    substr(CASE WHEN pass = 1 THEN p_name ELSE reverse(p_name) END, 1, 1) AS blk
       |  FROM names, (VALUES (1), (2)) AS t(pass)
       |), leads AS (
       |  $leads
       |), cand0 AS (
       |  SELECT DISTINCT pass, least(x, y) AS name_a, greatest(x, y) AS name_b
       |  FROM leads WHERE y IS NOT NULL
       |), uni AS (
       |  SELECT name_a, name_b, count(*)::INTEGER AS n_passes FROM cand0 GROUP BY 1, 2
       |), c AS (
       |  SELECT name_a, name_b, n_passes,
       |    levenshtein(name_a, name_b)::INTEGER AS dist,
       |    CASE WHEN levenshtein(name_a, name_b) <= $SnMaxEdit THEN 1 ELSE 0 END AS a_edit,
       |    CASE WHEN string_split(name_a, ' ')[1] = string_split(name_b, ' ')[1]
       |         THEN 1 ELSE 0 END AS a_tok,
       |    CASE WHEN abs(length(name_a) - length(name_b)) <= 2 THEN 1 ELSE 0 END AS a_len
       |  FROM uni
       |), u AS (
       |  SELECT count(*) AS n, sum(a_edit) AS se, sum(a_tok) AS st, sum(a_len) AS sl
       |  FROM c
       |), s AS (
       |  SELECT c.name_a, c.name_b, c.n_passes, c.dist,
       |    c.a_edit::INTEGER AS a_edit, c.a_tok::INTEGER AS a_tok,
       |    c.a_len::INTEGER AS a_len,
       |    round(${term("a_edit", "se")} + ${term("a_tok", "st")}
       |          + ${term("a_len", "sl")}, 4) AS weight
       |  FROM c CROSS JOIN u
       |)
       |SELECT rk, name_a, name_b, n_passes, dist, a_edit, a_tok, a_len, weight FROM (
       |  SELECT *, row_number() OVER (ORDER BY weight DESC, name_a ASC, name_b ASC) AS rk
       |  FROM s
       |) WHERE rk <= $RlTop
       |ORDER BY rk""".stripMargin
  }

  /** Rows reported by the novelty audit (most-derivative docs first). */
  val NoveltyTop = 25

  /** Per-document n-gram novelty: the fraction of a document's
    * distinct shingles whose FIRST corpus occurrence (minimum doc_id
    * on the shingle's posting list) is the document itself. Low
    * novelty = the document is assembled from n-grams already seen in
    * earlier documents — the "derivative content" signal that ranks
    * removal candidates where near-dup tiers (which need one LARGE
    * shared n-gram mass with a single partner) stay silent. Emits the
    * [[NoveltyTop]] most-derivative documents.
    *
    * Scale: one aggregate over the memoized shingle set builds the
    * first-occurrence index; one shingle-keyed equi-join + per-doc
    * aggregate scores every document. Linear end to end — never a
    * doc×doc comparison.
    */
  def ngramNovelty(spark: SparkSession, sfDir: String): DataFrame = {
    val sh = shingles(spark, sfDir)
    val first = sh.groupBy("s").agg(min("doc_id").as("first_doc"))
    sh.join(first, "s")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
           sum((col("first_doc") < col("doc_id")).cast("long")).as("n_seen"))
      .withColumn("novelty",
        round(lit(1.0) - col("n_seen").cast("double") / col("n_shingles"), 6))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("novelty").asc, col("doc_id").asc)))
      .where(col("rk") <= NoveltyTop)
      .select("rk", "doc_id", "n_shingles", "n_seen", "novelty")
      .orderBy("rk")
  }

  val ngramNoveltySql: String =
    s"""WITH $shinglesSql, first AS (
       |  SELECT s, min(doc_id) AS first_doc FROM sh GROUP BY s
       |), per AS (
       |  SELECT sh.doc_id, count(*) AS n_shingles,
       |    sum(CASE WHEN f.first_doc < sh.doc_id THEN 1 ELSE 0 END)::BIGINT AS n_seen
       |  FROM sh JOIN first f ON f.s = sh.s
       |  GROUP BY 1
       |), scored AS (
       |  SELECT doc_id, n_shingles, n_seen,
       |    round(1.0 - n_seen / n_shingles::DOUBLE, 6) AS novelty
       |  FROM per
       |)
       |SELECT rk, doc_id, n_shingles, n_seen, novelty FROM (
       |  SELECT doc_id, n_shingles, n_seen, novelty,
       |    row_number() OVER (ORDER BY novelty ASC, doc_id ASC) AS rk
       |  FROM scored
       |) WHERE rk <= $NoveltyTop
       |ORDER BY rk""".stripMargin

  /** Candidate floor (shared shingles) and report floor for the
    * IDF-weighted tier. */
  val WJacMinInter = 2
  val WJacThreshold = 0.2

  /** IDF-weighted Jaccard: near-dup similarity where each shingle
    * counts its CORPUS INFORMativeness, w(s) = ln(D/df(s)), so two
    * documents sharing rare content score high while shared
    * boilerplate (high-df shingles) contributes almost nothing —
    * the weighting that separates true near-dups from
    * template-siblings once a real crawl's boilerplate floods the
    * plain-Jaccard numerator. sim = Σ_{A∩B} w / Σ_{A∪B} w, union via
    * inclusion–exclusion from per-doc weight sums.
    *
    * Scale: the candidate set comes from the memoized stop-listed
    * pair aggregate ([[pairScores]] — banding infrastructure, never
    * O(n²)); the exact intersection re-score is the standard
    * candidate→verify join, bounded by candidate count; the IDF and
    * per-doc weight tables are one aggregate each over the memoized
    * shingle set. The stop-list makes candidate GENERATION ignore
    * boilerplate-only pairs — exactly the pairs this scorer would
    * zero anyway — and the oracle applies the SAME stop-list in its
    * candidate CTE (df ≤ [[HotShingleDf]], floor counted on non-hot
    * shingles only, re-score over all), so engine and oracle stay
    * equivalent BY CONSTRUCTION at any corpus size, not by fixture
    * df luck.
    */
  def jaccardIdf(spark: SparkSession, sfDir: String): DataFrame = {
    val sh = shingles(spark, sfDir)
    val idf = sh.groupBy("s").agg(count(lit(1)).as("df"))
    val nDocs = sh.select(countDistinct("doc_id").as("d"))
    // sever the shared weight tables (r13, guide §2.4 compute shared
    // state once): idfW feeds the per-doc sums AND the verify join,
    // docW attaches twice (wa/wb) — without the checkpoints each
    // consumer re-ran the full shingle aggregate (measured: the idf
    // subtree built twice at ~1.3 s each, the docW one twice more)
    val idfW = idf.crossJoin(broadcast(nDocs))
      .select(col("s"), log(col("d").cast("double") / col("df")).as("w"))
      .localCheckpoint() // |vocab| rows
    val docW = sh.join(idfW, "s").groupBy("doc_id").agg(sum("w").as("wsum"))
      .localCheckpoint() // |docs| rows
    val cands = pairScores(spark, sfDir)
      .where(col("inter") >= WJacMinInter).select("doc_a", "doc_b")
    val interW = cands
      .join(sh.select(col("doc_id").as("doc_a"), col("s")), Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("s")), Seq("doc_b", "s"))
      .join(idfW, "s")
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("inter"), sum("w").as("iw"))
    interW
      .join(docW.select(col("doc_id").as("doc_a"), col("wsum").as("wa")), Seq("doc_a"))
      .join(docW.select(col("doc_id").as("doc_b"), col("wsum").as("wb")), Seq("doc_b"))
      .withColumn("w_jaccard", col("iw") / (col("wa") + col("wb") - col("iw")))
      .where(col("w_jaccard") >= WJacThreshold)
      .select(col("doc_a"), col("doc_b"), col("inter"),
        round(col("w_jaccard"), 6).as("w_jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  val jaccardIdfSql: String =
    s"""WITH $shinglesSql, df AS (
       |  SELECT s, count(*) AS df FROM sh GROUP BY s
       |), nd AS (SELECT count(DISTINCT doc_id) AS d FROM sh),
       |idf AS (
       |  SELECT s, ln((SELECT d FROM nd)::DOUBLE / df) AS w FROM df
       |), docw AS (
       |  SELECT doc_id, sum(w) AS wsum
       |  FROM sh JOIN idf USING (s) GROUP BY 1
       |), keep AS (
       |  SELECT s FROM df WHERE df <= $HotShingleDf
       |), cand AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
       |  JOIN keep k ON k.s = a.s
       |  GROUP BY 1, 2 HAVING count(*) >= $WJacMinInter
       |), pairs AS (
       |  SELECT c.doc_a, c.doc_b, count(*) AS inter, sum(i.w) AS iw
       |  FROM cand c
       |  JOIN sh a ON a.doc_id = c.doc_a
       |  JOIN sh b ON b.doc_id = c.doc_b AND b.s = a.s
       |  JOIN idf i ON i.s = a.s
       |  GROUP BY 1, 2
       |)
       |SELECT doc_a, doc_b, inter,
       |  round(iw / (wa.wsum + wb.wsum - iw), 6) AS w_jaccard
       |FROM pairs
       |JOIN docw wa ON wa.doc_id = doc_a
       |JOIN docw wb ON wb.doc_id = doc_b
       |WHERE iw / (wa.wsum + wb.wsum - iw) >= $WJacThreshold
       |ORDER BY doc_a, doc_b""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_jaccard_idf", jaccardIdf _, Some(jaccardIdfSql)),
    QuerySpec("q_sorted_neighborhood", sortedNeighborhood _, Some(sortedNeighborhoodSql)),
    QuerySpec("q_record_linkage", recordLinkage _, Some(recordLinkageSql)),
    QuerySpec("q_ngram_novelty", ngramNovelty _, Some(ngramNoveltySql)),
    QuerySpec("q_containment", containment _, Some(containmentSql)),
    QuerySpec("q_fuzzy_names", fuzzyNames _, Some(fuzzyNamesSql)),
    QuerySpec("q_dedup_exact", exactDedup _, Some(exactDedupSql)),
    QuerySpec("q_dedup_ngram_jaccard", ngramJaccard _, Some(ngramJaccardSql)),
    QuerySpec("q_dedup_minhash_lsh", minhashLsh _, Some(minhashLshSql)),
    QuerySpec("q_lsh_recall", lshRecall _, Some(lshRecallSql)),
    QuerySpec("q_dedup_simhash", simhashPairs _, Some(simhashPairsSql)),
    QuerySpec("q_dedup_embedding", embeddingNearDup _, Some(embeddingNearDupSql)),
    QuerySpec("q_dedup_incremental", incrementalDedup _, Some(incrementalDedupSql)),
    QuerySpec("q_dedup_serve", dedupServe _, Some(dedupServeSql)),
    QuerySpec("q_dedup_serve_grow", dedupServeGrow _, Some(dedupServeGrowSql)),
    QuerySpec("q_dedup_serve_compact", dedupServeCompact _, Some(dedupServeCompactSql)),
    QuerySpec("q_dedup_serve_delete", dedupServeDelete _, Some(dedupServeDeleteSql)),
    QuerySpec("q_dedup_bloom", bloomDedup _, Some(bloomDedupSql)),
    QuerySpec("q_dedup_substring", substringDedup _, Some(substringDedupSql)),
    QuerySpec("q_source_overlap", sourceOverlap _, Some(sourceOverlapSql)),
  )
}
