package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators

/** One benchmark workload: the warm hooks its setup calls, the fixture
  * tables its queries read, the queries of its timed pass, and how many
  * steady passes after the warm-up a run makes at least, however short
  * `--seconds` is. At least two, so a traced run has a traced and an
  * untraced steady pass.
  */
final case class Workload(
    name: String,
    warm: Seq[(String, (SparkSession, String) => Unit)],
    tables: Seq[String],
    readsInteractions: Boolean,
    queries: Seq[String],
    steadyPasses: Int)

object Workloads {
  /** Warm families the per-layer record reports, in a fixed order so
    * every workload prints the same metric names. */
  val warmFamilies: Seq[String] = Seq("Recsys")

  private val recsysWarm = Seq("Recsys" -> (operators.Recsys.warm _))

  val all: Seq[Workload] = Seq(
    // The reference's read path over warmed CF models. Recsys.warm builds
    // the QueryCache entries and the persisted model stores in setup;
    // the pass serves from the cache (itemcf_recommend), the model store
    // (itemcf_serve) and the refreshed store (itemcf_refresh_serve), and
    // recomputes swing with the pair-expansion generator and TopK.
    Workload("cf_serve", recsysWarm, Seq("orders", "lineitem", "part"),
      readsInteractions = true, Seq(
        "q_itemcf_recommend", "q_itemcf_serve", "q_swing_similarity", "q_itemcf_refresh_serve"),
      steadyPasses = 2),
    // Relational and Stats queries with no warm hook and no QueryCache:
    // a window rank, the raking driver loop (many one-task jobs), a
    // broadcast-join top-N and a per-brand regression.
    // Their time is build, planning and scheduling. Predicted not to move
    // under warm, cache or generator changes.
    Workload("sql_analytics", Seq.empty,
      Seq("region", "nation", "customer", "orders", "lineitem", "part"),
      readsInteractions = false,
      Seq("q_window_ranks", "q_raking", "q_top_customers", "q_price_elasticity"),
      // A pass takes about 5.5 s, so `--seconds 20` alone would leave two
      // steady passes; three give each query's fastest run one more chance
      // and keep a run under a minute.
      steadyPasses = 3))

  def byName(name: String): Option[Workload] = all.find(_.name == name)

  /** Modules that register the workloads' queries, with their
    * registries (named as in `operators.<Family>.wall_s`). */
  private val modules: Seq[(String, Map[String, (SparkSession, String) => DataFrame])] = Seq(
    "operators.Recsys" -> operators.Recsys.queries,
    "operators.Relational" -> operators.Relational.queries,
    "operators.Stats" -> operators.Stats.queries)

  /** Families whose pass time the per-layer record reports. */
  val passFamilies: Seq[String] = modules.map(_._1)

  /** Query name -> the module that registers it. */
  def families: Map[String, String] =
    modules.flatMap { case (family, qs) => qs.keys.map(_ -> family) }.toMap
}
