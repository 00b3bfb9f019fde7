package graft

import org.apache.spark.sql.SparkSession

/** The one session conf: every main (Bench, Verify, QProf, PlanAudit)
  * and the test fixture build their session here, so every query plans
  * under the same settings wherever it runs.
  *
  * The session stays plain: no [[graft.functions.GraftExtensions]]. The
  * driver calls `SparkEntry.queries` on a session of its own, so a query
  * that reached a graft function through its SQL name would pass here and
  * fail there; queries call the Column surfaces instead.
  */
object GraftSession {

  /** Local cores, and shuffle partitions, of the mains:
    * `SPARK_GRAFT_CPUS`, default 4. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.toInt)

  /** Every setting [[builder]] applies, as `(key, value)`. */
  def settings(cpus: Int): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.ui.enabled" -> "false",
    // dates, day buckets and epoch math must not depend on the host's zone
    "spark.sql.session.timeZone" -> "UTC",
    // events.parquet carries TIMESTAMP(NANOS) which Spark rejects
    // natively; read as long nanos (Tables.events normalizes to µs).
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // the broadcast policy (SCALING.md) leans on AQE picking up
    // unhinted small sides from runtime stats: pin it on explicitly
    "spark.sql.adaptive.enabled" -> "true",
    // TypedImperativeAggregates (TopKByScore, MisraGries) run in
    // ObjectHashAggregateExec, which falls back to SORT-BASED
    // aggregation after only 128 distinct keys per task — silently
    // re-introducing the full-input sort the bounded top-K aggregate
    // exists to avoid. 1M keys × ~400 B/buffer bounds the object map
    // at ~400 MB/task, far past every per-task group count here.
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "1048576",
    // AQE byte-based partition coalescing is blind to downstream
    // per-row cost: a small exchange feeding a pair/shingle GENERATOR
    // coalesces to one task and serializes the expansion (measured:
    // 1.5 s single-task stages at local[32]). Lowering the coalesce
    // floor keeps small-but-CPU-heavy shuffles parallel; at real
    // scale partitions sit far above either floor, so this only
    // changes behavior where the default was pathological.
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "64k")

  /** A builder carrying [[settings]]; callers may add their own. */
  def builder(cpus: Int = GraftSession.cpus): SparkSession.Builder =
    settings(cpus).foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }

  /** Creates (or returns) the session and sets its log level. */
  def getOrCreate(builder: SparkSession.Builder = GraftSession.builder()): SparkSession = {
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
