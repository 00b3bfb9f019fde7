package graft.tools

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** Dev tool: sweep EVERY SparkEntry query's physical plan for the
  * shapes this suite bans at 100 TB — `Exchange SinglePartition` and
  * window specs with an empty PARTITION BY — and print one line per
  * query, with the matched fragment on each offender's. The whitelist
  * logic lives in the audit's consumer (PlanShapeSpec pins); this tool
  * is the raw sweep that finds candidates. Not part of the driver
  * contract.
  *
  * Usage: runMain graft.tools.PlanAudit <sfDir> [q_a,q_b [outDir suffix]]
  *   - the second arg scopes the sweep; a scoped run also prints each
  *     query's full formatted plan,
  *   - or, given an outDir and suffix, writes it to
  *     <outDir>/<name>_<suffix>.txt instead — the plans/r<N>/
  *     before/after evidence artifact.
  *
  * The session is [[graft.GraftSession]]'s (SPARK_GRAFT_CPUS, default
  * 4), and the SparkEntry.warm hooks run first, as in Bench, so
  * memoized/serve-backed queries show their steady-state serving plan
  * (the shape Bench times), not the one-time build.
  *
  * Every query gets one `[audit]` line with `buildJobs`, the Spark jobs
  * its registry function ran before returning its DataFrame (driver
  * actions, checkpoints, schema inference), and the last line totals
  * them over the swept queries.
  */
object PlanAudit {
  private val groups = new AtomicLong

  /** Run `body` and count the Spark jobs it started, from the context's
    * status tracker under a job group of its own (no listener). The
    * tracker is fed asynchronously, in event order, so a one-task fence
    * job submitted after `body` is awaited before counting: once the
    * tracker knows the fence, it knows every job `body` started. */
  def countJobs[T](spark: SparkSession)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"graft-count-${groups.incrementAndGet()}"
    sc.setJobGroup(group, "counted")
    val out = try body finally sc.clearJobGroup()
    sc.setJobGroup(s"$group-fence", "count fence")
    try sc.parallelize(Seq(0), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (sc.statusTracker.getJobIdsForGroup(s"$group-fence").isEmpty) {
      if (System.nanoTime() > deadline)
        throw new IllegalStateException("job count: the status tracker never saw the fence job")
      Thread.sleep(5)
    }
    (out, sc.statusTracker.getJobIdsForGroup(group).length)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val selected = graft.SparkEntry.select(args.lift(1))
    val out: Option[(String, String)] = if (args.length > 3) Some((args(2), args(3))) else None
    out.foreach { case (dir, _) => Files.createDirectories(Paths.get(dir)) }
    val spark = graft.GraftSession.getOrCreate()
    graft.SparkEntry.warm.foreach { case (_, hook) => hook(spark, sfDir) }

    // Formatted mode dedupes reused subtrees, so counts reflect the
    // actual physical plan. Two detectors:
    //  - "Arguments: SinglePartition" = a single-partition exchange
    //    (benign when it feeds a 1-row/bounded final aggregate; a
    //    scale-killer when corpus-sized rows flow through it);
    //  - a windowspecdefinition whose FIRST argument is already a sort
    //    order = a window with an empty PARTITION BY (global sort).
    val globalWin = """windowspecdefinition\([^(),]*#\d+L? (ASC|DESC)""".r
    var nOff = 0
    var jobs = 0
    var swept = 0
    selected.toSeq.sortBy(_._1).foreach { case (name, q) =>
      try {
        val (df, buildJobs) = countJobs(spark)(q(spark, sfDir))
        jobs += buildJobs
        swept += 1
        val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
        val sp = "Arguments: SinglePartition".r.findAllIn(plan).length
        val gw = globalWin.findAllIn(plan).length
        val cp = "CartesianProduct".r.findAllIn(plan).length
        // Repeated fact-table scans = the split-consumer defect class
        // (r9s2): differently-filtered consumers of one derived frame
        // re-plan its whole upstream chain — filters push below the
        // joins and defeat exchange reuse. ≥3 scans of one fact table
        // marks a candidate for the aggregate-first/checkpoint fix
        // (eval_dr went 4.2→2.5 s scoped from exactly this). Cached/
        // memoized subtrees scan InMemoryRelation, not parquet, so
        // warmed model tables don't false-positive here.
        val facts = Seq("events", "lineitem", "orders", "documents", "embeddings")
        val rescans = facts.map { t =>
          t -> s"$t\\.parquet".r.findAllIn(plan).length
        }.filter(_._2 >= 3)
        out match {
          case Some((dir, suffix)) =>
            Files.writeString(Paths.get(s"$dir/${name}_$suffix.txt"), plan)
            println(s"[audit-plan] wrote $dir/${name}_$suffix.txt")
          case None => if (args.length > 1) println(s"[audit-plan] $name\n$plan")
        }
        val flags = if (sp > 0 || gw > 0 || cp > 0 || rescans.nonEmpty) {
          nOff += 1
          val rs = if (rescans.isEmpty) ""
            else rescans.map { case (t, c) => s"$t×$c" }.mkString(" rescans=", ",", "")
          s" singlePartitionExchanges=$sp globalWindows=$gw cartesians=$cp$rs"
        } else ""
        println(f"[audit] $name%-28s buildJobs=$buildJobs$flags")
      } catch {
        case e: Throwable =>
          println(s"[audit] $name FAILED TO PLAN: ${e.getClass.getSimpleName}: ${e.getMessage.take(120)}")
      }
    }
    println(s"[audit] done: $nOff queries flagged; buildJobs=$jobs over $swept queries")
    spark.stop()
  }
}
