package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.Files

import scala.collection.mutable

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{SparkEntry, Tables}

/** One benchmark run of one workload in this JVM.
  *
  * Setup builds the session, runs the `Bench` warm-up plan, calls the
  * registry once and runs the workload's warm hooks. Then the
  * workload's queries run in passes, in a seed-permuted order with one
  * query in flight, each output written in full to a parquet sink that
  * the caller checks afterwards. Passes repeat until `--seconds` have
  * passed and at least [[minPasses]] ran.
  *
  * With `--trace 1` a listener is attached, odd passes are traced and
  * even passes are not (their ratio is the tracing overhead), and the
  * record carries the per-layer metrics; spans go to `--spans`.
  *
  * Usage: Runner --workload W --data DIR --work DIR --out FILE
  *   [--seed N] [--seconds S] [--trace 0|1] [--spans FILE]
  */
object Runner {
  /** Passes that warm the JVM and are left out of the pass figures. A
    * fixed count, so every run reports passes at the same point of its
    * warm-up however many passes fit in `--seconds`. */
  val WarmUpPasses = 2

  /** The warm-up passes and the workload's steady ones. */
  def minPasses(w: Workload): Int = WarmUpPasses + w.steadyPasses

  private val cpus = Runtime.getRuntime.availableProcessors
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU nanoseconds of the whole process so far: the submitting thread,
    * Spark's executor and scheduler threads, and the JIT and GC threads
    * (in local mode the driver is the executors). */
  private def processCpu(): Long = os.getProcessCpuTime

  /** Process CPU seconds used since `before`. */
  private def cpuSince(before: Long): Double = (processCpu() - before) / 1e9

  /** Heap used after full collections. Spark's cleaner thread releases
    * the blocks of collected RDDs, shuffles and broadcasts only after a
    * collection has found them, so this collects until the used heap
    * stops falling rather than racing that thread once. */
  private def heapMb(): Double = {
    def collect(): Double = {
      System.gc()
      System.runFinalization()
      Thread.sleep(200)
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var last = collect()
    var next = collect()
    var rounds = 2
    while (last - next > 1 && rounds < 10) {
      last = next
      next = collect()
      rounds += 1
    }
    note(f"heap: $next%.1f MB after $rounds collections")
    next
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  private def fastest(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.min

  private def dirBytes(f: File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum

  private def mb(bytes: Long): Double = bytes / 1048576.0

  /** The session conf `Bench` runs with (Bench.scala), plus this run's
    * own warehouse and scratch directories. */
  def sessionConf(cpus: Int, warehouse: File, local: File): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.ui.enabled" -> "false",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "1048576",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "64k",
    "spark.sql.warehouse.dir" -> warehouse.getAbsolutePath,
    "spark.local.dir" -> local.getAbsolutePath)

  /** `Bench`'s JVM warm-up plan: parquet scan, broadcast join, window,
    * hash expression, generator and aggregate on two small tables. */
  def jvmWarm(spark: SparkSession, sfDir: String): Unit = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val r = spark.read.parquet(s"$sfDir/region.parquet")
    val n = spark.read.parquet(s"$sfDir/nation.parquet")
    n.join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("n_regionkey").orderBy("n_nationkey")))
      .withColumn("h", expr("cast(conv(substring(md5(n_name), 1, 8), 16, 10) AS bigint)"))
      .select(col("h"), explode(expr("sequence(0, 3)")).as("i"))
      .groupBy("i").agg(count(lit(1)), sum("h"))
      .count()
  }

  final case class Args(
      workload: Workload, data: String, work: File, out: File, seed: Long, seconds: Double,
      trace: Boolean, spans: Option[File])

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    val w = Workloads.byName(need("workload")).getOrElse(sys.error(
      s"unknown workload ${need("workload")}; known: ${Workloads.all.map(_.name).mkString(", ")}"))
    Args(w, need("data"), new File(need("work")), new File(need("out")),
      m.getOrElse("seed", "1").toLong, m.getOrElse("seconds", "10").toDouble,
      m.getOrElse("trace", "0") == "1", m.get("spans").map(new File(_)))
  }

  final case class WarmRun(family: String, wallS: Double, cpuS: Double, counts: Counts)

  final case class SetupRun(wallS: Double, cpuS: Double, sessionS: Double, jvmWarmS: Double,
                            registryS: Double, warm: Seq[WarmRun])

  /** `sink` is the exec span of the output write and the wall clock
    * (ms) at its start; `cpuS` is process CPU over the query. */
  final case class QueryRun(name: String, buildS: Double, planS: Double, execS: Double,
                            error: Option[String], sink: Option[(Span, Long)], cpuS: Double = 0) {
    def wallS: Double = buildS + planS + execS
  }

  final case class PassRun(index: Int, traced: Boolean, wallS: Double, cpuS: Double,
                           queries: Seq[QueryRun], counts: Counts)

  def main(argv: Array[String]): Unit = {
    val jvmStartS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val a = parse(argv)
    val w = a.workload
    val tracer = new Tracer
    val outDir = new File(a.work, "out")
    // Every span of the run nests under this one and shares its trace id.
    val runSpan = tracer.begin("run", tracer.newTrace())
    def secs(s: Span) = tracer.seconds(s)

    // ---- setup ----
    val warehouse = new File(a.work, "warehouse")
    val conf = sessionConf(cpus, warehouse, new File(a.work, "local"))
    var spark: SparkSession = null
    var fns: Map[String, (SparkSession, String) => DataFrame] = Map.empty
    val c0 = processCpu()
    val (parts, setupSpan) = tracer.timed("setup") {
      val (s, session) = tracer.timed("session.build") {
        conf.foldLeft(SparkSession.builder().appName(s"perfbench-${w.name}")) {
          case (b, (k, v)) => b.config(k, v)
        }.getOrCreate()
      }
      spark = s
      spark.sparkContext.setLogLevel("WARN")
      if (a.trace) tracer.attach(spark.sparkContext)
      val (_, jvmWarmSpan) = tracer.timed("session.jvm_warm")(jvmWarm(spark, a.data))
      val (registry, registrySpan) = tracer.timed("SparkEntry.registry")(SparkEntry.queries)
      fns = w.queries.map(q => q -> registry(q)).toMap
      val warm = w.warm.map { case (family, hook) =>
        val wc0 = processCpu()
        val (_, span) = tracer.timed(s"warm.$family")(hook(spark, a.data))
        WarmRun(family, secs(span), cpuSince(wc0),
          if (a.trace) tracer.totals(span) else new Counts)
      }
      SetupRun(0, 0, secs(session), secs(jvmWarmSpan), secs(registrySpan), warm)
    }
    val setup = parts.copy(wallS = secs(setupSpan), cpuS = cpuSince(c0))
    note(f"setup: ${setup.wallS}%.2f s (session ${setup.sessionS}%.2f, jvm warm ${setup.jvmWarmS}%.2f" +
      setup.warm.map(r => f", ${r.family} ${r.wallS}%.2f").mkString + ")")
    val sc = spark.sparkContext
    val cachedAfterSetup = sc.getPersistentRDDs.keySet
    val cacheMbAfterSetup = mb(sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum)
    val heapAfterSetup = heapMb()

    // ---- passes ----
    val order = new scala.util.Random(a.seed).shuffle(w.queries)
    val passes = mutable.ArrayBuffer.empty[PassRun]
    var newInPass = 0
    val passStart = System.nanoTime()
    while (passes.size < minPasses(w) || (System.nanoTime() - passStart) / 1e9 < a.seconds) {
      val i = passes.size + 1
      val traced = a.trace && i % 2 == 1
      if (traced) tracer.attach(sc) else tracer.detach()
      val before = sc.getPersistentRDDs.keySet
      val c0 = processCpu()
      val (ran, span) = tracer.timed(s"pass.$i") {
        order.map { q =>
          val qc0 = processCpu()
          runQuery(spark, tracer, q, fns(q), a.data, outDir).copy(cpuS = cpuSince(qc0))
        }
      }
      val cpuS = cpuSince(c0)
      val qs = if (!traced) ran else ran.map { q =>
        q.sink.fold(q) { case (w, startMs) =>
          val plan = tracer.splitAtSqlStart(w, startMs, "plan")
          q.copy(planS = tracer.seconds(plan), execS = tracer.seconds(w))
        }
      }
      if (i == 1) newInPass = (sc.getPersistentRDDs.keySet -- before).size
      note(f"pass $i${if (traced) " (traced)" else ""}: ${secs(span)}%.2f s, cpu $cpuS%.2f s; " +
        qs.sortBy(-_.wallS).map(q => f"${q.name} ${q.wallS}%.2f").mkString(", "))
      passes += PassRun(i, traced, secs(span), cpuS, qs,
        if (traced) tracer.totals(span) else new Counts)
    }
    tracer.detach()

    // ---- end-to-end metrics ----
    // Pass 1 is the first touch of every lazily built cache entry and of
    // the workload's code paths, and the young JVM keeps compiling after
    // it (cf_serve's second pass takes half as long as its first, and the
    // later ones drift down by a few percent each). The pass figures
    // take each query's fastest run in the passes after the warm-up ones
    // (in a traced run, in its untraced passes): on a shared host the same
    // query runs up to twice as long while other tenants load the
    // machine, for seconds at a time, and its fastest run is the one such
    // load disturbed least. `pass_s` and `pass_cpu_s` sum them over the
    // workload's queries.
    val timed = passes.filter(p => p.index > WarmUpPasses && !p.traced).toSeq
    def bestRuns(f: QueryRun => Double): Seq[(String, Double)] = w.queries.map { q =>
      q -> fastest(timed.flatMap(_.queries.filter(r => r.name == q && r.error.isEmpty)).map(f))
    }
    val perQuery = bestRuns(_.wallS)
    val geomean = {
      val ok = perQuery.map(_._2).filter(_ > 0)
      if (ok.isEmpty) 0.0 else math.exp(ok.map(math.log).sum / ok.size)
    }
    val errors = passes.flatMap(_.queries).flatMap(r => r.error.map(r.name -> _)).toMap
    val heapEnd = heapMb()
    val diskMb = mb(dirBytes(warehouse) + dirBytes(outDir))
    val endToEnd = Seq(
      "setup_s" -> setup.wallS,
      "pass_s" -> perQuery.map(_._2).sum,
      "pass_cpu_s" -> bestRuns(_.cpuS).map(_._2).sum,
      "query_geomean_s" -> geomean,
      "heap_mb" -> heapEnd,
      "disk_mb" -> diskMb)

    // ---- per-layer metrics (traced run) ----
    val layer = mutable.LinkedHashMap.empty[String, Double]
    var functionsEqual = true
    if (a.trace) {
      val steady = passes.filter(p => p.traced && p.index > WarmUpPasses).toSeq
      def perPass(f: PassRun => Double) = median(steady.map(f))
      def byPhase(f: QueryRun => Double) = perPass(_.queries.map(f).sum)
      layer("setup.cpu_s") = setup.cpuS
      layer("session.jvm_start_s") = jvmStartS
      layer("session.build_s") = setup.sessionS
      layer("session.jvm_warm_s") = setup.jvmWarmS
      layer("SparkEntry.registry_s") = setup.registryS
      for (f <- Workloads.warmFamilies) {
        val run = setup.warm.find(_.family == f)
        layer(s"warm.$f.wall_s") = run.map(_.wallS).getOrElse(0.0)
        layer(s"warm.$f.cpu_s") = run.map(_.cpuS).getOrElse(0.0)
        layer(s"warm.$f.shuffle_write_mb") = run.map(r => mb(r.counts.shuffleWrite)).getOrElse(0.0)
        layer(s"warm.$f.one_task_stages") = run.map(_.counts.oneTaskStages.toDouble).getOrElse(0.0)
      }
      layer("QueryCache.entries") = cachedAfterSetup.size
      layer("QueryCache.mb") = cacheMbAfterSetup
      layer("QueryCache.new_in_pass") = newInPass
      layer("Tables.scan_s") = w.tables.map { t =>
        noopSeconds(Tables.table(spark, a.data, t))
      }.sum
      layer("Tables.interactions_s") =
        if (w.readsInteractions) noopSeconds(Tables.interactions(spark, a.data)) else 0.0
      layer("query.build_s") = byPhase(_.buildS)
      layer("query.plan_s") = byPhase(_.planS)
      layer("query.exec_s") = byPhase(_.execS)
      val family = Workloads.families
      for (f <- Workloads.passFamilies)
        layer(s"$f.wall_s") = byPhase(q => if (family.get(q.name).contains(f)) q.wallS else 0.0)
      layer("exec.task_cpu_s") = perPass(_.counts.taskCpuNs / 1e9)
      layer("exec.task_run_s") = perPass(_.counts.taskRunMs / 1e3)
      layer("exec.gc_s") = perPass(_.counts.gcMs / 1e3)
      layer("exec.shuffle_write_mb") = perPass(p => mb(p.counts.shuffleWrite))
      layer("exec.shuffle_read_mb") = perPass(p => mb(p.counts.shuffleRead))
      layer("exec.spill_mb") = perPass(p => mb(p.counts.spill))
      layer("exec.jobs") = perPass(_.counts.jobs.toDouble)
      layer("exec.stages") = perPass(_.counts.stages.toDouble)
      layer("exec.tasks") = perPass(_.counts.tasks.toDouble)
      layer("exec.one_task_stages") = perPass(_.counts.oneTaskStages.toDouble)
      layer("exec.busy_frac") = perPass(p => p.counts.taskRunMs / 1e3 / (p.wallS * cpus))
      val fr = FunctionsBench.run(spark, a.seed)
      functionsEqual = fr.forall(_.equal)
      fr.filterNot(_.equal).foreach(r =>
        System.err.println(s"[perfbench] ${r.name} output differs from its built-in formulation"))
      val (topk, gens) = fr.partition(_.name == "TopKAgg")
      layer("functions.pair_expand_s") = gens.map(_.customS).sum
      layer("functions.pair_expand_builtin_s") = gens.map(_.builtinS).sum
      layer("functions.topk_s") = topk.map(_.customS).sum
      layer("functions.topk_builtin_s") = topk.map(_.builtinS).sum
      layer("heap.after_setup_mb") = heapAfterSetup
      layer("heap.after_pass_mb") = heapEnd
      layer("trace.first_pass_s") = passes.head.wallS
      layer("trace.overhead_frac") = perPass(_.wallS) / median(timed.map(_.wallS)) - 1
      layer("trace.pass_gap_frac") = 1 - byPhase(_.wallS) / perPass(_.wallS)
      layer("trace.setup_gap_frac") = 1 -
        (setup.sessionS + setup.jvmWarmS + setup.registryS + setup.warm.map(_.wallS).sum) / setup.wallS
    }

    val oracle = SparkEntry.oracleSql
    val record = json.writeValueAsString(Map(
      "workload" -> w.name,
      "seed" -> a.seed,
      "cpus" -> cpus,
      "max_heap_mb" -> mb(Runtime.getRuntime.maxMemory),
      "session_conf" -> conf.toMap,
      "pass_s_each" -> passes.map(_.wallS),
      "pass_traced_each" -> passes.map(_.traced),
      "order" -> order,
      "query_best_s" -> perQuery.toMap,
      "errors" -> errors,
      "functions_equal" -> functionsEqual,
      "oracle_sql" -> w.queries.flatMap(q => oracle.get(q).map(q -> _)).toMap,
      "end_to_end" -> endToEnd.toMap,
      "per_layer" -> layer.toMap))
    spark.stop()
    tracer.end(runSpan)
    Files.writeString(a.out.toPath, record + "\n")
    a.spans.foreach(f => Files.writeString(f.toPath, tracer.json))
  }

  /** The JSON writer for the run record and the spans. */
  private[perfbench] val json: JsonMapper = JsonMapper.builder().addModule(DefaultScalaModule).build()

  private def note(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  /** Time a full `noop` write of `df`'s output. */
  private[perfbench] def noopSeconds(df: DataFrame): Double = {
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** Build the query, then write its full output to the query's parquet
    * sink. The write plans the query itself; in a traced pass its span
    * is split afterwards into plan and exec (see [[Tracer.splitAtSqlStart]]). */
  private def runQuery(spark: SparkSession, tracer: Tracer, name: String,
                       fn: (SparkSession, String) => DataFrame, data: String, outDir: File): QueryRun =
    tracer.span(s"query.$name", tracer.newTrace()) {
      var build = 0.0
      var sink: Option[(Span, Long)] = None
      try {
        val (df, b) = tracer.timed("build")(fn(spark, data))
        build = tracer.seconds(b)
        val startMs = System.currentTimeMillis()
        val (_, w) = tracer.timed("exec") {
          df.write.mode("overwrite").parquet(new File(outDir, name).getAbsolutePath)
        }
        sink = Some(w -> startMs)
        QueryRun(name, build, 0.0, tracer.seconds(w), None, sink)
      } catch {
        case t: Throwable if scala.util.control.NonFatal(t) || t.isInstanceOf[StackOverflowError] =>
          System.err.println(s"[perfbench] $name failed: $t")
          QueryRun(name, build, 0.0, 0.0,
            Some(s"${t.getClass.getSimpleName}: ${String.valueOf(t.getMessage).take(300)}"), sink)
      }
    }
}
