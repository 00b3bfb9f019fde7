package graft.tools

/** Dev profiler — the ONE parameterized runner (r10 advisor: the
  * former one-off stage profilers duplicated pipeline bodies and
  * could silently drift from the queries they mirrored; this tool
  * only ever calls REGISTERED code paths — SparkEntry.queries and
  * SparkEntry.warm, the hooks Bench runs — so it cannot).
  *
  * Usage:
  *   runMain graft.tools.QProf q_a,q_b [runs]  — per-run seconds for
  *     registry queries in one warmed session (default 3 runs)
  *   runMain graft.tools.QProf warm            — per-family warm-stage
  *     seconds of SparkEntry.warm (the memoized shared tables: interaction
  *     caps, pair aggregates, similarity models, ANN index passes, eval
  *     split, BPE training — exactly the stages the expensive tail shares)
  *
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1); the session is
  * [[graft.GraftSession]]'s (SPARK_GRAFT_CPUS, default 4).
  */
object QProf {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.getOrCreate()

    def timed(label: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime()
      f
      println(f"QPROF $label%-28s ${(System.nanoTime() - t0) / 1e9}%6.2f s")
    }

    if (args.headOption.contains("warm")) {
      graft.SparkEntry.warm.foreach { case (family, w) => timed(s"warm:$family")(w(spark, sfDir)) }
    } else {
      val selected = graft.SparkEntry.select(Some(args(0)).filter(_ != "all"))
      val runs = args.lift(1).map(_.toInt).getOrElse(3)
      // SPARK_GRAFT_QPROF_STAGES=1: per-stage wall time + callsite for
      // the LAST run of each query — attributes cost to code lines
      // (guide §1.1 empirical loop; the UI is disabled here, this is
      // its stage table reduced to what the optimization loop needs).
      val stageProf = sys.env.get("SPARK_GRAFT_QPROF_STAGES").contains("1")
      val stages = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Double, String)]()
      if (stageProf) spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onStageCompleted(
              sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
            val i = sc.stageInfo
            val ms = (for {a <- i.completionTime; b <- i.submissionTime} yield a - b)
              .getOrElse(0L)
            // AQE stages run from a thread pool, so i.name is useless;
            // attribute via the graft callsite if present, else the
            // stage's RDD scope chain (the physical operators it runs)
            val site = i.details.linesIterator
              .find(l => l.contains("graft.") && !l.contains("QProf"))
              .map(_.trim)
              // no graft frame (AQE pool stages): fall back to the
              // stage NAME's callsite token so checkpoint/exchange
              // stages are still attributable
              .orElse(Option(i.name).map(_.take(60)))
            val ops = i.rddInfos.flatMap(_.scope).map(_.name)
              .filterNot(Set("mapPartitionsInternal", "DeserializeToObject"))
              .distinct.mkString(">")
            val sh = f"in=${i.taskMetrics.inputMetrics.bytesRead / 1e6}%.0fM " +
              f"sr=${i.taskMetrics.shuffleReadMetrics.remoteBytesRead + i.taskMetrics.shuffleReadMetrics.localBytesRead}%.0fB " +
              f"sw=${i.taskMetrics.shuffleWriteMetrics.bytesWritten}%.0fB"
            stages.add((i.stageId, ms / 1e3,
              s"t=${i.numTasks} [$ops] $sh ${site.getOrElse("")}"))
          }
        })
      graft.SparkEntry.warm.foreach { case (_, w) => w(spark, sfDir) } // Bench-identical warmup
      selected.foreach { case (n, fn) =>
        val ts = (1 to runs).map { r =>
          if (stageProf && r == runs) { Thread.sleep(500); stages.clear() }
          val t0 = System.nanoTime()
          fn(spark, sfDir).count()
          (System.nanoTime() - t0) / 1e9
        }
        println(f"QPROF $n%-28s ${ts.map(t => f"$t%6.2f").mkString(" ")}")
        if (stageProf) {
          Thread.sleep(500) // let the async listener bus drain
          import scala.jdk.CollectionConverters._
          stages.asScala.toSeq.sortBy(-_._2).take(12).foreach { case (id, s, nm) =>
            println(f"  STAGE $id%5d $s%7.2f s  ${nm.take(110)}")
          }
        }
      }
    }
    spark.stop()
  }
}
