package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Spark work attributed to one span: jobs, stages and task metrics. */
final class Counts {
  var jobs = 0L
  var stages = 0L
  var oneTaskStages = 0L
  var tasks = 0L
  var taskCpuNs = 0L
  var taskRunMs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L

  def add(o: Counts): Unit = {
    jobs += o.jobs; stages += o.stages; oneTaskStages += o.oneTaskStages; tasks += o.tasks
    taskCpuNs += o.taskCpuNs; taskRunMs += o.taskRunMs; gcMs += o.gcMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead; spill += o.spill
  }
}

final case class Span(id: Int, parent: Int, name: String, trace: Int, var start: Long, var end: Long = 0L)

/** In-memory span recorder for the traced run.
  *
  * Spans nest on the one submitting thread. The innermost open span's
  * id is set as a Spark local property, so every job (and its stages and
  * tasks) the listener sees is charged to the span that submitted it.
  * Spans of one query share a trace id. Nothing is written until
  * [[Tracer.json]] is called at the end of the run.
  */
final class Tracer {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Span]
  private val counts = mutable.HashMap.empty[Int, Counts]
  /** Wall clock (ms) of every SQL execution start seen while attached. */
  private val sqlStarts = mutable.ArrayBuffer.empty[Long]
  private var sc: Option[SparkContext] = None
  private var listener: Option[Listener] = None
  private var nextTrace = 0

  /** Charge the work of `context` to the open spans from now on. */
  def attach(context: SparkContext): Unit = {
    detach()
    val l = new Listener
    context.addSparkListener(l)
    sc = Some(context); listener = Some(l)
    open.headOption.foreach(s => context.setLocalProperty(Tracer.Key, s.id.toString))
  }

  /** Stop listening; counts seen so far are kept. */
  def detach(): Unit = {
    for (c <- sc; l <- listener) {
      if (!c.isStopped) org.apache.spark.PerfbenchAccess.drainListeners(c)
      c.removeSparkListener(l)
      c.setLocalProperty(Tracer.Key, null)
    }
    sc = None; listener = None
  }

  def newTrace(): Int = { nextTrace += 1; nextTrace }

  def span[T](name: String, trace: Int = 0)(body: => T): T = timed(name, trace)(body)._1

  /** Run `body` inside a new child span of the innermost open span. */
  def timed[T](name: String, trace: Int = 0)(body: => T): (T, Span) = {
    val s = begin(name, trace)
    try (body, s)
    finally end(s)
  }

  /** Open a child span of the innermost open span; [[end]] closes it. */
  def begin(name: String, trace: Int = 0): Span = {
    val parent = open.headOption
    val s = Span(spans.size, parent.map(_.id).getOrElse(-1), name,
      if (trace != 0) trace else parent.map(_.trace).getOrElse(0), System.nanoTime())
    spans += s
    open.push(s)
    sc.foreach(_.setLocalProperty(Tracer.Key, s.id.toString))
    s
  }

  /** Close `s`, the innermost open span. */
  def end(s: Span): Unit = {
    s.end = System.nanoTime()
    open.pop()
    val parent = open.headOption
    sc.foreach(_.setLocalProperty(Tracer.Key, parent.map(_.id.toString).orNull))
  }

  def seconds(s: Span): Double = (s.end - s.start) / 1e9

  /** Span duration minus the time its direct children cover. */
  def selfSeconds(s: Span): Double =
    seconds(s) - spans.iterator.filter(_.parent == s.id).map(seconds).sum

  /** Spark work charged to `s` and every span below it. */
  def totals(s: Span): Counts = {
    sc.filterNot(_.isStopped).foreach(org.apache.spark.PerfbenchAccess.drainListeners)
    val out = new Counts
    def walk(x: Span): Unit = {
      counts.get(x.id).foreach(out.add)
      spans.iterator.filter(_.parent == x.id).foreach(walk)
    }
    walk(s)
    out
  }

  /** Split the closed span `s`, which wrapped one sink write started at
    * wall clock `startMs`, at the first SQL execution that started
    * inside it. Spark analyzes, optimizes and plans the write before it
    * posts that start, so the front becomes a new sibling span `front`
    * and `s` keeps the execution. Returns the front span. */
  def splitAtSqlStart(s: Span, startMs: Long, front: String): Span = {
    sc.filterNot(_.isStopped).foreach(org.apache.spark.PerfbenchAccess.drainListeners)
    val firstMs = sqlStarts.iterator.filter(_ >= startMs).minOption
    val len = firstMs.fold(0L)(ms => math.min((ms - startMs) * 1000000L, s.end - s.start))
    val f = Span(spans.size, s.parent, front, s.trace, s.start, s.start + len)
    spans += f
    s.start = f.end
    f
  }

  def json: String = Runner.json.writerWithDefaultPrettyPrinter.writeValueAsString(spans.map { s =>
    val c = counts.getOrElse(s.id, new Counts)
    Map(
      "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "trace" -> s.trace,
      "start_ns" -> s.start, "end_ns" -> s.end, "self_s" -> selfSeconds(s),
      "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks)
  }.toSeq)

  private final class Listener extends SparkListener {
    private val stageSpan = mutable.HashMap.empty[Int, Int]

    private def at(span: Int): Counts = counts.getOrElseUpdate(span, new Counts)

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart => sqlStarts += x.time
      case _ =>
    }

    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Key))).foreach { id =>
        val span = id.toInt
        at(span).jobs += 1
        e.stageIds.foreach(stageSpan(_) = span)
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stageSpan.get(e.stageInfo.stageId).foreach { span =>
        val c = at(span)
        c.stages += 1
        if (e.stageInfo.numTasks == 1) c.oneTaskStages += 1
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for (span <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
        val c = at(span)
        c.tasks += 1
        c.taskCpuNs += m.executorCpuTime
        c.taskRunMs += m.executorRunTime
        c.gcMs += m.jvmGCTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
  }
}

object Tracer {
  val Key = "perfbench.span"
}
