package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates, SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed call into a layer. Times are nanoseconds on the
  * `System.nanoTime` clock; `parent` is -1 for an iteration's root span. */
final case class Span(id: Int, name: String, parent: Int, iter: Int, start: Long, end: Long) {
  def dur: Long = end - start
}

/** Interval arithmetic over spans and job windows, kept free of Spark so the
  * tests can drive it with literal numbers. */
object Spans {

  /** Total length of the union of `intervals`, each clipped to [lo, hi]. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** A span's self time: its duration minus the part its children cover. */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      s.id -> (s.dur - covered(kids.getOrElse(s.id, Nil).map(c => (c.start, c.end)), s.start, s.end))
    }.toMap
  }

  /** The innermost span open at time `t`: among spans containing `t`, the
    * one that started last (ties: the deeper id). */
  def innermost(spans: Seq[Span], t: Long): Option[Span] =
    spans.filter(s => s.start <= t && t <= s.end).maxByOption(s => (s.start, s.id))

  /** Ids of `root` and all its descendants. */
  def subtree(spans: Seq[Span], root: Int): Set[Int] = {
    val kids = spans.groupBy(_.parent)
    def go(id: Int): Set[Int] = kids.getOrElse(id, Nil).flatMap(c => go(c.id)).toSet + id
    go(root)
  }
}

/** A Spark job as seen by the listener. `span` is the id read from the
  * submitting thread's local property, if it carried one. */
final case class JobRec(id: Int, start: Long, end: Long, span: Option[Int])

object Attribution {

  /** Each job's span: the one its thread named, else the innermost span open
    * when it started. Returns (job id -> span id, jobs attributed by time). */
  def attribute(jobs: Seq[JobRec], spans: Seq[Span]): (Map[Int, Int], Int) = {
    var byTime = 0
    val m = jobs.flatMap { j =>
      j.span.orElse {
        val s = Spans.innermost(spans, j.start).map(_.id)
        if (s.isDefined) byTime += 1
        s
      }.map(j.id -> _)
    }.toMap
    (m, byTime)
  }
}

/** Records spans on the harness thread and tags every job submitted inside
  * one with the span's id. Disabled tracers run the body and record nothing. */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil

  def apply[T](name: String, iter: Int)(body: => T): T = {
    if (!enabled) return body
    val id = spans.size
    val start = System.nanoTime()
    spans += Span(id, name, stack.headOption.getOrElse(-1), iter, start, Long.MaxValue)
    val prev = sc.getLocalProperty(Tracer.SpanKey)
    sc.setLocalProperty(Tracer.SpanKey, id.toString)
    stack = id :: stack
    try body
    finally {
      stack = stack.tail
      sc.setLocalProperty(Tracer.SpanKey, prev)
      spans(id) = spans(id).copy(end = System.nanoTime())
    }
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  /** Offset that maps epoch milliseconds (listener event times) onto the
    * `System.nanoTime` clock the spans use. */
  val epochToNano: Long = System.nanoTime() - System.currentTimeMillis() * 1000000L
  def nanoOf(epochMs: Long): Long = epochMs * 1000000L + epochToNano
}

/** Per-stage task totals. */
final class StageAgg {
  var tasks = 0L
  var runMs = 0L
  var overheadMs = 0L
  var shuffleWrite = 0L
  var fetchWaitMs = 0L
  var spill = 0L
}

/** Collects jobs, stages, task metrics, SQL-operator metrics and streaming
  * progress. Registered only for traced runs. */
final class Recorder extends SparkListener {
  val jobs = mutable.Map.empty[Int, JobRec]
  val stageSpan = mutable.Map.empty[Int, Option[Int]]
  val stageTime = mutable.Map.empty[Int, Long]
  val stages = mutable.Map.empty[Int, StageAgg]
  /** accumulator id -> (operator node name, metric name, metric type) */
  val accMeta = mutable.Map.empty[Long, (String, String, String)]
  /** (stage id, accumulator id) -> summed task updates */
  val taskAcc = mutable.Map.empty[(Int, Long), Long]
  /** execution id -> start time (ns) and driver-side accumulator updates */
  val execStart = mutable.Map.empty[Long, Long]
  val driverAcc = mutable.ArrayBuffer.empty[(Long, Long, Long)]
  val progress = mutable.ArrayBuffer.empty[(Long, Map[String, Long])]

  private def spanOf(p: java.util.Properties): Option[Int] =
    Option(p).flatMap(x => Option(x.getProperty(Tracer.SpanKey))).map(_.toInt)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = JobRec(e.jobId, Tracer.nanoOf(e.time), Long.MaxValue, spanOf(e.properties))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(end = Tracer.nanoOf(e.time)))
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageSpan(e.stageInfo.stageId) = spanOf(e.properties)
    stageTime(e.stageInfo.stageId) =
      Tracer.nanoOf(e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = stages.getOrElseUpdate(e.stageId, new StageAgg)
    val m = e.taskMetrics
    val wall = e.taskInfo.finishTime - e.taskInfo.launchTime
    a.tasks += 1
    if (m != null) {
      a.runMs += m.executorRunTime
      a.overheadMs += wall - m.executorRunTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      a.spill += m.diskBytesSpilled
    }
    e.taskInfo.accumulables.foreach { acc =>
      if (accMeta.contains(acc.id)) acc.update.foreach {
        case v: Long => taskAcc((e.stageId, acc.id)) = taskAcc.getOrElse((e.stageId, acc.id), 0L) + v
        case _ =>
      }
    }
  }
  private def plan(p: SparkPlanInfo): Unit = {
    p.metrics.foreach(m => accMeta(m.accumulatorId) = (p.nodeName, m.name, m.metricType))
    p.children.foreach(plan)
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        execStart(s.executionId) = Tracer.nanoOf(s.time)
        plan(s.sparkPlanInfo)
      case u: SparkListenerSQLAdaptiveExecutionUpdate => plan(u.sparkPlanInfo)
      case d: SparkListenerDriverAccumUpdates =>
        d.accumUpdates.foreach { case (id, v) => driverAcc += ((d.executionId, id, v)) }
      case _ =>
    }
  }

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = Recorder.this.synchronized {
      val at = Tracer.nanoOf(java.time.Instant.parse(e.progress.timestamp).toEpochMilli)
      val d = mutable.Map.empty[String, Long]
      e.progress.durationMs.forEach((k, v) => d(k) = v.longValue)
      d("numInputRows") = e.progress.numInputRows
      progress += ((at, d.toMap))
    }
  }
}
