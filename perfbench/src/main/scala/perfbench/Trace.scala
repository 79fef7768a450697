package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. `parent` is the span that caused it (0 = root);
  * `layer` names the engine module that owns the work. Times are epoch
  * milliseconds with a nanosecond-resolution duration, so driver spans
  * line up with the listener's task and phase timestamps. */
final case class Span(id: Long, parent: Long, name: String, layer: String,
    startMs: Long, durNs: Long, pass: Int) {
  def seconds: Double = durNs / 1e9
  def endMs: Long = startMs + durNs / 1000000L
}

/** Driver-side spans around every call the benchmark makes into the
  * engine. The innermost open span id is also the thread's Spark local
  * property [[Tracer.SpanKey]], so every job the call triggers carries the
  * id and the listeners can attribute it. Spans are kept in memory and
  * written out when the run ends. */
final class Tracer(spark: SparkSession) {
  private val ids = new AtomicLong(0)
  private var stack: List[Long] = Nil
  val spans = mutable.ArrayBuffer.empty[Span]
  var pass = -1

  def apply[T](name: String, layer: String)(body: => T): T = {
    val id = ids.incrementAndGet()
    val parent = stack.headOption.getOrElse(0L)
    val sc = spark.sparkContext
    stack = id :: stack
    sc.setLocalProperty(Tracer.SpanKey, id.toString)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      spans += Span(id, parent, name, layer, startMs, System.nanoTime() - t0, pass)
      stack = stack.tail
      sc.setLocalProperty(Tracer.SpanKey, stack.headOption.map(_.toString).orNull)
    }
  }

  /** The span record of the last closed span named `name`. */
  def last(name: String): Span = spans.findLast(_.name == name).get
}

object Tracer { val SpanKey = "perfbench.span" }

/** What the Spark listeners saw for one driver span (summed over jobs). */
final case class SparkWork(
    jobs: Int = 0, stages: Int = 0, tasks: Int = 0,
    taskRunS: Double = 0, taskCpuS: Double = 0, maxTaskS: Double = 0,
    shuffleRead: Long = 0, shuffleWrite: Long = 0, spill: Long = 0,
    busyS: Double = 0, planS: Double = 0, asOf: Boolean = false)

/** Spark's own listeners, attached only on traced passes: job/stage/task
  * events (SparkListener), planning phases from `qe.tracker`
  * (QueryExecutionListener) and micro-batch progress
  * (StreamingQueryListener). Events arrive on Spark's listener bus, so
  * they are attributed by the span id carried in each job's properties,
  * or for planning phases by the driver span whose interval holds them. */
final class Listeners extends SparkListener with QueryExecutionListener {
  private case class Job(span: Long, startMs: Long, endMs: Long = -1)
  private case class Stage(span: Long, tasks: Int, runMs: Long, cpuNs: Long,
      shRead: Long, shWrite: Long, spill: Long)
  private case class Task(span: Long, launchMs: Long, finishMs: Long)
  private case class Plan(startMs: Long, planMs: Long, asOf: Boolean)

  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val stages = new ConcurrentLinkedQueue[Stage]()
  private val tasks = new ConcurrentLinkedQueue[Task]()
  private val plans = new ConcurrentLinkedQueue[Plan]()
  val progress = new ConcurrentLinkedQueue[StreamingQueryListener.QueryProgressEvent]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toLong).getOrElse(0L)
    jobs.put(e.jobId, Job(span, e.time))
    e.stageIds.foreach(stageSpan.putIfAbsent(_, span))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.computeIfPresent(e.jobId, (_, j) => j.copy(endMs = e.time))

  /** Each job as a child span of the driver span that submitted it. */
  def jobSpans(pass: Int): Seq[Span] = jobs.asScala.toSeq.sortBy(_._1).map { case (id, j) =>
    Span(Listeners.JobSpanBase + id, j.span, s"job-$id", "spark", j.startMs,
      math.max(0L, j.endMs - j.startMs) * 1000000L, pass)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    if (m != null) stages.add(Stage(stageSpan.getOrDefault(i.stageId, 0L), i.numTasks,
      m.executorRunTime, m.executorCpuTime,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    tasks.add(Task(stageSpan.getOrDefault(e.stageId, 0L),
      e.taskInfo.launchTime, e.taskInfo.finishTime))

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    val planning = Seq("analysis", "optimization", "planning").flatMap(phases.get)
    if (planning.nonEmpty)
      plans.add(Plan(planning.map(_.startTimeMs).min, planning.map(_.durationMs).sum,
        Listeners.hasAsOfJoin(qe.executedPlan)))
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Sum what the listeners saw under each of `roots` — a root collects
    * the jobs of every span nested inside it (`descendants`), and the
    * planning phases that started inside its interval. */
  def attribute(roots: Seq[Span], descendants: Span => Set[Long]): Map[Long, SparkWork] = {
    val stageList = stages.asScala.toSeq
    val taskList = tasks.asScala.toSeq
    val jobList = jobs.values.asScala.toSeq
    val planList = plans.asScala.toSeq
    roots.map { r =>
      val ids = descendants(r)
      val st = stageList.filter(s => ids(s.span))
      val ts = taskList.filter(t => ids(t.span))
      val pl = planList.filter(p => p.startMs >= r.startMs && p.startMs <= r.endMs)
      r.id -> SparkWork(
        jobs = jobList.count(j => ids(j.span)),
        stages = st.size,
        tasks = ts.size,
        taskRunS = st.map(_.runMs).sum / 1e3,
        taskCpuS = st.map(_.cpuNs).sum / 1e9,
        maxTaskS = if (ts.isEmpty) 0 else ts.map(t => t.finishMs - t.launchMs).max / 1e3,
        shuffleRead = st.map(_.shRead).sum,
        shuffleWrite = st.map(_.shWrite).sum,
        spill = st.map(_.spill).sum,
        busyS = Listeners.unionMs(ts.map(t => (t.launchMs, t.finishMs))) / 1e3,
        planS = pl.map(_.planMs).sum / 1e3,
        asOf = pl.exists(_.asOf))
    }.toMap
  }

  def clear(): Unit = {
    jobs.clear(); stageSpan.clear(); stages.clear(); tasks.clear(); plans.clear()
    progress.clear()
  }
}

object Listeners extends AdaptiveSparkPlanHelper {
  /** Job span ids start here, clear of the harness's own span ids. */
  val JobSpanBase = 1000000000L

  /** True when the executed plan (through AQE stages and subqueries)
    * holds one of the engine's AsOfJoin exec nodes. */
  def hasAsOfJoin(plan: SparkPlan): Boolean =
    collectWithSubqueries(plan) { case p if p.getClass.getSimpleName.contains("AsOfJoin") => p }
      .nonEmpty

  /** Length of the union of [start, end) intervals, in the intervals' unit. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    total + (curE - curS)
  }

  /** Wait until every event posted so far has reached the listeners. */
  def drain(spark: SparkSession): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
}

/** Streaming progress listener: keeps every progress event. */
final class ProgressListener(into: ConcurrentLinkedQueue[StreamingQueryListener.QueryProgressEvent])
    extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = into.add(e)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}
