package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. `parent` is the id of the enclosing span
  * (-1 at the top); spans of one benchmark op nest under that op's span.
  */
final class Span(val id: Int, val parent: Int, val name: String,
                 val startMs: Long, val startNs: Long) {
  var endMs: Long = -1L
  var endNs: Long = -1L
  val counters: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap()
  def wallS: Double = (endNs - startNs) / 1e9
}

/** Spark-side facts per span, attributed after the run (see [[Tracer]]). */
final case class SparkFacts(
    jobs: Int, stages: Int, tasks: Int, failedTasks: Int,
    jobS: Double, planS: Double, planOutsideJobsS: Double,
    executorRunS: Double, executorCpuS: Double, gcS: Double,
    inputBytes: Long, outputBytes: Long, shuffleReadBytes: Long,
    shuffleWriteBytes: Long, spillBytes: Long, taskMs: Seq[Long])

/** Span recorder plus the listeners that see what Spark did inside each
  * span. Spans live in memory and are written out once, at exit.
  *
  * Attribution: every span sets the `perfbench.span` local property, so a
  * job carries the id of the innermost span that submitted it; tasks follow
  * their stage's job. A job without the property (submitted from a thread
  * that did not inherit it) and every query-execution planning record fall
  * back to time: the innermost span whose interval holds its start.
  * A span's facts are inclusive of its children.
  *
  * With `enabled = false` no listener is registered and `span` only runs
  * its body, so untraced runs pay nothing. Spans are recorded only while
  * `recording` is set: set-up calls the same layers, but is not measured.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer._

  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer()
  var recording = false
  private var stack: List[Span] = Nil

  private val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val jobEnds = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val plans = new ConcurrentLinkedQueue[PlanRec]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val sid = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
        .map(_.toInt).getOrElse(-1)
      jobs.add(JobRec(e.jobId, e.time, sid, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobEnds.put(e.jobId, e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val info = e.taskInfo
      if (m == null) tasks.add(TaskRec(e.stageId, info.launchTime,
        info.duration, 0, 0, 0, 0, 0, 0, 0, 0, info.failed))
      else tasks.add(TaskRec(e.stageId, info.launchTime, info.duration,
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, info.failed))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases.values
      if (ph.nonEmpty)
        plans.add(PlanRec(ph.map(_.startTimeMs).min, ph.map(_.durationMs).sum,
          ph.map(p => (p.startTimeMs, p.endTimeMs)).toSeq))
    }
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled || !recording) body
    else {
      val parent = stack.headOption.map(_.id).getOrElse(-1)
      val s = new Span(spans.size, parent, name, System.currentTimeMillis(),
        System.nanoTime())
      spans += s
      stack = s :: stack
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty(SpanProp)
      sc.setLocalProperty(SpanProp, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        sc.setLocalProperty(SpanProp, prev)
        stack = stack.tail
      }
    }

  /** Adds `v` to counter `key` of the innermost open span. */
  def count(key: String, v: Double): Unit =
    if (enabled) stack.headOption.foreach { s =>
      s.counters(key) = s.counters.getOrElse(key, 0.0) + v
    }

  /** Waits until the listeners have seen every event, then attributes
    * jobs, tasks and planning records to spans (inclusive of children). */
  def facts(): Map[Int, SparkFacts] = {
    if (!enabled) return Map.empty
    org.apache.spark.PerfbenchBridge.drainListenerBus(spark.sparkContext)
    spark.listenerManager.unregister(qeListener)
    spark.sparkContext.removeSparkListener(sparkListener)
    val byId = spans.map(s => s.id -> s).toMap
    def innermostAt(t: Long): Int = {
      val hits = spans.filter(s => s.startMs <= t && t <= s.endMs)
      if (hits.isEmpty) -1 else hits.maxBy(_.startNs).id
    }
    def lineage(id: Int): List[Int] =
      if (id < 0) Nil else id :: lineage(byId(id).parent)

    val jobList = jobs.asScala.toSeq.map { j =>
      val sid = if (j.spanId >= 0 && byId.contains(j.spanId)) j.spanId
        else innermostAt(j.startMs)
      (j, sid, Option(jobEnds.get(j.jobId)).map(_.longValue)
        .getOrElse(j.startMs))
    }
    val stageSpan = jobList.flatMap { case (j, sid, _) =>
      j.stageIds.map(_ -> sid) }.toMap
    val jobsBy = mutable.Map[Int, mutable.ArrayBuffer[(JobRec, Long)]]()
    jobList.foreach { case (j, sid, end) =>
      lineage(sid).foreach(a =>
        jobsBy.getOrElseUpdate(a, mutable.ArrayBuffer()) += ((j, end)))
    }
    val tasksBy = mutable.Map[Int, mutable.ArrayBuffer[TaskRec]]()
    tasks.asScala.foreach { t =>
      val sid = stageSpan.getOrElse(t.stageId, innermostAt(t.launchMs))
      lineage(sid).foreach(a =>
        tasksBy.getOrElseUpdate(a, mutable.ArrayBuffer()) += t)
    }
    val plansBy = mutable.Map[Int, mutable.ArrayBuffer[PlanRec]]()
    plans.asScala.foreach { p =>
      lineage(innermostAt(p.startMs)).foreach(a =>
        plansBy.getOrElseUpdate(a, mutable.ArrayBuffer()) += p)
    }
    spans.map { s =>
      val js = jobsBy.getOrElse(s.id, mutable.ArrayBuffer())
      val ivs = js.map { case (j, end) =>
        (math.max(j.startMs, s.startMs), math.min(end, s.endMs)) }
        .filter { case (a, b) => b >= a }
      val union = unionMs(ivs.toSeq)
      val ts = tasksBy.getOrElse(s.id, mutable.ArrayBuffer())
      val ps = plansBy.getOrElse(s.id, mutable.ArrayBuffer())
      val phaseIvs = ps.flatMap(_.phases)
      val planOutside = phaseIvs.map { case (a, b) =>
        (b - a) - overlapMs((a, b), union) }.sum
      s.id -> SparkFacts(
        jobs = js.size,
        stages = js.flatMap(_._1.stageIds).distinct.size,
        tasks = ts.size,
        failedTasks = ts.count(_.failed),
        jobS = union.map { case (a, b) => b - a }.sum / 1e3,
        planS = ps.map(_.ms).sum / 1e3,
        planOutsideJobsS = planOutside / 1e3,
        executorRunS = ts.map(_.runMs).sum / 1e3,
        executorCpuS = ts.map(_.cpuNs).sum / 1e9,
        gcS = ts.map(_.gcMs).sum / 1e3,
        inputBytes = ts.map(_.inBytes).sum,
        outputBytes = ts.map(_.outBytes).sum,
        shuffleReadBytes = ts.map(_.shReadBytes).sum,
        shuffleWriteBytes = ts.map(_.shWriteBytes).sum,
        spillBytes = ts.map(_.spillBytes).sum,
        taskMs = ts.map(_.durationMs).toSeq)
    }.toMap
  }
}

object Tracer {
  val SpanProp = "perfbench.span"

  /** Listener timestamps have millisecond resolution and come from a
    * different clock read than the span's own nanoTime; a span's pieces are
    * allowed to overshoot its wall by this much per job, plus once. */
  val ToleranceMsPerJob = 2.0
  val ToleranceMsBase = 5.0

  private final case class JobRec(jobId: Int, startMs: Long, spanId: Int,
                                  stageIds: Seq[Int])
  private final case class TaskRec(stageId: Int, launchMs: Long,
      durationMs: Long, runMs: Long, cpuNs: Long, gcMs: Long, inBytes: Long,
      outBytes: Long, shReadBytes: Long, shWriteBytes: Long, spillBytes: Long,
      failed: Boolean)
  private final case class PlanRec(startMs: Long, ms: Long,
                                   phases: Seq[(Long, Long)])

  /** Merged, sorted union of closed-open millisecond intervals. */
  def unionMs(ivs: Seq[(Long, Long)]): Seq[(Long, Long)] =
    ivs.sortBy(_._1).foldLeft(List.empty[(Long, Long)]) {
      case ((a0, b0) :: rest, (a, b)) if a <= b0 => (a0, math.max(b0, b)) :: rest
      case (acc, iv) => iv :: acc
    }.reverse

  def overlapMs(iv: (Long, Long), union: Seq[(Long, Long)]): Long =
    union.map { case (a, b) =>
      math.max(0L, math.min(b, iv._2) - math.max(a, iv._1)) }.sum
}
