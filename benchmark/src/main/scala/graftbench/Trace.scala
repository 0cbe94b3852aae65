package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** One timed call into a layer. `op` is the measured op that caused it
  * (-1 during setup), `parent` the enclosing span (-1 at the top). */
final case class Span(id: Int, name: String, op: Int, parent: Int,
    startNs: Long, var endNs: Long)

/** Spans around every call the benchmark makes into a layer. Spark jobs
  * are attributed to the innermost open span through a thread-local job
  * property, which is exact with one client thread. Disabled, a span is
  * one branch around the call. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  /** The op the next spans belong to. */
  var op: Int = -1
  /** Named counts recorded at the same boundaries as the spans, over the
    * measured ops only. */
  val counts = mutable.LinkedHashMap.empty[String, Double]

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, name, op,
        open.headOption.map(_.id).getOrElse(-1), System.nanoTime(), 0L)
      spans += s
      open = s :: open
      sc.setLocalProperty(Tracer.Prop, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        open = open.tail
        sc.setLocalProperty(Tracer.Prop,
          open.headOption.map(_.id.toString).orNull)
      }
    }

  def count(name: String, v: Double): Unit =
    if (enabled && op >= 0) counts(name) = counts.getOrElse(name, 0.0) + v
}

object Tracer {
  val Prop = "graftbench.span"
}

/** Per-span Spark scheduler and task totals, fed by the listener bus. */
final class JobStats extends SparkListener {
  final class Acc {
    var jobs, stages, tasks, failedTasks = 0L
    var taskWaitMs, cpuNs, gcMs = 0L
    var inputBytes, shuffleRead, shuffleWrite, spill = 0L
  }
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val stageSubmit = mutable.Map.empty[Int, Long]
  private val jobSpan = mutable.Map.empty[Int, Int]
  /** (span, start ms, end ms) per finished job. */
  val jobs = mutable.ArrayBuffer.empty[(Int, Long, Long)]
  private val jobStart = mutable.Map.empty[Int, Long]
  val bySpan = mutable.Map.empty[Int, Acc]
  private var started, ended = 0L

  private def acc(span: Int) = bySpan.getOrElseUpdate(span, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p =>
      Option(p.getProperty(Tracer.Prop))).map(_.toInt).getOrElse(-1)
    e.stageIds.foreach(stageSpan(_) = span)
    jobSpan(e.jobId) = span
    jobStart(e.jobId) = e.time
    acc(span).jobs += 1
    started += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val span = jobSpan.getOrElse(e.jobId, -1)
    jobs += ((span, jobStart.getOrElse(e.jobId, e.time), e.time))
    ended += 1
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      stageSubmit(e.stageInfo.stageId) =
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { acc(stageSpan.getOrElse(e.stageInfo.stageId, -1)).stages += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = acc(stageSpan.getOrElse(e.stageId, -1))
    a.tasks += 1
    if (!e.taskInfo.successful) a.failedTasks += 1
    a.taskWaitMs += math.max(0L, e.taskInfo.launchTime -
      stageSubmit.getOrElse(e.stageId, e.taskInfo.launchTime))
    val m = e.taskMetrics
    if (m != null) {
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.inputBytes += m.inputMetrics.bytesRead
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Block until every started job's end event has been delivered. */
  def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    var stableSince = System.currentTimeMillis()
    var last = -1L
    while (System.currentTimeMillis() < deadline &&
      (synchronized(started != ended || started != last) ||
        System.currentTimeMillis() - stableSince < 200)) {
      val now = synchronized(started)
      if (now != last) { last = now; stableSince = System.currentTimeMillis() }
      Thread.sleep(20)
    }
  }
}

/** Catalyst phase times of every query execution, by start time. */
final class CatalystStats extends QueryExecutionListener {
  private val execs = mutable.ArrayBuffer.empty[(Long, Map[String, Long])]

  private def record(qe: QueryExecution): Unit = synchronized {
    val ph = qe.tracker.phases
    execs += ((ph.values.map(_.startTimeMs).minOption.getOrElse(0L),
      ph.map { case (k, v) => k -> v.durationMs }))
  }

  /** Totals over the executions that started at or after `startMs`. */
  def since(startMs: Long): Map[String, Double] = synchronized {
    val in = execs.filter(_._1 >= startMs).map(_._2)
    def total(p: String) = in.map(_.getOrElse(p, 0L)).sum.toDouble
    Map("catalyst.executions" -> in.size.toDouble,
      "catalyst.analysis_ms" -> total("analysis"),
      "catalyst.optimization_ms" -> total("optimization"),
      "catalyst.planning_ms" -> total("planning"))
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = record(qe)
}
