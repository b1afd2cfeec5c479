package graftbench

import java.time.Instant
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.{SparkContext, Success}
import org.apache.spark.graftbench.BusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import graftbench.Stats.Interval

/** Epoch milliseconds with sub-millisecond resolution, comparable across
  * processes on one machine (both sides anchor to the wall clock once and
  * then advance on the monotonic clock). */
object Clock {
  private val base: Long = {
    val now = Instant.now()
    now.getEpochSecond * 1000000000L + now.getNano - System.nanoTime()
  }
  def nowMs: Double = (base + System.nanoTime()) / 1e6
}

/** A closed span: one call into a layer. Spans of one operation share
  * `parent` links; `thread` tells concurrent clients apart. */
final case class Span(id: Long, name: String, parent: Long, thread: String,
                      start: Double, end: Double) {
  def interval: Interval = Interval(start, end)
  def durationMs: Double = end - start
}

/** Spans kept in memory, written out when the run ends. When tracing is
  * off, `span` runs its body and records nothing. */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  import Tracer._
  private val nextId = new AtomicLong(1)
  private val closed = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue = Nil }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId.getAndIncrement()
      val parent = stack.get.headOption.getOrElse(0L)
      val prev = sc.getLocalProperty(SpanKey)
      sc.setLocalProperty(SpanKey, id.toString)
      stack.set(id :: stack.get)
      val start = Clock.nowMs
      try body
      finally {
        val end = Clock.nowMs
        // every job event of this span is delivered before it closes
        BusDrain(sc)
        stack.set(stack.get.tail)
        sc.setLocalProperty(SpanKey, prev)
        closed.add(Span(id, name, parent, Thread.currentThread.getName, start, end))
      }
    }

  /** Record a span whose bounds were measured elsewhere (another
    * process, or a listener event). */
  def record(name: String, start: Double, end: Double, thread: String): Unit =
    if (enabled) closed.add(Span(nextId.getAndIncrement(), name, 0L, thread, start, end))

  def spans: Seq[Span] = closed.asScala.toSeq.sortBy(_.start)
}

object Tracer {
  /** Spark local property carrying the id of the span that submits a job. */
  val SpanKey = "graftbench.span"
}

final case class JobRec(id: Int, start: Double, span: Option[Long], stages: Seq[Int])

final case class TaskRec(stage: Int, launch: Double, finish: Double, runMs: Long,
                         cpuNs: Long, deserMs: Long, resultSerMs: Long, gettingResultMs: Long,
                         shuffleWriteB: Long, shuffleReadB: Long, spillB: Long, failed: Boolean) {
  def interval: Interval = Interval(launch, finish max launch)
  /** Spark's own definition: time a launched task spent neither
    * deserialising, running nor shipping its result. */
  def schedulerDelayMs: Double =
    ((finish - launch) - runMs - deserMs - resultSerMs - gettingResultMs) max 0
}

/** The benchmark's SparkListener: jobs, stages run and tasks. */
final class SparkCollector extends SparkListener {
  private val jobStarts = new ConcurrentHashMap[Int, (Double, Option[Long], Seq[Int])]()
  private val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val stagesRun = new ConcurrentLinkedQueue[Int]()
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toLong)
    jobStarts.put(e.jobId, (e.time.toDouble, span, e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStarts.remove(e.jobId)).foreach { case (start, span, stages) =>
      jobs.add(JobRec(e.jobId, start, span, stages))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stagesRun.add(e.stageInfo.stageId)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val i = e.taskInfo
    val failed = e.reason != Success
    tasks.add(if (m == null)
      TaskRec(e.stageId, i.launchTime, i.finishTime, 0, 0, 0, 0, 0, 0, 0, 0, failed)
    else TaskRec(e.stageId, i.launchTime.toDouble, i.finishTime.toDouble,
      m.executorRunTime, m.executorCpuTime, m.executorDeserializeTime,
      m.resultSerializationTime,
      if (i.gettingResultTime > 0) i.finishTime - i.gettingResultTime else 0L,
      m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
      m.memoryBytesSpilled + m.diskBytesSpilled, failed))
  }

  def allJobs: Seq[JobRec] = jobs.asScala.toSeq.sortBy(_.start)
  def allTasks: Seq[TaskRec] = tasks.asScala.toSeq
  def stagesRunIds: Seq[Int] = stagesRun.asScala.toSeq
}

/** Per-batch progress of every streaming query, from the benchmark's
  * own StreamingQueryListener. */
final case class BatchProgress(runId: String, batchId: Long, startMs: Double,
                               inputRows: Long, durations: Map[String, Long]) {
  def triggerMs: Double = durations.getOrElse("triggerExecution", 0L).toDouble
  def interval: Interval = Interval(startMs, startMs + triggerMs)
}

final class StreamCollector extends StreamingQueryListener {
  private val batches = new ConcurrentLinkedQueue[BatchProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    batches.add(BatchProgress(p.runId.toString, p.batchId,
      Instant.parse(p.timestamp).toEpochMilli.toDouble, p.numInputRows,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
  }
  def forRun(runId: String): Seq[BatchProgress] =
    batches.asScala.toSeq.filter(_.runId == runId).sortBy(_.batchId)
}

/** Spark totals over a set of jobs, with the window they ran in. */
final case class SparkTotals(jobs: Int, stages: Int, tasks: Int, executorRunS: Double,
                             executorCpuS: Double, schedulerDelayS: Double,
                             shuffleWriteMb: Double, shuffleReadMb: Double, spillMb: Double,
                             failedTasks: Int, busyCoreFrac: Double, driverOnlyS: Double)

object SparkTotals {
  private val Mb = 1024.0 * 1024.0

  def of(jobs: Seq[JobRec], allTasks: Seq[TaskRec], stagesRun: Seq[Int],
         window: Interval, cores: Int): SparkTotals = {
    val stageSet = jobs.flatMap(_.stages).toSet
    val ts = allTasks.filter(t => stageSet(t.stage))
    val runS = ts.map(_.runMs).sum / 1e3
    val wallS = window.length / 1e3
    SparkTotals(jobs.size, stagesRun.count(stageSet), ts.size, runS,
      ts.map(_.cpuNs).sum / 1e9, ts.map(_.schedulerDelayMs).sum / 1e3,
      ts.map(_.shuffleWriteB).sum / Mb, ts.map(_.shuffleReadB).sum / Mb,
      ts.map(_.spillB).sum / Mb, ts.count(_.failed),
      if (wallS > 0) Stats.busyCoreFrac(runS, wallS, cores) else 0.0,
      Stats.driverOnly(window, ts.map(_.interval)) / 1e3)
  }

  /** Jobs whose span property names an open span at the time they
    * started. A job whose property is missing or names a span that was
    * not open then (a pooled thread still carrying a stale property)
    * cannot be attributed and is left out. */
  def attribute(jobs: Seq[JobRec], spans: Seq[Span]): (Map[Long, Seq[JobRec]], Seq[JobRec]) = {
    val byId = spans.map(s => s.id -> s).toMap
    val (ok, stray) = jobs.partition(j => j.span.flatMap(byId.get)
      .exists(s => j.start >= s.start - 1 && j.start <= s.end + 1))
    (ok.groupBy(_.span.get), stray)
  }
}
