package graftbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import graftbench.Stats.Interval

/** Per-layer numbers shared by the two tweet workloads. */
object Layers {

  /** Micro-batch engine: durationMs phases of every batch that carried
    * rows, plus its self time (the trigger minus the index writes inside
    * it) and the jobs that started inside it. */
  def stream(ctx: Ctx, res: Result, batches: Seq[BatchProgress], writes: Seq[Interval]): Unit = {
    if (batches.isEmpty) return
    val l = res.layer
    def p50(phase: String) = Stats.median(batches.map(_.durations.getOrElse(phase, 0L).toDouble))
    l("stream.batches") = batches.size
    l("stream.rows_per_batch") = batches.map(_.inputRows).sum.toDouble / batches.size
    l("stream.trigger_p50_ms") = p50("triggerExecution")
    l("stream.trigger_max_ms") = batches.map(_.triggerMs).max
    l("stream.planning_ms") = p50("queryPlanning")
    l("stream.add_batch_ms") = p50("addBatch")
    l("stream.wal_commit_ms") = p50("walCommit")
    l("stream.latest_offset_ms") = p50("latestOffset")
    val spans = batches.map { b =>
      ctx.tracer.record("stream.batch", b.interval.start, b.interval.end, thread = "stream")
      b.interval
    }
    l("stream.self_p50_ms") = Stats.median(spans.map(s => Stats.selfTime(s, writes)))
    val jobStarts = ctx.jobs.allJobs.map(_.start)
    l("stream.jobs_per_batch") =
      spans.map(s => jobStarts.count(t => t >= s.start && t <= s.end)).sum.toDouble / spans.size
  }

  /** Files the index holds and what a row costs on disk. */
  def indexFiles(res: Result, index: Path, batches: Int, rows: Long): Unit = {
    val files = Files.walk(index).iterator.asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet")).toSeq
    val l = res.layer
    l("index.files") = files.size
    l("index.files_per_batch") = files.size.toDouble / (batches max 1)
    l("index.bytes_per_row") = files.map(Files.size).sum.toDouble / (rows max 1L)
  }
}
