package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.graftbench.BusDrain
import org.apache.spark.sql.SparkSession
import graftbench.Stats.Interval

/** What one run hands back: the end-to-end metrics (always measured),
  * the per-layer metrics (filled in when tracing), and the outcome of
  * the output checks. */
final class Result {
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layer = mutable.LinkedHashMap.empty[String, Double]
  var attempted = 0L
  var failed = 0L
  val wrong = mutable.ArrayBuffer.empty[String]
  /** The measured window, for the Spark totals. */
  var window: Interval = Interval(0, 0)

  def mismatch(msg: String): Unit = synchronized { if (wrong.size < 50) wrong += msg }
  def correct: Boolean = wrong.isEmpty
}

/** `startMs` is when the JVM under test started, on [[Clock]]'s scale:
  * `setup_s` runs from it to the first timed operation. */
final case class Ctx(spark: SparkSession, tracer: Tracer, jobs: SparkCollector,
                     streams: StreamCollector, seed: Long, seconds: Int, work: Path,
                     cores: Int, benchDir: Path, startMs: Double) {
  def setupS: Double = (Clock.nowMs - startMs) / 1e3
}

/** Entry point: `Main --workload <name> --seed <n> --seconds <s> --trace
  * <0|1> --work <dir> --out <file> --bench-dir <dir>`. Runs one workload
  * in this JVM and writes the result line to `--out`. */
object Main {

  /** Units of every end-to-end metric, in output order. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "latency_p50_ms" -> "ms", "latency_tail_ms" -> "ms",
    "rate_per_s" -> "1/s", "peak_rss_mb" -> "MB")

  /** Units of every per-layer metric, in output order. Each run prints
    * all of them; a layer the workload never calls reads 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "failed_frac" -> "frac",
    "http.post_p50_ms" -> "ms", "http.post_p95_ms" -> "ms", "http.posts" -> "count",
    "http.rejected" -> "count", "gen.late_p95_ms" -> "ms",
    "stream.batches" -> "count", "stream.rows_per_batch" -> "rows",
    "stream.jobs_per_batch" -> "count", "stream.trigger_p50_ms" -> "ms",
    "stream.trigger_max_ms" -> "ms", "stream.planning_ms" -> "ms",
    "stream.add_batch_ms" -> "ms", "stream.wal_commit_ms" -> "ms",
    "stream.latest_offset_ms" -> "ms", "stream.self_p50_ms" -> "ms",
    "stream.backlog_max_rows" -> "rows",
    "index.write_p50_ms" -> "ms", "index.write_max_ms" -> "ms", "index.files" -> "count",
    "index.files_per_batch" -> "count", "index.bytes_per_row" -> "B",
    "index.read_plan_ms" -> "ms", "index.files_read_per_query" -> "count",
    "index.partitions_read_per_query" -> "count",
    "index.rows_read_per_row_returned" -> "ratio",
    "index.spark_jobs" -> "count", "index.executor_run_s" -> "s",
    "registry.build_s" -> "s", "registry.plan_s" -> "s", "registry.exec_s" -> "s",
    "registry.build_jobs" -> "count", "registry.exec_jobs" -> "count",
    "registry.driver_only_s" -> "s", "registry.busy_core_frac" -> "frac") ++
    Registry.Queries.map(q => s"registry.${Registry.short(q)}_s" -> "s") ++ Seq(
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.executor_run_s" -> "s", "spark.executor_cpu_s" -> "s",
    "spark.busy_core_frac" -> "frac", "spark.driver_only_s" -> "s",
    "spark.scheduler_delay_s" -> "s", "spark.shuffle_write_mb" -> "MB",
    "spark.shuffle_read_mb" -> "MB", "spark.spill_mb" -> "MB", "spark.gc_s" -> "s",
    "spark.failed_tasks" -> "count", "spark.unattributed_jobs" -> "count")

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val trace = a("trace") == "1"
    val work = Paths.get(a("work")).toAbsolutePath
    val out = Paths.get(a("out"))
    val cores = Runtime.getRuntime.availableProcessors()
    Files.createDirectories(work)

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graftbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.Bench.silenceKnownBenignWarnings()

    val tracer = new Tracer(trace, spark.sparkContext)
    val jobs = new SparkCollector
    val streams = new StreamCollector
    if (trace) {
      spark.sparkContext.addSparkListener(jobs)
      spark.streams.addListener(streams)
    }
    val ctx = Ctx(spark, tracer, jobs, streams, a("seed").toLong, a("seconds").toInt, work,
      cores, Paths.get(a("bench-dir")), ManagementFactory.getRuntimeMXBean.getStartTime.toDouble)
    val gc0 = gcMs()
    val res = workload match {
      case "tweet_ingest" => Ingest.run(ctx)
      case "tweet_index" => IndexWorkload.run(ctx)
      case "registry_heavy" => Registry.run(ctx)
      case other => sys.error(s"unknown workload $other")
    }
    res.e2e("peak_rss_mb") = peakRssMb()
    if (trace) {
      BusDrain(spark.sparkContext)
      sparkLayer(ctx, res, jobs, (gcMs() - gc0) / 1e3)
      writeTrace(work.getParent.resolve(s"trace-$workload-${ctx.seed}.json"), workload,
        ctx, res, jobs)
    }
    res.wrong.foreach(w => System.err.println(s"[graftbench] WRONG: $w"))
    Files.write(out, resultLine(res, trace).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  /** Spark totals over the measured window, plus jobs that no span could
    * claim. */
  private def sparkLayer(ctx: Ctx, res: Result, c: SparkCollector, gcS: Double): Unit = {
    val w = res.window
    val inWindow = c.allJobs.filter(j => j.start >= w.start && j.start <= w.end)
    val t = SparkTotals.of(inWindow, c.allTasks, c.stagesRunIds, w, ctx.cores)
    val (_, stray) = SparkTotals.attribute(inWindow, ctx.tracer.spans)
    val l = res.layer
    l("spark.jobs") = t.jobs; l("spark.stages") = t.stages; l("spark.tasks") = t.tasks
    l("spark.executor_run_s") = t.executorRunS; l("spark.executor_cpu_s") = t.executorCpuS
    l("spark.busy_core_frac") = t.busyCoreFrac; l("spark.driver_only_s") = t.driverOnlyS
    l("spark.scheduler_delay_s") = t.schedulerDelayS
    l("spark.shuffle_write_mb") = t.shuffleWriteMb; l("spark.shuffle_read_mb") = t.shuffleReadMb
    l("spark.spill_mb") = t.spillMb; l("spark.gc_s") = gcS
    l("spark.failed_tasks") = t.failedTasks; l("spark.unattributed_jobs") = stray.size
    if (t.failedTasks > 0) res.failed += t.failedTasks
    l("failed_frac") = res.failed.toDouble / (res.attempted max 1)
  }

  /** Spark totals of the jobs attributed to spans named `name` that
    * started inside `window`. */
  def spanTotals(ctx: Ctx, window: Interval, name: String => Boolean): SparkTotals = {
    val c = ctx.jobs
    val spans = ctx.tracer.spans
    val (attributed, _) = SparkTotals.attribute(c.allJobs, spans)
    val ids = spans.filter(s => name(s.name) && s.start >= window.start).map(_.id).toSet
    val js = attributed.collect { case (id, j) if ids(id) => j }.flatten.toSeq
    val spanMs = spans.filter(s => ids(s.id)).map(_.durationMs).sum
    SparkTotals.of(js, c.allTasks, c.stagesRunIds, Interval(0, spanMs), ctx.cores)
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime max 0L).sum

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  private def resultLine(res: Result, trace: Boolean): String = {
    val names = if (trace) PerLayer else EndToEnd
    val src = if (trace) res.layer else res.e2e
    val metrics = names.map { case (n, u) =>
      s""""$n": {"value": ${num(src.getOrElse(n, 0.0))}, "unit": "$u"}"""
    }.mkString(", ")
    s"""{"correct": ${res.correct}, "attempted": ${res.attempted max 1}, """ +
      s""""failed": ${res.failed}, "metrics": {$metrics}}"""
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  private def writeTrace(path: Path, workload: String, ctx: Ctx, res: Result,
                         jobs: SparkCollector): Unit = {
    val om = new ObjectMapper()
    val root = om.createObjectNode()
    root.put("workload", workload); root.put("seed", ctx.seed)
    val e2e = root.putObject("end_to_end")
    res.e2e.foreach { case (k, v) => e2e.put(k, v) }
    val layer = root.putObject("per_layer")
    res.layer.foreach { case (k, v) => layer.put(k, v) }
    val (attributed, _) = SparkTotals.attribute(jobs.allJobs, ctx.tracer.spans)
    val spans = root.putArray("spans")
    ctx.tracer.spans.foreach { s =>
      val n = spans.addObject()
      n.put("id", s.id); n.put("name", s.name); n.put("parent", s.parent)
      n.put("thread", s.thread); n.put("start_ms", s.start); n.put("end_ms", s.end)
      attributed.get(s.id).foreach { js =>
        val t = SparkTotals.of(js, jobs.allTasks, jobs.stagesRunIds, s.interval, ctx.cores)
        val m = n.putObject("spark")
        m.put("jobs", t.jobs); m.put("stages", t.stages); m.put("tasks", t.tasks)
        m.put("executor_run_s", t.executorRunS); m.put("executor_cpu_s", t.executorCpuS)
        m.put("busy_core_frac", t.busyCoreFrac); m.put("driver_only_s", t.driverOnlyS)
        m.put("scheduler_delay_s", t.schedulerDelayS)
        m.put("shuffle_write_mb", t.shuffleWriteMb); m.put("shuffle_read_mb", t.shuffleReadMb)
        m.put("spill_mb", t.spillMb); m.put("failed_tasks", t.failedTasks)
      }
    }
    om.writerWithDefaultPrettyPrinter().writeValue(path.toFile, root)
  }
}
