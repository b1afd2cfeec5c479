package graftbench

import java.nio.file.Path
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType
import graft.SparkEntry
import graftbench.Stats.Interval

/** registry_heavy: the job-bound batch tier.
  *
  * Queries from the driver registry whose time is driver rounds and job
  * count rather than data, run one at a time through
  * `SparkEntry.queries` into the `noop` sink over the test corpus at
  * scale 0.001 (TESTDATA.md), a copy of which is kept in `data/sf0.001`
  * beside the benchmark, in a fixed order: an untimed warm-up pass, then
  * [[Passes]] timed passes, each query timed by its median over them.
  * Every execution's row count and order-insensitive content hash are
  * observed inside it and must equal the values committed in
  * `expected_registry.json`; a query that throws is a wrong output. The
  * corpus and order are fixed, so the seed changes nothing here. */
object Registry {
  val Queries: Seq[String] = Seq(
    "q242_cluster_takedown", "q243_audio_gate", "q96_chain_components_star")
  val Passes = 3
  val CorpusDir = "data/sf0.001"
  val ExpectedFile = "expected_registry.json"

  def short(q: String): String = q.takeWhile(_ != '_')

  def run(ctx: Ctx): Result = {
    val res = new Result
    val corpus = ctx.benchDir.resolve(CorpusDir).toString
    val expected = load(ctx.benchDir.resolve(ExpectedFile))
    val entry = SparkEntry.queries
    // warm-up: one untimed pass over the same queries takes the first-use
    // cost (class loading, JIT of the planner, codegen), which otherwise
    // lands on whichever query runs first and varies run to run
    Queries.foreach(q => entry(q)(ctx.spark, corpus).write.format("noop").mode("overwrite").save())
    res.e2e("setup_s") = ctx.setupS

    val start = Clock.nowMs
    val passes = (1 to Passes).map(_ => Queries.map(name => (name, runOnce(ctx, entry, name, corpus))))
    val end = Clock.nowMs
    res.window = Interval(start, end)
    val outcomes = passes.flatten
    res.attempted = outcomes.size
    res.failed = outcomes.count(_._2._1.isEmpty)
    outcomes.foreach {
      case (name, (None, _)) => res.mismatch(s"$name threw")
      case (name, (Some(got), _)) if !expected.get(name).contains(got) =>
        res.mismatch(s"$name: got rows=${got._1} hash=${got._2}, expected ${expected.get(name)}")
      case _ =>
    }

    // each query's time is its median over the passes
    val perQuery = Queries.map(q => q -> Stats.median(outcomes.collect {
      case (`q`, (_, ms)) => ms
    }))
    val ms = perQuery.map(_._2)
    res.e2e("latency_p50_ms") = Stats.median(ms)
    res.e2e("latency_tail_ms") = ms.max
    res.e2e("rate_per_s") = Queries.size / (ms.sum / 1e3)

    if (ctx.tracer.enabled) {
      val l = res.layer
      val spans = ctx.tracer.spans
      def perPass(name: String) = spans.filter(_.name == name).map(_.durationMs).sum / 1e3 / Passes
      l("registry.build_s") = perPass("registry.build")
      l("registry.plan_s") = perPass("registry.plan")
      l("registry.exec_s") = perPass("registry.exec")
      perQuery.foreach { case (q, t) => l(s"registry.${short(q)}_s") = t / 1e3 }
      l("registry.build_jobs") =
        Main.spanTotals(ctx, res.window, _ == "registry.build").jobs.toDouble / Passes
      l("registry.exec_jobs") =
        Main.spanTotals(ctx, res.window, _ == "registry.exec").jobs.toDouble / Passes
      val t = SparkTotals.of(ctx.jobs.allJobs.filter(j => j.start >= start),
        ctx.jobs.allTasks, ctx.jobs.stagesRunIds, res.window, ctx.cores)
      l("registry.driver_only_s") = t.driverOnlyS / Passes
      l("registry.busy_core_frac") = t.busyCoreFrac
    }
    res
  }

  /** One query, observed inside its own execution: (rows, hash) or None
    * when it threw, and its wall time in ms. */
  private def runOnce(ctx: Ctx, entry: Map[String, (SparkSession, String) => DataFrame],
                      name: String, corpus: String): (Option[(Long, String)], Double) = {
    val t0 = Clock.nowMs
    val got = ctx.tracer.span(s"registry.query:${short(name)}") {
      try {
        val df = ctx.tracer.span("registry.build")(entry(name)(ctx.spark, corpus))
        val obs = Observation(name)
        val observed = df.observe(obs, count(lit(1)).as("rows"), sum(lo(df)).as("lo"),
          sum(hi(df)).as("hi"))
        ctx.tracer.span("registry.plan")(observed.queryExecution.executedPlan)
        ctx.tracer.span("registry.exec") {
          observed.write.format("noop").mode("overwrite").save()
        }
        val m = obs.get
        val hash = f"${m("lo").asInstanceOf[Long]}%x-${m("hi").asInstanceOf[Long]}%x"
        Some((m("rows").asInstanceOf[Long], hash))
      } catch {
        case e: Exception =>
          System.err.println(s"[graftbench] $name threw: $e")
          None
      }
    }
    (got, Clock.nowMs - t0)
  }

  /** Per-row 64-bit hash split in two halves, so that summing over rows
    * neither overflows nor depends on row order. Maps are hashed through
    * their JSON form (Spark will not hash a map directly). */
  private def rowHash(df: DataFrame): Column =
    xxhash64(df.schema.fields.toSeq.map { f =>
      val c = col(s"`${f.name}`")
      f.dataType match {
        case _: MapType => to_json(c)
        case _ => c
      }
    }: _*)
  private def lo(df: DataFrame): Column = rowHash(df).bitwiseAND(lit(0xFFFFFFFFL))
  private def hi(df: DataFrame): Column = shiftrightunsigned(rowHash(df), 32)

  private def load(p: Path): Map[String, (Long, String)] = {
    val root = new ObjectMapper().readTree(p.toFile)
    root.fields().asScala.map { e =>
      e.getKey -> (e.getValue.get("rows").asLong(), e.getValue.get("hash").asText())
    }.toMap
  }
}
