package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import graft.streaming.{IndexSink, TweetPipeline}
import graftbench.Stats.Interval

/** tweet_index: bulk writes, then reads on the same files.
  *
  * Set-up writes a seeded backlog of tweet JSON files. The timed part
  * drains it through `TweetPipeline.streamIngest(maxFilesPerTrigger)`
  * into `IndexSink.start`, then `nproc` closed-loop clients run the
  * README query mix through `IndexSink.read` for `seconds`: by hashtag,
  * by sentiment, by user, and a hashtag's sentiment counts. */
object IndexWorkload {
  val BacklogFiles = 300
  val TweetsPerFile = 10
  val MaxFilesPerTrigger = 40
  val WarmFiles = 4
  val WarmQueries = 4
  val TailP = 0.9
  /** Keys (due times) of the backlog start here; one millisecond apart. */
  val KeyBase = 1700000000000L

  final case class Read(span: Interval, planMs: Double, returned: Long, scanRows: Long,
                        files: Long, partitions: Long)

  def run(ctx: Ctx): Result = {
    val res = new Result
    val gen = new TweetGen(ctx.seed)
    val tweets = (0 until BacklogFiles * TweetsPerFile).map(i => gen.tweet(i, KeyBase + i))

    val backlog = ctx.work.resolve("backlog")
    writeBacklog(backlog, tweets)
    val index = ctx.work.resolve("index")
    val expected = new Expected(tweets)
    // warm-up: a small backlog through the same write and read paths, so
    // the timed drain and reads do not pay for class loading and codegen
    val warmDir = ctx.work.resolve("warm")
    val warm = tweets.take(WarmFiles * TweetsPerFile)
    writeBacklog(warmDir.resolve("backlog"), warm)
    IndexSink.start(
      TweetPipeline.streamIngest(ctx.spark, warmDir.resolve("backlog").toString,
        Some(MaxFilesPerTrigger)),
      warmDir.resolve("index").toString, warmDir.resolve("ckpt").toString,
      Ingest.PartitionCols).awaitTermination()
    val warmExpected = new Expected(warm)
    val r0 = new SplittableRandom(TweetGen.mix(ctx.seed))
    (0 until WarmQueries).foreach(_ => read(ctx, warmDir.resolve("index"), gen.query(r0),
      warmExpected, res))
    res.e2e("setup_s") = ctx.setupS

    // ---- timed: drain the backlog into the index
    val start = Clock.nowMs
    val q = ctx.tracer.span("index.start") {
      val df = ctx.tracer.span("stream.streamIngest") {
        TweetPipeline.streamIngest(ctx.spark, backlog.toString, Some(MaxFilesPerTrigger))
      }
      val q = IndexSink.start(df, index.toString, ctx.work.resolve("ckpt").toString,
        Ingest.PartitionCols)
      q.awaitTermination()
      q
    }
    val drained = Clock.nowMs
    res.e2e("rate_per_s") = tweets.size / ((drained - start) / 1e3)

    // ---- timed: closed-loop reads for `seconds`, and for as long as it
    // takes to gather enough samples for the reported p90
    val reads = new ConcurrentLinkedQueue[Read]()
    val until = Clock.nowMs + ctx.seconds * 1000.0
    val minReads = Stats.samplesNeeded(TailP) + 20
    val clients = (0 until ctx.cores).map { c =>
      val t = new Thread(() => {
        val r = new SplittableRandom(TweetGen.mix(ctx.seed * 7919 + c))
        while (Clock.nowMs < until || reads.size < minReads)
          reads.add(read(ctx, index, gen.query(r), expected, res))
      }, s"index-client-$c")
      t.start()
      t
    }
    clients.foreach(_.join())
    val end = Clock.nowMs
    res.window = Interval(start, end)
    val rs = reads.asScala.toSeq
    res.attempted = tweets.size + rs.size
    res.e2e("latency_p50_ms") = Stats.percentile(rs.map(_.span.length), 0.5)
    res.e2e("latency_tail_ms") = Stats.percentile(rs.map(_.span.length), TailP)

    Ingest.checkIndex(ctx, index, tweets, res)

    if (ctx.tracer.enabled) {
      val l = res.layer
      val batches = ctx.streams.forRun(q.runId.toString).filter(_.inputRows > 0)
      val writes = batches.map(b => Interval(0, b.durations.getOrElse("addBatch", 0L).toDouble))
      Layers.stream(ctx, res, batches, Nil)
      l("index.write_p50_ms") = Stats.median(writes.map(_.length))
      l("index.write_max_ms") = writes.map(_.length).max
      Layers.indexFiles(res, index, batches.size, tweets.size)
      l("index.read_plan_ms") = Stats.median(rs.map(_.planMs))
      l("index.files_read_per_query") = rs.map(_.files).sum.toDouble / rs.size
      l("index.partitions_read_per_query") = rs.map(_.partitions).sum.toDouble / rs.size
      l("index.rows_read_per_row_returned") =
        rs.map(_.scanRows).sum.toDouble / (rs.map(_.returned).sum max 1L)
      val t = Main.spanTotals(ctx, res.window, _.startsWith("index."))
      l("index.spark_jobs") = t.jobs
      l("index.executor_run_s") = t.executorRunS
    }
    res
  }

  /** JSON Lines files, `TweetsPerFile` tweets each. */
  def writeBacklog(dir: Path, tweets: Seq[Tweet]): Unit = {
    Files.createDirectories(dir)
    tweets.grouped(TweetsPerFile).zipWithIndex.foreach { case (ts, i) =>
      Files.write(dir.resolve(s"tweets-${TweetGen.pad(i, 5)}.json"),
        ts.map(_.json).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    }
  }

  private def keyOf(r: Row): Long = r.getAs[Long]("key")

  /** One query from the mix, checked against the generator's answer. */
  private def read(ctx: Ctx, index: Path, q: IndexQuery, expected: Expected,
                   res: Result): Read = {
    val t0 = Clock.nowMs
    ctx.tracer.span("index.read") {
      val (df, planned) = ctx.tracer.span("index.read_plan") {
        val df = plan(IndexSink.read(ctx.spark, index.toString), q)
        df.queryExecution.executedPlan
        (df, Clock.nowMs)
      }
      val rows = ctx.tracer.span("index.read_exec")(df.collect())
      val returned = q match {
        case h: HashtagSentiment =>
          val got = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
          if (got != expected.counts(h)) res.mismatch(s"$q: got $got, expected ${expected.counts(h)}")
          got.values.sum
        case _ =>
          val keys = rows.map(keyOf)
          val want = expected.keys(q)
          if (keys.length != want.size || keys.toSet != want)
            res.mismatch(s"$q: got ${keys.length} rows, expected ${want.size}")
          keys.length.toLong
      }
      val scan = if (ctx.tracer.enabled) scans(df.queryExecution.executedPlan) else Nil
      def metric(n: String) = scan.flatMap(_.metrics.get(n)).map(_.value).sum
      Read(Interval(t0, Clock.nowMs), planned - t0, returned,
        metric("numOutputRows"), metric("numFiles"), metric("numPartitions"))
    }
  }

  private def plan(index: DataFrame, q: IndexQuery): DataFrame = {
    val rows = index.select(Ingest.keyCol.as("key"), col("text"), col("user"), col("hashtags"),
      col("space"), col("sentiment"))
    q match {
      case ByHashtag(t) => rows.filter(array_contains(col("hashtags"), t))
      case BySentiment(s) => rows.filter(col("sentiment") === s)
      case ByUser(u) => rows.filter(col("user.id") === u)
      case HashtagSentiment(t) =>
        index.filter(array_contains(col("hashtags"), t)).groupBy("sentiment").count()
    }
  }

  /** File scans of an executed plan, looking through adaptive stages. */
  private def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case s: FileSourceScanExec => Seq(s)
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case s: QueryStageExec => scans(s.plan)
    case other => other.children.flatMap(scans)
  }
}
