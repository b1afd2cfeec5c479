package graftbench

import java.nio.file.Path
import java.util.concurrent.{ConcurrentLinkedQueue, TimeUnit}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.sources.HttpIngest
import graft.streaming.{IndexSink, TweetPipeline}
import graftbench.Stats.{Commit, Interval}

/** tweet_ingest: the reference's live path, as an open loop.
  *
  * A separate generator process POSTs seeded tweets to `HttpIngest` at
  * [[Rate]] per second over at most `nproc` keep-alive connections. A
  * fixed processing-time trigger appends each micro-batch to the index
  * through `IndexSink.writeBatch`, partitioned by sentiment. A tweet's
  * freshness runs from its due time until the batch holding it has been
  * written, i.e. until `IndexSink.read` can see it. */
object Ingest {
  val Rate = 20
  val TriggerMs = 1000L
  val PartitionCols = Seq("sentiment")
  val TailP = 0.9
  val WarmTweets = 5
  /** Time the generator process gets to start before its first tweet is due. */
  val LeadMs = 1500
  /** Warm-up tweets are generated far from the measured ones. */
  val WarmIndex = 1000000
  val WarmKeyBase = 1600000000000L

  /** The key every index row carries: its tweet's due time. */
  val keyCol: Column = coalesce(unix_millis(col("created_at")),
    regexp_extract(col(TweetPipeline.CorruptCol), "due=(\\d+)", 1).cast("long"))

  def run(ctx: Ctx): Result = {
    val res = new Result
    val commits = new ConcurrentLinkedQueue[Commit]()
    val writeMs = new ConcurrentLinkedQueue[Interval]()
    val index = ctx.work.resolve("index")

    val http = new HttpIngest(ctx.spark)
    val query = http.enriched.writeStream
      .trigger(Trigger.ProcessingTime(TriggerMs))
      .option("checkpointLocation", ctx.work.resolve("ckpt").toString)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        // the keys ride along in the write's own job (no extra pass)
        val obs = Observation(s"keys-$id")
        val keyed = batch.observe(obs, collect_list(keyCol).as("keys"))
        val t0 = Clock.nowMs
        ctx.tracer.span("index.writeBatch") {
          IndexSink.writeBatch(keyed, index.toString, PartitionCols)
        }
        val t1 = Clock.nowMs
        writeMs.add(Interval(t0, t1))
        commits.add(Commit(t1, obs.get("keys").asInstanceOf[Seq[Long]]))
        ()
      }
      .start()
    // warm-up: a few tweets through the whole path before timing, so the
    // first measured batch does not pay for class loading and codegen
    val gen = new TweetGen(ctx.seed)
    val warm = (0 until WarmTweets).map(j => gen.tweet(WarmIndex + j, WarmKeyBase + j))
    val conn = new PostGen.Conn(http.boundPort)
    try warm.foreach(t => conn.post(t.json.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    finally conn.close()
    val warmBy = Clock.nowMs + 60000
    def committedRows = commits.asScala.iterator.map(_.keys.size.toLong).sum
    while (committedRows < WarmTweets && Clock.nowMs < warmBy) Thread.sleep(20)
    require(committedRows == WarmTweets, "warm-up tweets were not committed")
    res.e2e("setup_s") = ctx.setupS
    val warmCommits = commits.size

    // ---- the measured window: the generator offers Rate/s for `seconds`
    val count = Rate * ctx.seconds
    val t0 = (Clock.nowMs + LeadMs).toLong
    val posts = ctx.work.resolve("posts.tsv")
    val proc = PostGen.start(Seq(http.boundPort, ctx.seed, t0, Rate, count,
      ctx.cores min 4, posts))
    val genOk = proc.waitFor(ctx.seconds + 60L, TimeUnit.SECONDS)
    if (!genOk) { proc.destroyForcibly(); proc.waitFor() }
    require(genOk && proc.exitValue == 0, s"generator failed (exit ${proc.exitValue})")
    val sent = PostGen.read(posts)
    val accepted = sent.filter(_.status == 200)
    // drain: wait until every accepted tweet has been committed
    val drainBy = Clock.nowMs + 20000
    while (committedRows < accepted.size + WarmTweets && Clock.nowMs < drainBy) Thread.sleep(50)
    val end = Clock.nowMs
    query.stop()
    http.stop()
    res.window = Interval(t0.toDouble, end)

    // ---- end-to-end numbers
    val tweets = (0 until count).map(i => gen.tweet(i, PostGen.dueMs(t0, Rate, i)))
    val due = accepted.map(p => p.due -> p.due).toMap
    val cs = commits.asScala.toSeq.sortBy(_.atMs).drop(warmCommits)
    val fresh = Stats.freshness(due, cs)
    res.attempted = count
    res.failed = (sent.size - accepted.size) + fresh.missing.size + (count - sent.size)
    if (fresh.duplicates.nonEmpty) res.mismatch(s"${fresh.duplicates.size} tweets committed twice")
    if (fresh.unexpected.nonEmpty) res.mismatch(s"${fresh.unexpected.size} unexpected keys in the index")
    val f = fresh.ms.values.toSeq
    res.e2e("latency_p50_ms") = Stats.percentile(f, 0.5)
    res.e2e("latency_tail_ms") = Stats.percentile(f, TailP)
    // commits after the first: the first batch absorbs the stream's start
    val steady = cs.drop(1)
    res.e2e("rate_per_s") =
      steady.map(_.keys.size).sum / ((steady.last.atMs - cs.head.atMs) / 1e3)

    checkIndex(ctx, index, warm ++ tweets.filter(t => due.contains(t.key)), res)

    if (ctx.tracer.enabled) layers(ctx, res, query.runId.toString, sent, cs,
      writeMs.asScala.toSeq.drop(warmCommits), index)
    res
  }

  /** Every accepted tweet is in the index once, with the hashtags,
    * sentiment and user the generator expects. */
  def checkIndex(ctx: Ctx, index: Path, expected: Seq[Tweet], res: Result): Unit = {
    val rows = IndexSink.read(ctx.spark, index.toString)
      .select(keyCol.as("key"), col("hashtags"), col("sentiment"), col("sentiment_score"),
        col("user.id").as("uid"))
      .collect()
    val byKey = expected.map(t => t.key -> t).toMap
    if (rows.length != byKey.size)
      res.mismatch(s"index holds ${rows.length} rows, expected ${byKey.size}")
    rows.foreach { r =>
      byKey.get(r.getLong(0)) match {
        case None => res.mismatch(s"index row with unknown key ${r.get(0)}")
        case Some(t) => compare(t, r).foreach(res.mismatch)
      }
    }
  }

  private def compare(t: Tweet, r: Row): Option[String] = {
    val tags = if (r.isNullAt(1)) Nil else r.getSeq[String](1)
    val score = if (r.isNullAt(3)) 0 else r.getInt(3)
    val uid = if (r.isNullAt(4)) -1L else r.getLong(4)
    val ok = tags == t.hashtags && r.getString(2) == t.sentiment &&
      score == t.score && uid == t.userId && (t.malformed == r.isNullAt(3))
    if (ok) None
    else Some(s"tweet ${t.key}: got tags=$tags sentiment=${r.get(2)} score=${r.get(3)} " +
      s"user=$uid, expected tags=${t.hashtags} sentiment=${t.sentiment} score=${t.score} " +
      s"user=${t.userId}")
  }

  private def layers(ctx: Ctx, res: Result, runId: String,
                     sent: Seq[PostGen.Post], commits: Seq[Commit], writes: Seq[Interval],
                     index: Path): Unit = {
    val l = res.layer
    sent.foreach(p => ctx.tracer.record("http.post", p.start, p.end, thread = "postgen"))
    l("http.posts") = sent.size
    l("http.rejected") = sent.count(_.status != 200)
    l("http.post_p50_ms") = Stats.percentile(sent.map(p => p.end - p.start), 0.5)
    l("http.post_p95_ms") = Stats.percentile(sent.map(p => p.end - p.start), 0.95)
    l("gen.late_p95_ms") = Stats.percentile(sent.map(p => (p.start - p.due) max 0.0), 0.95)
    // batches of the measured window only: the warm-up batch ran before it
    val batches = ctx.streams.forRun(runId)
      .filter(b => b.inputRows > 0 && b.startMs >= res.window.start - LeadMs)
    Layers.stream(ctx, res, batches, writes)
    l("stream.backlog_max_rows") = Stats.backlogMax(
      sent.filter(_.status == 200).map(_.end), commits.map(c => (c.atMs, c.keys.size.toLong)))
    l("index.write_p50_ms") = Stats.median(writes.map(_.length))
    l("index.write_max_ms") = writes.map(_.length).max
    // the files cover the whole index, warm-up batch included
    Layers.indexFiles(res, index, ctx.streams.forRun(runId).count(_.inputRows > 0),
      commits.map(_.keys.size.toLong).sum + WarmTweets)
  }
}
