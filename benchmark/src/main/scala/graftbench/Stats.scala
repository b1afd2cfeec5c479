package graftbench

/** The benchmark's own arithmetic. Everything here is pure so that
  * StatsSpec can pin it without a Spark session. */
object Stats {

  /** Samples that must lie above a reported percentile. A tail
    * percentile read off fewer samples is one or two outliers, not a
    * distribution, so asking for it is an error rather than a guess. */
  val MinBeyond = 10

  /** Nearest-rank percentile `p` (0 < p < 1) of `xs`. Fails unless at
    * least [[MinBeyond]] samples rank above the one returned. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(p > 0 && p < 1, s"percentile $p outside (0, 1)")
    val n = xs.size
    val rank = nearestRank(p, n)
    require(n - rank >= MinBeyond,
      s"p${fmtP(p)} needs at least $MinBeyond samples beyond it; " +
        s"$n samples leave ${n - rank}")
    xs.sorted.apply(rank - 1)
  }

  /** 1-based rank of the nearest-rank percentile; the epsilon keeps
    * p * n from rounding up past an exact rank (0.95 * 200). */
  private def nearestRank(p: Double, n: Int): Int = math.ceil(p * n - 1e-9).toInt max 1

  /** Smallest sample count for which [[percentile]] accepts `p`. */
  def samplesNeeded(p: Double): Int =
    Iterator.from(1).find(n => n - nearestRank(p, n) >= MinBeyond).get

  private def fmtP(p: Double): String =
    BigDecimal(p * 100).bigDecimal.stripTrailingZeros.toPlainString

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Closed-open interval [start, end) on one clock. */
  final case class Interval(start: Double, end: Double) {
    require(end >= start, s"interval ends before it starts: [$start, $end)")
    def length: Double = end - start
  }

  /** Length of the union of `xs`, each clipped to `window`. */
  def unionLength(xs: Seq[Interval], window: Interval): Double = {
    val clipped = xs.flatMap { i =>
      val s = i.start max window.start
      val e = i.end min window.end
      if (e > s) Some(Interval(s, e)) else None
    }.sortBy(_.start)
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    clipped.foreach { i =>
      if (curS.isNaN) { curS = i.start; curE = i.end }
      else if (i.start <= curE) curE = curE max i.end
      else { total += curE - curS; curS = i.start; curE = i.end }
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** A span's self time: its duration minus the part of it that its
    * children cover. Overlapping children count once. */
  def selfTime(span: Interval, children: Seq[Interval]): Double =
    span.length - unionLength(children, span)

  /** Share of the machine the executors kept busy: executor run time
    * over wall time times cores. */
  def busyCoreFrac(executorRunS: Double, wallS: Double, cores: Int): Double = {
    require(wallS > 0 && cores > 0, s"busyCoreFrac needs wall > 0 and cores > 0")
    executorRunS / (wallS * cores)
  }

  /** Wall time in `window` during which no task ran: the driver alone
    * (planning, scheduling, driver-side loops) held the result up. */
  def driverOnly(window: Interval, tasks: Seq[Interval]): Double =
    window.length - unionLength(tasks, window)

  /** One committed micro-batch: when its rows became queryable and the
    * keys of those rows. */
  final case class Commit(atMs: Double, keys: Seq[Long])

  /** Freshness of each tweet: from its due time (the key) until the
    * commit of the batch that made it queryable. A key committed twice
    * is a duplicate; a due key in no batch is missing. */
  final case class Freshness(ms: Map[Long, Double], missing: Set[Long],
                             duplicates: Set[Long], unexpected: Set[Long])

  def freshness(dueMs: Map[Long, Long], commits: Seq[Commit]): Freshness = {
    val seen = scala.collection.mutable.Map.empty[Long, Double]
    val dups = scala.collection.mutable.Set.empty[Long]
    val extra = scala.collection.mutable.Set.empty[Long]
    commits.sortBy(_.atMs).foreach { c =>
      c.keys.foreach { k =>
        dueMs.get(k) match {
          case None => extra += k
          case Some(due) =>
            if (seen.contains(k)) dups += k else seen(k) = c.atMs - due
        }
      }
    }
    Freshness(seen.toMap, dueMs.keySet -- seen.keySet, dups.toSet, extra.toSet)
  }

  /** Largest backlog (rows accepted but not yet committed), read just
    * before each commit lands, when it peaks. `acceptedMs` holds the
    * time each accepted row was acknowledged. */
  def backlogMax(acceptedMs: Seq[Double], commits: Seq[(Double, Long)]): Long = {
    val acc = acceptedMs.sorted.toArray
    var committed = 0L
    var worst = 0L
    commits.sortBy(_._1).foreach { case (at, rows) =>
      val accepted = upperBound(acc, at)
      worst = worst max (accepted - committed)
      committed += rows
    }
    worst max (acc.length - committed)
  }

  /** Number of elements of sorted `a` that are <= x. */
  private def upperBound(a: Array[Double], x: Double): Long = {
    var lo = 0
    var hi = a.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (a(mid) <= x) lo = mid + 1 else hi = mid
    }
    lo.toLong
  }
}
