package graftbench

import org.scalatest.funsuite.AnyFunSuite
import graftbench.Stats._

/** Pins the benchmark's own arithmetic. Run with `sbt test` from
  * the benchmark directory. */
class StatsSpec extends AnyFunSuite {

  private def ramp(n: Int): Seq[Double] = (1 to n).map(_.toDouble).reverse

  test("percentile is nearest-rank over the sorted samples") {
    assert(percentile(ramp(20), 0.5) == 10.0)
    assert(percentile(ramp(100), 0.9) == 90.0)
    assert(percentile(ramp(1000), 0.99) == 990.0)
  }

  test("percentile refuses a tail with fewer than ten samples beyond it") {
    val e = intercept[IllegalArgumentException](percentile(ramp(99), 0.9))
    assert(e.getMessage.contains("p90"))
    assert(e.getMessage.contains("leave 9"))
    intercept[IllegalArgumentException](percentile(ramp(999), 0.99))
    intercept[IllegalArgumentException](percentile(ramp(19), 0.5))
  }

  test("samplesNeeded is the smallest count percentile accepts") {
    Seq(0.5, 0.9, 0.95, 0.99).foreach { p =>
      val n = samplesNeeded(p)
      percentile(ramp(n), p)
      intercept[IllegalArgumentException](percentile(ramp(n - 1), p))
    }
    assert(samplesNeeded(0.9) == 100)
    assert(samplesNeeded(0.95) == 200)
    assert(samplesNeeded(0.99) == 1000)
  }

  test("median averages the middle pair of an even sample") {
    assert(median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(median(Seq(5.0, 1.0, 3.0)) == 3.0)
  }

  test("self time subtracts the union of children, clipped to the span") {
    val span = Interval(0, 100)
    assert(selfTime(span, Nil) == 100)
    assert(selfTime(span, Seq(Interval(10, 30), Interval(50, 60))) == 70)
    // overlapping children count once
    assert(selfTime(span, Seq(Interval(10, 40), Interval(30, 50))) == 60)
    // a child running past the span only covers the part inside it
    assert(selfTime(span, Seq(Interval(90, 150), Interval(-20, 5))) == 85)
    assert(selfTime(span, Seq(Interval(200, 300))) == 100)
  }

  test("busy core fraction is executor time over wall times cores") {
    assert(busyCoreFrac(8.0, 4.0, 4) == 0.5)
    assert(busyCoreFrac(16.0, 4.0, 4) == 1.0)
    intercept[IllegalArgumentException](busyCoreFrac(1.0, 0.0, 4))
  }

  test("driver-only time is the window not covered by any task") {
    val w = Interval(0, 10)
    assert(driverOnly(w, Nil) == 10)
    assert(driverOnly(w, Seq(Interval(1, 3), Interval(2, 4), Interval(8, 12))) == 5)
  }

  test("freshness maps each tweet to the first commit holding it") {
    val due = Map(1L -> 100L, 2L -> 150L, 3L -> 200L, 4L -> 250L)
    val f = freshness(due, Seq(Commit(1200, Seq(3L)), Commit(1000, Seq(1L, 2L))))
    assert(f.ms == Map(1L -> 900.0, 2L -> 850.0, 3L -> 1000.0))
    assert(f.missing == Set(4L))
    assert(f.duplicates.isEmpty && f.unexpected.isEmpty)
  }

  test("freshness flags keys committed twice and keys never sent") {
    val due = Map(1L -> 0L)
    val f = freshness(due, Seq(Commit(10, Seq(1L)), Commit(20, Seq(1L, 9L))))
    assert(f.ms == Map(1L -> 10.0))
    assert(f.duplicates == Set(1L))
    assert(f.unexpected == Set(9L))
  }

  test("backlog peaks just before a commit lands") {
    // rows accepted at t=1..10; commits of 4 rows at t=5 and 6 rows at t=12
    val accepted = (1 to 10).map(_.toDouble)
    assert(backlogMax(accepted, Seq((5.0, 4L), (12.0, 6L))) == 6)
    // nothing committed: the whole backlog is left
    assert(backlogMax(accepted, Nil) == 10)
  }
}
