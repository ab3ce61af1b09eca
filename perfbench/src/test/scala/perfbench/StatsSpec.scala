package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("union merges overlapping and touching intervals, drops empty ones") {
    assert(Stats.union(Seq((5L, 7L), (0L, 2L), (1L, 3L), (3L, 4L), (9L, 9L))) ==
      List((0L, 4L), (5L, 7L)))
  }

  test("covered clips to the window and never double counts") {
    val iv = Seq((0L, 10L), (5L, 15L), (20L, 30L))
    assert(Stats.covered(iv, 0L, 100L) == 25L)
    assert(Stats.covered(iv, 8L, 22L) == 9L)
    assert(Stats.covered(iv, 15L, 20L) == 0L)
  }

  test("self time subtracts the union of child spans") {
    // children overlap each other (concurrent writes) and one sticks out
    assert(Stats.selfTime((0L, 100L), Seq((10L, 30L), (20L, 40L), (90L, 120L))) == 60L)
    assert(Stats.selfTime((0L, 100L), Nil) == 100L)
  }

  test("driver-only time is wall minus time with any job active") {
    val jobs = Seq((5L, 15L), (10L, 20L), (50L, 60L), (200L, 300L))
    assert(Stats.driverOnly((0L, 100L), jobs) == 75L)
    assert(Stats.driverOnly((12L, 18L), jobs) == 0L)
  }

  test("percentile interpolates linearly between order statistics") {
    val xs = Seq(4.0, 1.0, 3.0, 2.0)
    assert(Stats.percentile(xs, 0.0) == 1.0)
    assert(Stats.percentile(xs, 1.0) == 4.0)
    assert(Stats.median(xs) == 2.5)
    assert(math.abs(Stats.percentile(xs, 0.9) - 3.7) < 1e-12)
    assert(Stats.median(Seq(7.0)) == 7.0)
    assertThrows[IllegalArgumentException](Stats.median(Nil))
  }

  test("attribution rolls each job up to its span and every ancestor") {
    // 0 ─┬─ 1 ─── 2
    //    └─ 3        4 (a root of its own)
    val parent = Map(0 -> -1, 1 -> 0, 2 -> 1, 3 -> 0, 4 -> -1)
    assert(Stats.ancestry(2, parent) == List(2, 1, 0))
    val jobs = Seq((2, 5.0), (1, 1.0), (3, 2.0), (4, 7.0), (-1, 100.0))
    val r = Stats.rollUp[(Int, Double)](jobs, _._1, _._2, parent)
    assert(r == Map(0 -> 8.0, 1 -> 6.0, 2 -> 5.0, 3 -> 2.0, 4 -> 7.0))
  }

  test("span metrics: inclusive counters, self and driver-only time") {
    val s = 1000000000L // one second in clock units
    val spans = Seq(
      Span(0, "outer", -1, 1, 0L, 10 * s),
      Span(1, "inner", 0, 1, 2 * s, 6 * s),
      Span(2, "inner", 0, 1, 7 * s, 8 * s))
    def job(id: Int, span: Int, a: Long, b: Long, tasks: Long) = {
      val c = new JobCounters
      c.tasks = tasks
      JobRec(id, span, a * s, b * s, c)
    }
    val jobs = Seq(job(0, 1, 3, 5, 4), job(1, 0, 9, 10, 2), job(2, 2, 7, 8, 1))
    val m = SpanMetrics.byName(spans, jobs)
    assert(m("outer")("wall_s") == 10.0)
    assert(m("outer")("self_s") == 5.0)
    assert(m("outer")("driver_only_s") == 6.0)
    assert(m("outer")("jobs") == 3.0)
    assert(m("outer")("tasks") == 7.0)
    // two "inner" instances: per-instance values, then the median
    assert(m("inner")("wall_s") == 2.5)
    assert(m("inner")("jobs") == 1.0)
    assert(m("inner")("tasks") == 2.5)
    assert(m("inner")("driver_only_s") == 1.0)
    assert(SpanMetrics.sumFor(spans, jobs, "inner", _.c.tasks.toDouble) == 5.0)
  }
}
