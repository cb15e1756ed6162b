package graftbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("percentile interpolates between ranks; median of an even sample is the midpoint") {
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.percentile(Seq(10.0, 20.0, 30.0), 0.0) == 10.0)
    assert(Stats.percentile(Seq(10.0, 20.0, 30.0), 1.0) == 30.0)
    assert(Stats.percentile((1 to 11).map(_.toDouble), 0.9) == 10.0)
  }

  test("a tail percentile is reported only with at least ten samples beyond it") {
    assert(Stats.samplesBeyond(99, 0.9) == 9)
    assert(Stats.samplesBeyond(100, 0.9) == 10)
    assert(Stats.reportablePercentiles(99).isEmpty)
    assert(Stats.reportablePercentiles(100) == Seq(0.9))
    assert(Stats.reportablePercentiles(999) == Seq(0.9))
    assert(Stats.reportablePercentiles(1000) == Seq(0.9, 0.99))
  }

  test("summarize states the sample count next to the median and eligible tails") {
    val small = Stats.summarize("latency_ms", Seq(3.0, 1.0, 2.0))
    assert(small == Map("latency_ms.p50" -> 2.0, "latency_ms.n" -> 3.0))
    val big = Stats.summarize("latency_ms", (1 to 100).map(_.toDouble))
    assert(big.keySet == Set("latency_ms.p50", "latency_ms.p90", "latency_ms.n"))
    assert(big("latency_ms.n") == 100.0)
    assert(Stats.summarize("x", Nil).isEmpty)
  }

  test("union of intervals counts overlaps once") {
    assert(Stats.unionLength(Nil) == 0L)
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 30L), (25L, 26L))) == 25L)
    assert(Stats.unionLength(Seq((10L, 20L), (0L, 5L), (5L, 10L))) == 20L)
    // empty and inverted intervals cover nothing
    assert(Stats.unionLength(Seq((3L, 3L), (9L, 4L))) == 0L)
  }

  test("driver gap is the op's wall time minus the union of its clipped job intervals") {
    // op [0, 100): two jobs overlap at 20-30, one starts before the op,
    // one ends after it; covered = [0,5) + [10,40) + [60,70) + [90,100) = 55
    val jobs = Seq((10L, 30L), (20L, 40L), (-5L, 5L), (60L, 70L), (90L, 120L))
    assert(Stats.driverGap(0L, 100L, jobs) == 45L)
    assert(Stats.driverGap(0L, 100L, Nil) == 100L)
    assert(Stats.driverGap(0L, 100L, Seq((0L, 100L))) == 0L)
  }
}

class TallySpec extends AnyFunSuite {
  test("an op that fails twice counts once; the ratio is over attempted ops") {
    val t = new Tally
    (1 to 5).foreach(_ => t.attempt())
    t.fail(2, "threw")
    t.fail(2, "and failed its check")
    t.fail(4, "answered 500")
    assert(t.attempted == 5)
    assert(t.failed == 2)
    assert(t.ratio == 0.4)
    assert(t.problems == Seq("op 2: threw", "op 4: answered 500"))
    assert(new Tally().ratio == 0.0)
  }
}

class TracerSpec extends AnyFunSuite {
  test("self time is a span's duration minus the part its children cover") {
    val spans = Seq(
      Span(1, "gold.fanout", 0, 0, 0L, 100000000L),
      Span(2, "gold.fact_shipment", 0, 1, 10000000L, 30000000L),
      Span(3, "gold.dim_date", 0, 1, 20000000L, 50000000L),
      Span(4, "io.read", 0, 3, 40000000L, 45000000L))
    val self = Tracer.selfTimes(spans)
    assert(math.abs(self("gold.fanout") - 0.060) < 1e-9)
    assert(math.abs(self("gold.dim_date") - 0.025) < 1e-9)
    assert(math.abs(self("io.read") - 0.005) < 1e-9)
  }

  test("nested spans record their parent and op; a disabled tracer records nothing") {
    val tr = new Tracer(true)
    tr.op(7L)(tr.span("silver.transform")(tr.span("io.read")(())))
    val byName = tr.all.map(s => s.name -> s).toMap
    assert(byName("io.read").parent == byName("silver.transform").id)
    assert(byName("silver.transform").parent == 0)
    assert(tr.all.forall(_.op == 7L))
    assert(byName("io.read").layer == "io")

    val off = new Tracer(false)
    assert(off.span("gen.bronze")(41 + 1) == 42)
    assert(off.all.isEmpty)
  }
}
