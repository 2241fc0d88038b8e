package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("the tail is the highest percentile with at least 10 samples beyond it, with its sample count") {
    val thousand = (1 to 1000).map(_.toDouble)
    assert(Stats.tail(thousand) == Some(Stats.Tail(99.0, 990.0, 1000)))
    // one sample fewer leaves only 9 beyond p99, so the tail drops to p95
    val short = (1 to 999).map(_.toDouble)
    assert(Stats.tail(short) == Some(Stats.Tail(95.0, 950.0, 999)))
    assert(Stats.tail((1 to 10000).map(_.toDouble)).map(_.percentile) == Some(99.9))
    assert(Stats.tail((1 to 20).map(_.toDouble)) == Some(Stats.Tail(50.0, 10.0, 20)))
  }

  test("a capped tail stays at the cap when more samples would allow a higher rung") {
    val thousand = (1 to 1000).map(_.toDouble)
    assert(Stats.tailOrMax(thousand, cap = 95.0) == Stats.Tail(95.0, 950.0, 1000))
    assert(Stats.tailOrMax((1 to 300).map(_.toDouble), cap = 95.0) == Stats.Tail(95.0, 285.0, 300))
  }

  test("too few samples for any percentile: the maximum, flagged as p100") {
    assert(Stats.tail(Seq(3.0, 1.0, 2.0)).isEmpty)
    assert(Stats.tailOrMax(Seq(3.0, 1.0, 2.0)) == Stats.Tail(100.0, 3.0, 3))
  }

  test("nearest-rank percentiles and median") {
    val xs = IndexedSeq(1.0, 2.0, 3.0, 4.0)
    assert(Stats.percentile(xs, 50.0) == 2.0)
    assert(Stats.percentile(xs, 100.0) == 4.0)
    assert(Stats.median(Seq(5.0, 1.0, 3.0)) == 3.0)
  }

  private def span(id: Long, parent: Long, name: String, ms: Long) =
    Span(id, parent, 1L, name, 0L, ms * 1000000L)

  test("self time: an entry point's time minus the next entry point inside it") {
    val chain = Seq(span(1, 0, "api.rest_search", 60), span(2, 1, "store.search", 18),
      span(3, 2, "search.hybrid", 15), span(4, 3, "embed.query", 1))
    val self = Stats.selfTimes(chain).map { case (id, ns) => id -> ns / 1000000L }
    assert(self == Map(1L -> 42L, 2L -> 3L, 3L -> 14L, 4L -> 1L))
  }

  test("self time subtracts every direct child: the upload's commit residual") {
    val spans = Seq(span(1, 0, "api.rest_upload", 300), span(2, 1, "store.bulk_upload", 200),
      span(3, 2, "ingest.chunk", 20), span(4, 2, "ingest.embed", 30))
    val self = Stats.selfTimes(spans).map { case (id, ns) => id -> ns / 1000000L }
    assert(self(1L) == 100L && self(2L) == 150L && self(3L) == 20L && self(4L) == 30L)
  }

  test("driver-only time is the wall interval minus the union of job intervals") {
    val jobs = Seq((10L, 30L), (20L, 40L), (90L, 120L), (-5L, 0L))
    assert(Stats.unionLength(Seq((10L, 30L), (20L, 40L), (50L, 60L))) == 40L)
    assert(Stats.driverOnly(0L, 100L, jobs) == 60L)
    assert(Stats.driverOnly(0L, 100L, Nil) == 100L)
  }
}
