package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("percentiles interpolate between closest ranks; p50 is the median") {
    val xs = Seq(4.0, 1.0, 3.0, 2.0)
    assert(Stats.median(xs) == 2.5)
    assert(Stats.median(Seq(5.0, 1.0, 3.0)) == 3.0)
    assert(Stats.percentile(xs, 0) == 1.0)
    assert(Stats.percentile(xs, 100) == 4.0)
    assert(math.abs(Stats.percentile((1 to 11).map(_.toDouble), 90) - 10.0) < 1e-12)
    assert(Stats.percentile(Seq(7.0), 90) == 7.0)
  }

  test("a percentile of no samples, or outside [0, 100], fails loudly") {
    assertThrows[IllegalArgumentException](Stats.median(Nil))
    assertThrows[IllegalArgumentException](Stats.percentile(Seq(1.0), 101))
  }

  test("a tail percentile is reported only with ten samples beyond it") {
    assert(Stats.supportedTail(19).isEmpty)
    assert(Stats.supportedTail(20).contains(50.0))
    assert(Stats.supportedTail(39).contains(50.0))
    assert(Stats.supportedTail(40).contains(75.0))
    assert(Stats.supportedTail(99).contains(75.0))
    assert(Stats.supportedTail(100).contains(90.0))
    assert(Stats.supportedTail(200).contains(95.0))
    assert(Stats.supportedTail(1000).contains(99.0))
    assert(Stats.supportedTail(10000).contains(99.9))
  }

  test("throughput is taken per client, then summed") {
    val s = Seq(Sample("txn/update", read = false, 500), Sample("txn/read", read = true, 1500),
      Sample("wire0/read", read = true, 250), Sample("wire0/read", read = true, 250))
    assert(math.abs(EndToEnd.throughput(s) - (2 / 2.0 + 2 / 0.5)) < 1e-12)
  }

  test("latency is the median of each group, averaged over the groups") {
    val s = Seq(Sample("hot/a", read = true, 100), Sample("hot/a", read = true, 110),
      Sample("hot/b", read = true, 300), Sample("hot/c", read = true, 900),
      Sample("hot/c", read = true, 1000))
    // one group: the pooled median
    assert(EndToEnd.latencyMs(s, _ => "") == 300.0)
    // grouped by kind: (105 + 300 + 950) / 3
    assert(EndToEnd.latencyMs(s, _.kind) == (105.0 + 300.0 + 950.0) / 3)
    assert(EndToEnd.latencyMs(Nil, _.kind) == 0.0)
  }

  test("a result signature ignores row order and sees every value") {
    import org.apache.spark.sql.Row
    val rows = Array(Row(1L, "a", 2.5), Row(2L, "b", null), Row(3L, "c", 0.1))
    assert(Signature.of(rows) == Signature.of(rows.reverse))
    assert(Signature.of(rows).rows == 3)
    assert(Signature.of(rows) != Signature.of(rows.updated(2, Row(3L, "c", 0.2))))
    assert(Signature.of(rows) != Signature.of(rows.updated(1, Row(2L, "b", 0.0))))
  }
}
