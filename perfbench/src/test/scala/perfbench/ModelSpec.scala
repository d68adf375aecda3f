package perfbench

import org.scalatest.funsuite.AnyFunSuite

class ModelSpec extends AnyFunSuite {

  private def seeded(): Model[Order] = {
    val m = new Model[Order]
    m.put(1, 100, Some(Order(7, "O", 10.5, "1-URGENT")))
    m.put(1, 200, Some(Order(7, "F", 12.25, "1-URGENT")))
    m.put(1, 300, None)
    m
  }

  test("current and as-of reads follow the commit times") {
    val m = seeded()
    assert(m.current(1).isEmpty)
    assert(m.asOf(1, 99).isEmpty)
    assert(m.asOf(1, 100).map(_.price).contains(10.5))
    assert(m.asOf(1, 250).map(_.status).contains("F"))
    assert(m.asOf(1, 300).isEmpty)
    assert(m.current(2).isEmpty)
  }

  test("a version committed before the last one is rejected") {
    assertThrows[IllegalArgumentException](seeded().put(1, 250, None))
  }

  test("the checker accepts the expected rows and flags an injected wrong value") {
    val m = seeded()
    val want = m.asOf(1, 250).toSeq
    val good = want.map(Store.renderOrder(1, _))
    assert(Model.diff("order 1", good, want, Store.renderOrder(1, _)).isEmpty)
    val wrong = Seq(Store.renderOrder(1, want.head.copy(price = 12.26)))
    assert(Model.diff("order 1", wrong, want, Store.renderOrder(1, _)).exists(_.contains("12.26")))
    assert(Model.diff("order 1", Nil, want, Store.renderOrder(1, _)).isDefined)
    assert(Model.diff("order 1", good ++ good, want, Store.renderOrder(1, _)).isDefined)
  }

  test("the as-of aggregate check flags a wrong count or sum") {
    import org.apache.spark.sql.Row
    val docs = Seq(Order(1, "O", 10.5, "x"), Order(2, "F", 0.25, "y"))
    assert(TxnClient.checkAgg("agg", Array(Row(2L, 10.75)), docs).isEmpty)
    assert(TxnClient.checkAgg("agg", Array(Row(2L, 10.76)), docs).isDefined)
    assert(TxnClient.checkAgg("agg", Array(Row(1L, 10.75)), docs).isDefined)
    assert(TxnClient.checkAgg("agg", Array(Row(0L, null)), Nil).isEmpty)
  }

  test("a failed check counts as a failed op and records no latency") {
    val rec = new Recorder
    assert(rec.op("read", read = true)(1)(_ => None).isDefined)
    assert(rec.op("read", read = true)(2)(_ => Some("wrong value")).isEmpty)
    assert(rec.op("read", read = true)(sys.error("boom"): Int)(_ => None).isEmpty)
    assert(rec.attempted.get == 3 && rec.failed.get == 2)
    assert(rec.all.size == 1)
  }

  test("timestamp literals are exact to the microsecond") {
    val t = java.sql.Timestamp.valueOf("2026-01-02 03:04:05.123456")
    val us = Model.micros(t)
    assert(Model.literal(us).contains("05.123456'"))
    assert(Model.micros(java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
      us / 1000000, (us % 1000000) * 1000))) == us)
  }
}
