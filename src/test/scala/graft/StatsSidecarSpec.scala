package graft

import graft.plans.StatsSidecar
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** StatsSidecar contract pins — the round-10 ADVICE fixes as executable
  * assertions: region-scoped parsing (a data column literally named
  * `rowCount` stays an ndv entry), path-keyed cache replacement (a
  * rewrite does not accumulate stale entries or serve stale stats), and
  * the freshness fingerprint that keeps [[StatsSidecar.maxMicrosUpperBound]]
  * SOUND — a stale bound would silently drop interval-join pairs. */
class StatsSidecarSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.builder(4).getOrCreate()

  private def tempDir(): java.io.File =
    java.nio.file.Files.createTempDirectory("sidecar_spec").toFile

  private def rm(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
  }

  test("parse is region-scoped: a column named rowCount keeps its ndv; " +
      "negative micros parse; maps absent in old sidecars read empty") {
    val st = StatsSidecar.parse(
      """{"rowCount":42,"files":1,"mtime":99,""" +
        """"ndv":{"rowCount":7,"x":3},""" +
        """"minMicros":{"ts":-1000},"maxMicros":{"ts":123}}""").get
    assert(st.rowCount == 42 && st.files == 1 && st.mtime == 99)
    assert(st.ndv == Map("rowCount" -> 7L, "x" -> 3L),
      "a real column named rowCount must survive scoped parsing")
    assert(st.minMicros == Map("ts" -> -1000L))
    assert(st.maxMicros == Map("ts" -> 123L))
    // round-9 sidecar shape (no files/mtime/micros maps): still parses
    val old = StatsSidecar.parse("""{"rowCount":5,"ndv":{"a":2}}""").get
    assert(old.rowCount == 5 && old.ndv == Map("a" -> 2L))
    assert(old.files == -1L && old.maxMicros.isEmpty)
  }

  test("analyze writes temporal min/max micros; rewrite-without-ANALYZE " +
      "is detected and the horizon bound is refused (soundness)") {
    import spark.implicits._
    val dir = tempDir()
    try {
      val path = s"$dir/t"
      Seq((1L, "2024-01-01 00:00:00"), (2L, "2024-03-05 06:00:00"))
        .toDF("id", "tss")
        .select(col("id"), col("tss").cast("timestamp").as("ts"))
        .coalesce(1).write.parquet(path)
      val st = StatsSidecar.analyze(spark, path)
      assert(st.rowCount == 2 && st.maxMicros.contains("ts"))
      val df = spark.read.parquet(path)
      val bound = StatsSidecar.maxMicrosUpperBound(df, "ts")
      assert(bound.contains(st.maxMicros("ts")),
        "fresh sidecar must supply the bound with zero jobs")
      // pass-through projections keep the bound
      assert(StatsSidecar.maxMicrosUpperBound(
        df.select(col("ts"), col("id")).filter(col("id") > 0), "ts")
        .isDefined)
      // MONOTONE computed projections (round 12): the interval-join
      // horizon's derived period endpoints — `+ INTERVAL k` shifts the
      // bound by exactly k micros, `date_trunc` passes it through
      // (trunc(ts) <= ts), and compositions stack. EXACT arithmetic:
      // a too-small bound silently drops pairs.
      assert(StatsSidecar.maxMicrosUpperBound(
        df.select((col("ts") + expr("INTERVAL 1 DAY")).as("ts")), "ts")
        .contains(st.maxMicros("ts") + 86400L * 1000000L))
      assert(StatsSidecar.maxMicrosUpperBound(
        df.select((date_trunc("second", col("ts")) +
          expr("INTERVAL 2 MINUTES")).as("p"), col("id")), "p")
        .contains(st.maxMicros("ts") + 120L * 1000000L),
        "the q203 bench shape (trunc + interval) must resolve as a literal")
      // non-monotone / variable-length shapes still refuse: month
      // intervals vary, arbitrary exprs are untraceable
      assert(StatsSidecar.maxMicrosUpperBound(
        df.select((col("ts") + expr("INTERVAL 1 MONTH")).as("m")), "m")
        .isEmpty, "month intervals are variable-length — no static bound")
      assert(StatsSidecar.maxMicrosUpperBound(
        df.select(greatest(col("ts"), current_timestamp()).as("g")), "g")
        .isEmpty)
      // REWRITE the table with a later max but WITHOUT re-ANALYZE: the
      // fingerprint (file count + mtime) must reject the stale bound
      val old = new java.io.File(path).listFiles()
        .filter(_.getName.endsWith(".parquet"))
      Seq((3L, "2030-01-01 00:00:00")).toDF("id", "tss")
        .select(col("id"), col("tss").cast("timestamp").as("ts"))
        .coalesce(1).write.mode("append").parquet(path)
      val df2 = spark.read.parquet(path)
      assert(StatsSidecar.maxMicrosUpperBound(df2, "ts").isEmpty,
        "stale sidecar must be refused — a too-small horizon silently " +
          "drops interval-join pairs")
      // re-ANALYZE restores it, via the path-keyed cache's replacement
      val st2 = StatsSidecar.analyze(spark, path)
      assert(StatsSidecar.maxMicrosUpperBound(df2, "ts")
        .contains(st2.maxMicros("ts")))
      assert(st2.maxMicros("ts") > st.maxMicros("ts"))
      assert(old.nonEmpty) // fixture sanity
    } finally rm(dir)
  }

  test("computed-expression bounds REFUSE under a DST zone: Spark's " +
      "day-time interval arithmetic is wall-clock for the day part " +
      "(+1 DAY across a fall-back is 25h of instant time) and " +
      "instant->wall is non-monotone in the overlap — any static bound " +
      "derived from the max instant can under-estimate and drop pairs; " +
      "pass-through attributes are zone-independent and keep the bound") {
    import spark.implicits._
    val prevTz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    val dir = tempDir()
    try {
      val path = s"$dir/dst"
      // max ts 12:00 EDT the day before the Nov-2026 fall-back: +1 DAY
      // crosses the transition
      Seq((1L, "2026-10-31 12:00:00")).toDF("id", "tss")
        .select(col("id"), col("tss").cast("timestamp").as("ts"))
        .coalesce(1).write.parquet(path)
      val st = StatsSidecar.analyze(spark, path)
      val df = spark.read.parquet(path)
      val derived = df.select((col("ts") + expr("INTERVAL 1 DAY")).as("d"))
      val engineVal = derived.select(unix_micros(col("d"))).head.getLong(0)
      assert(engineVal - st.maxMicros("ts") == 90000L * 1000000L,
        "fixture must actually cross the fall-back (wall +1d = instant +25h)")
      // the naive `bound + v` would be 86400s short of engineVal here —
      // and the exact-replication alternative is non-monotone in the
      // fall-back overlap — so a DST-zone session must get NO bound
      assert(StatsSidecar.maxMicrosUpperBound(derived, "d").isEmpty,
        "computed bounds must refuse under a transition-bearing zone")
      assert(StatsSidecar.maxMicrosUpperBound(
        df.select((date_trunc("hour", col("ts"))).as("t")), "t").isEmpty,
        "trunc is non-monotone in the overlap too — refuse")
      // pass-through attribute: instant-domain, no transform — still fine
      assert(StatsSidecar.maxMicrosUpperBound(df, "ts")
        .contains(st.maxMicros("ts")))
    } finally {
      spark.conf.set("spark.sql.session.timeZone", prevTz)
      rm(dir)
    }
  }

  test("union in the plan rejects the bound (exprIds alias across " +
      "children with different value sets)") {
    import spark.implicits._
    val dir = tempDir()
    try {
      val path = s"$dir/u"
      Seq((1L, "2024-01-01 00:00:00")).toDF("id", "tss")
        .select(col("id"), col("tss").cast("timestamp").as("ts"))
        .coalesce(1).write.parquet(path)
      StatsSidecar.analyze(spark, path)
      val df = spark.read.parquet(path)
      val other = Seq((9L, "2031-01-01 00:00:00")).toDF("id", "tss")
        .select(col("id"), col("tss").cast("timestamp").as("ts"))
      assert(StatsSidecar.maxMicrosUpperBound(df.unionByName(other), "ts")
        .isEmpty,
        "union output reuses the first child's exprIds — the bound " +
          "would miss the other child's larger values")
    } finally rm(dir)
  }
}
