package graft

import graft.bitemporal.XtDb
import graft.sql.XtSqlEngine
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Temporal SQL front door: FOR VALID_TIME / SYSTEM_TIME AS OF and FOR ALL
  * VALID_TIME rewriting (reference Sql.g4:557-573), plus the graft function
  * catalog every GraftSession carries. */
class XtSqlSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.builder(4).getOrCreate()

  test("temporal clauses resolve to the right snapshots") {
    import spark.implicits._
    val db = new XtDb(spark,
      java.nio.file.Files.createTempDirectory("xtsql").toString)
    val t0 = db.putDocs("docs", Seq((1L, 0L)).toDF("_id", "version"))
    db.putDocs("docs", Seq((1L, 1L)).toDF("_id", "version"))
    val eng = new XtSqlEngine(spark, db)

    // current snapshot (bare ref)
    val cur = eng.sql("SELECT version FROM docs").as[Long].collect()
    assert(cur.toSeq == Seq(1L))

    // system-time as-of t0
    val past = eng.sql(
      s"SELECT version FROM docs FOR SYSTEM_TIME AS OF '$t0'")
      .as[Long].collect()
    assert(past.toSeq == Seq(0L))

    // all valid time: both versions' rectangles
    val all = eng.sql(
      "SELECT version FROM docs FOR ALL VALID_TIME ORDER BY version")
      .as[Long].collect()
    assert(all.length >= 2 && all.contains(0L) && all.contains(1L))
  }

  test("registered functions usable from SQL") {
    val r = spark.sql("""
      SELECT iid_hex(42) AS iid,
             date_bin_secs(900, TIMESTAMP '2024-01-01 00:22:33') AS bin,
             p_overlaps(period(TIMESTAMP '2024-01-01', TIMESTAMP '2024-02-01'),
                        period(TIMESTAMP '2024-01-15', TIMESTAMP '2024-03-01')) AS ovl,
             p_contains_ts(period(TIMESTAMP '2024-01-01', TIMESTAMP '2024-02-01'),
                           TIMESTAMP '2024-01-15') AS cts
    """).collect().head
    assert(r.getString(0).length == 32)
    assert(r.getTimestamp(1).toString == "2024-01-01 00:15:00.0")
    assert(r.getBoolean(2) && r.getBoolean(3))
  }

  test("theta sketch SQL surface: sketch/estimate/intersect/difference") {
    val r = spark.sql("""
      WITH t(g, v) AS (SELECT CASE WHEN id < 600 THEN 'A' ELSE 'B' END,
                              CASE WHEN id < 600 THEN id ELSE id - 300 END
                       FROM range(1200)),
      s AS (SELECT g, theta_sketch(v) AS sk FROM t GROUP BY g)
      SELECT theta_estimate(a.sk) AS ea, theta_estimate(b.sk) AS eb,
             theta_intersect_estimate(a.sk, b.sk) AS ov,
             theta_difference_estimate(a.sk, b.sk) AS d
      FROM s a, s b WHERE a.g = 'A' AND b.g = 'B'
    """).collect().head
    // A = {0..599}, B = {300..899}: exact below nominal capacity
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((600L, 600L, 300L, 300L)))
  }

  test("period() rejects from >= to like the reference; null endpoints legal") {
    // reference temporal.clj:1907 throws :xtdb/invalid-period on from >= to
    def messages(t: Throwable): String =
      if (t == null) "" else s"${t.getMessage} ${messages(t.getCause)}"
    for (pair <- Seq(
        "TIMESTAMP '2024-02-01', TIMESTAMP '2024-01-01'",   // backwards
        "TIMESTAMP '2024-01-01', TIMESTAMP '2024-01-01'")) { // zero-length
      val ex = intercept[Exception] {
        spark.sql(s"SELECT period($pair) AS p").collect()
      }
      assert(messages(ex).contains("'from' must be earlier than 'to'"),
        s"period($pair) must raise the reference error")
    }
    // unbounded endpoints are not malformed
    val ok = spark.sql(
      """SELECT period(CAST(NULL AS TIMESTAMP), TIMESTAMP '2024-01-01') AS a,
                period(TIMESTAMP '2024-01-01', CAST(NULL AS TIMESTAMP)) AS b""")
      .collect().head
    assert(ok.getStruct(0).isNullAt(0) && ok.getStruct(1).isNullAt(1))
  }
}
