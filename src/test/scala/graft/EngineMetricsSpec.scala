package graft

import graft.bitemporal.XtDb
import graft.sql.XtSqlEngine
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** xt_metrics system table (reference monitoring module analogue):
  * SparkListener counters + tx-log tallies through the SQL engine. */
class EngineMetricsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.builder(4).getOrCreate()

  test("xt_metrics reflects tx activity and cluster counters") {
    import spark.implicits._
    val db = new XtDb(spark,
      java.nio.file.Files.createTempDirectory("graft_metrics").toString)
    val eng = new XtSqlEngine(spark, db)
    eng.sql("INSERT INTO mt RECORDS {_id: 1, v: 'a'}")
    eng.sql("INSERT INTO mt RECORDS {_id: 2, v: 'b'}")
    def metric(name: String): Long =
      eng.sql(s"SELECT value FROM xt_metrics WHERE metric = '$name'")
        .as[Long].collect().head
    assert(metric("txs_committed") == 2L)
    assert(metric("txs_aborted") == 0L)
    assert(metric("tables") == 1L)
    assert(metric("jobs") > 0L)
    assert(metric("tasks") > 0L)
    // counters are monotonic: another query can only grow them
    val jobsBefore = metric("jobs")
    eng.sql("SELECT count(*) AS n FROM mt").collect()
    assert(metric("jobs") >= jobsBefore)
    // round-13 storage-maintenance gauges: backlog files while the log is
    // flat; a compaction zeroes the backlog and registers the bucketed base
    assert(metric("event_backlog_files") >= 1L)
    assert(metric("tables_bucketed") == 0L)
    db.compact("mt")
    assert(metric("event_backlog_files") == 0L)
    assert(metric("tables_bucketed") == 1L)
    db.compactIncremental("mt") // no backlog: a no-op, gauges unchanged
    assert(metric("event_level_dirs") == 0L)
  }

  test("/metrics scrape endpoint serves Prometheus text format") {
    val db = new graft.bitemporal.XtDb(spark,
      java.nio.file.Files.createTempDirectory("metrics_http").toString)
    new graft.sql.XtSqlEngine(spark, db)
      .sql("INSERT INTO mh RECORDS {_id: 1}")
    val server = graft.tools.EngineMetrics.serveHttp(spark, Some(db))
    try {
      val url = new java.net.URI(
        s"http://127.0.0.1:${server.getAddress.getPort}/metrics").toURL
      val conn = url.openConnection()
        .asInstanceOf[java.net.HttpURLConnection]
      val body = new String(conn.getInputStream.readAllBytes(), "UTF-8")
      assert(conn.getResponseCode == 200)
      assert(conn.getContentType.startsWith("text/plain"))
      // exposition format: TYPE comment + `name value` lines
      // monotonic metrics are counters named `_total`, levels are gauges
      assert(body.contains("# TYPE graft_jobs_total counter"))
      assert(body.linesIterator.exists(_.matches("graft_tasks_total \\d+")))
      assert(body.linesIterator
        .exists(_.matches("graft_txs_committed_total [1-9]\\d*")))
      assert(body.contains("# TYPE graft_tables gauge"))
      assert(body.linesIterator.exists(_.matches("graft_tables 1")))
      assert(!body.contains("# TYPE graft_jobs gauge"))
    } finally server.stop(0)
  }

  test("a store with no tx log reads zero txs; an unreadable log fails loudly") {
    val root = java.nio.file.Files.createTempDirectory("metrics_txlog")
    val db = new XtDb(spark, root.toString)
    val eng = new XtSqlEngine(spark, db)
    def metric(name: String): Long = graft.tools.EngineMetrics
      .snapshot(spark, Some(db)).collect()
      .collectFirst { case r if r.getString(0) == name => r.getLong(1) }.get
    assert(metric("txs_committed") == 0L)
    assert(eng.sql("SELECT count(*) FROM xt_txs").head.getLong(0) == 0L)
    eng.sql("INSERT INTO ml RECORDS {_id: 1}")
    assert(metric("txs_committed") == 1L)
    // a damaged part file must not read as an idle store
    java.nio.file.Files.write(root.resolve("_txs").resolve("damaged.parquet"),
      "not parquet".getBytes("UTF-8"))
    intercept[Exception](metric("txs_committed"))
    assert(graft.tools.EngineMetrics.prometheusBody(spark, Some(db))
      .startsWith("# scrape failed"))
    // nor may a damaged event manifest read as an idle table's gauges
    java.nio.file.Files.delete(root.resolve("_txs").resolve("damaged.parquet"))
    db.compact("ml")
    assert(metric("event_backlog_files") == 0L)
    val meta = root.resolve("ml").resolve("_evmeta.json")
    val js = java.nio.file.Files.readAllBytes(meta)
    java.nio.file.Files.deleteIfExists(
      root.resolve("ml").resolve("._evmeta.json.crc"))
    java.nio.file.Files.write(meta, js.take(js.length / 2))
    intercept[Exception](eng.sql("SELECT * FROM xt_metrics").collect())
    assert(graft.tools.EngineMetrics.prometheusBody(spark, Some(db))
      .startsWith("# scrape failed"))
  }
}
