package graft

import graft.bitemporal.XtDb
import graft.sql.XtSqlEngine
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Healthz HTTP surface (reference healthz.clj analogue): every probe is
  * exercised against REAL engine state — block lag from actual small
  * files, catching-up from actual staging scratch, finish-block running
  * actual compaction. */
class HealthzSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.builder(4).getOrCreate()

  private def get(port: Int, path: String)
      : (Int, String, java.net.HttpURLConnection) = {
    val conn = new java.net.URI(s"http://127.0.0.1:$port$path").toURL
      .openConnection().asInstanceOf[java.net.HttpURLConnection]
    val code = conn.getResponseCode
    val is = if (code >= 400) conn.getErrorStream else conn.getInputStream
    (code, new String(is.readAllBytes(), "UTF-8"), conn)
  }

  private def post(port: Int, path: String): (Int, String) = {
    val conn = new java.net.URI(s"http://127.0.0.1:$port$path").toURL
      .openConnection().asInstanceOf[java.net.HttpURLConnection]
    conn.setRequestMethod("POST")
    val code = conn.getResponseCode
    val is = if (code >= 400) conn.getErrorStream else conn.getInputStream
    (code, new String(is.readAllBytes(), "UTF-8"))
  }

  test("healthz surface: index, ready, metrics, alive lifecycle with " +
      "real block lag, finish-block compaction, staged-tx started probe") {
    val root = java.nio.file.Files.createTempDirectory("graft_healthz")
      .toString
    val db = new XtDb(spark, root)
    val eng = new XtSqlEngine(spark, db)
    // 8 single-row transactions on ONE document id → 8 small files in
    // one storage bucket: block lag 7, over the healthy threshold of 5
    (1 to 8).foreach(i =>
      eng.sql(s"INSERT INTO ht RECORDS {_id: 1, v: 'x$i'}"))
    val server = graft.tools.Healthz.serve(spark, Some(db))
    val port = server.getAddress.getPort
    try {
      val (ic, ibody, _) = get(port, "/")
      assert(ic == 200 && ibody.contains("Graft Healthz API"))

      assert(get(port, "/healthz/ready") match {
        case (200, "Ready.", _) => true; case _ => false
      })

      val (mc, mbody, _) = get(port, "/metrics")
      assert(mc == 200 && mbody.contains("# TYPE graft_jobs_total counter"))
      assert(mbody.linesIterator
        .exists(_.matches("graft_txs_committed_total [1-9]\\d*")))
      assert(mbody.contains("# TYPE graft_event_backlog_files gauge"))

      // alive: 8 appends − 1 = block lag 7 > 5 → 503 with the per-table
      // lag in the body and the checked/unhealthy headers
      val (ac, abody, aconn) = get(port, "/healthz/alive")
      assert(ac == 503, s"expected unhealthy, got $ac: $abody")
      assert(abody.startsWith("Unhealthy: ht (block lag: "))
      assert(aconn.getHeaderField("X-Graft-Databases-Checked") == "1")
      assert(aconn.getHeaderField("X-Graft-Databases-Unhealthy") == "1")

      // finish-block = compaction → lag 0 → alive again
      val (fc, fbody) = post(port, "/system/finish-block?table=ht")
      assert(fc == 200 && fbody == "Compaction run on 1 table(s).")
      val (ac2, abody2, aconn2) = get(port, "/healthz/alive")
      assert(ac2 == 200 && abody2 == "Alive.")
      assert(aconn2.getHeaderField("X-Graft-Databases-Unhealthy") == "0")

      // finish-block on an unknown table is a CLIENT error: 404 with the
      // bare message, no 'requirement failed:' runtime-format coupling
      val (uc, ubody) = post(port, "/system/finish-block?table=nope")
      assert(uc == 404 && ubody == "Unknown table: nope")
      // ... and GET is rejected
      assert(get(port, "/system/finish-block")._1 == 405)

      // started: drained log → 200; a staged in-flight tx file → 503
      assert(get(port, "/healthz/started") match {
        case (200, "Started.", _) => true; case _ => false
      })
      val staging = java.nio.file.Paths.get(root, "_staging")
      java.nio.file.Files.createDirectories(staging)
      java.nio.file.Files.writeString(staging.resolve("tx0"), "wip")
      val (sc, sbody, sconn) = get(port, "/healthz/started")
      assert(sc == 503 && sbody.startsWith("Catching up"))
      assert(sconn.getHeaderField("X-Graft-Databases-Catching-Up") == "1")
      java.nio.file.Files.delete(staging.resolve("tx0"))
      assert(get(port, "/healthz/started")._1 == 200)
    } finally server.stop(0)
  }

  test("compactIfLagged: the compactor trigger fires only past the lag " +
      "threshold, is idempotent, and preserves query results") {
    import org.apache.spark.sql.functions._
    val db = new XtDb(spark,
      java.nio.file.Files.createTempDirectory("graft_autocompact").toString)
    val eng = new XtSqlEngine(spark, db)
    (1 to 4).foreach(i => eng.sql(s"INSERT INTO ac RECORDS {_id: 1, v: $i}"))
    assert(db.blockLag("ac") == 3)
    assert(!db.compactIfLagged("ac", maxLag = 5),
      "must not compact below the threshold")
    assert(db.blockLag("ac") == 3, "a declined trigger must not rewrite")
    (5 to 8).foreach(i => eng.sql(s"INSERT INTO ac RECORDS {_id: 1, v: $i}"))
    assert(db.blockLag("ac") == 7)
    val before = eng.sql("SELECT _id, v FROM ac").collect().toSeq
    assert(db.compactIfLagged("ac", maxLag = 5), "trigger must fire at lag 7")
    assert(db.blockLag("ac") == 0, "compaction folds each bucket to 1 file")
    assert(!db.compactIfLagged("ac", maxLag = 5), "idempotent once folded")
    assert(eng.sql("SELECT _id, v FROM ac").collect().toSeq == before,
      "compaction must not change the visible snapshot")
    assert(before == Seq(org.apache.spark.sql.Row(1L, 8L)) ||
      before.map(_.toSeq) == Seq(Seq(1, 8)),
      s"current row must be the latest version, got $before")
  }
}
