package graft

import graft.bitemporal.XtDb
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** GDPR bound: the physical purge of erased history does not wait for a
  * geometric full-compaction escalation that a slow-growing table may
  * never reach. An erase starts a cycle clock in the manifest; once
  * `spark.graft.erasePurge.maxCycles` maintenance cycles elapse,
  * [[XtDb.compactIfLagged]] runs the full [[XtDb.compact]] — the one
  * physical purge (the reference drops erased events at compaction,
  * PolygonCalculator.kt:43-46) — and the superseded generation is swept
  * at the next cycle. The pinned contract: after an erase + a BOUNDED
  * number of maintenance cycles, no parquet file under the table root
  * holds the erased payload. */
class ErasePurgeBoundSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.builder(4).getOrCreate()

  private def newDb(tag: String): XtDb = new XtDb(spark,
    java.nio.file.Files.createTempDirectory(tag).toString)

  /** Rows carrying `payload` anywhere under the table dir — every parquet
    * file read INDIVIDUALLY (live, leased, superseded: all of them). */
  private def payloadFiles(db: XtDb, t: String, payload: String): Seq[String] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    walk(new java.io.File(s"${db.root}/$t")).flatMap { f =>
      val df = spark.read.parquet(f.getAbsolutePath)
      if (!df.columns.contains("data")) None
      else if (df.filter(col("data") === payload).isEmpty) None
      else Some(f.getAbsolutePath)
    }
  }

  test("large table: an overdue erase takes the full compaction; the " +
      "erased payload is physically gone from EVERY file within the cycle " +
      "bound; serving stays zero-exchange and correct") {
    import spark.implicits._
    spark.conf.set("spark.graft.autoCompact.maxLag", "-1")
    spark.conf.set("spark.graft.fullCompact.smallBytes", "0") // treat as large
    spark.conf.set("spark.graft.fullCompact.ratio", "1000.0") // never geometric
    spark.conf.set("spark.graft.erasePurge.maxCycles", "3")
    try {
      val db = newDb("purge-bound")
      val secret = "TOPSECRET_PAYLOAD_93d1"
      db.putDocs("e", spark.range(1, 2001)
        .selectExpr("id AS _id",
          s"CASE WHEN id = 7 THEN '$secret' ELSE concat('row_', id) END AS data"))
      db.compact("e")
      assert(payloadFiles(db, "e", secret).nonEmpty, "payload starts on disk")

      db.eraseDocs("e", Seq(Tuple1(7L)).toDF("_id"))
      // logical erase is immediate; physical bytes still present
      assert(db.asOf("e").filter(col("_id") === 7L).isEmpty)
      assert(payloadFiles(db, "e", secret).nonEmpty)

      // maintenance cycles: within maxCycles + 2 (purge + lease sweep)
      // invocations the payload must be GONE from every file
      var gone = -1
      (1 to 6).foreach { i =>
        db.compactIfLagged("e", maxLag = 0)
        if (gone < 0 && payloadFiles(db, "e", secret).isEmpty) gone = i
      }
      assert(gone >= 0 && gone <= 5,
        s"payload must be physically gone within the bound (gone=$gone): " +
          payloadFiles(db, "e", secret).mkString(", "))
      // correctness + posture after the purge
      assert(db.asOf("e").count() === 1999L)
      assert(db.asOf("e").filter(col("data") === secret).isEmpty)
      assert(db.events("e").filter(col("_op") === "erase").count() === 0L)
      assert(graft.plans.Explain.report(db.asOf("e")).shuffleExchanges === 0)
      assert(db.pointLookup("e", 8L).select("data").as[String]
        .collect().toSeq == Seq("row_8"))
    } finally {
      spark.conf.unset("spark.graft.autoCompact.maxLag")
      spark.conf.unset("spark.graft.fullCompact.smallBytes")
      spark.conf.unset("spark.graft.fullCompact.ratio")
      spark.conf.unset("spark.graft.erasePurge.maxCycles")
    }
  }

  test("idle table: the clock ticks on maintenance HEARTBEATS alone — " +
      "ingest stopping right after the erase still reaches the purge " +
      "and the lease sweep") {
    import spark.implicits._
    spark.conf.set("spark.graft.autoCompact.maxLag", "-1")
    spark.conf.set("spark.graft.fullCompact.smallBytes", "0")
    spark.conf.set("spark.graft.fullCompact.ratio", "1000.0")
    spark.conf.set("spark.graft.erasePurge.maxCycles", "2")
    try {
      val db = newDb("purge-idle")
      val secret = "TOPSECRET_IDLE_77aa"
      db.putDocs("i", spark.range(1, 501)
        .selectExpr("id AS _id",
          s"CASE WHEN id = 3 THEN '$secret' ELSE concat('r', id) END AS data"))
      db.compact("i")
      db.eraseDocs("i", Seq(Tuple1(3L)).toDF("_id"))
      // NO further ingest: only heartbeats (a deployment's scheduled
      // maintenance). maxLag high enough that the erase file alone does
      // not count as lag — the clock still ticks.
      var gone = -1
      (1 to 6).foreach { i =>
        db.compactIfLagged("i", maxLag = 50)
        if (gone < 0 && payloadFiles(db, "i", secret).isEmpty) gone = i
      }
      assert(gone >= 0,
        s"heartbeats alone must reach the purge: ${
          payloadFiles(db, "i", secret).mkString(", ")}")
      assert(db.asOf("i").count() === 499L)
    } finally {
      spark.conf.unset("spark.graft.autoCompact.maxLag")
      spark.conf.unset("spark.graft.fullCompact.smallBytes")
      spark.conf.unset("spark.graft.fullCompact.ratio")
      spark.conf.unset("spark.graft.erasePurge.maxCycles")
    }
  }

  test("DECLARED-LAYOUT table: the erased payload also leaves the " +
      "snapshot's bucket files (fold rewrite + retired-lease sweep) " +
      "within the bound — end to end, every file under the table root") {
    import spark.implicits._
    spark.conf.set("spark.graft.autoCompact.maxLag", "-1")
    spark.conf.set("spark.graft.fullCompact.smallBytes", "0")
    spark.conf.set("spark.graft.fullCompact.ratio", "1000.0")
    spark.conf.set("spark.graft.erasePurge.maxCycles", "3")
    try {
      val db = newDb("purge-declared")
      val secret = "TOPSECRET_DECL_4c"
      db.declareLayout("d", "k", 4)
      db.putDocs("d", spark.range(1, 1001)
        .selectExpr("id AS _id", "CAST(id % 16 AS INT) AS k",
          s"CASE WHEN id = 11 THEN '$secret' ELSE concat('r', id) END AS data"))
      db.compact("d")
      assert(db.currentSnapshotIfValid("d").isDefined)
      assert(payloadFiles(db, "d", secret).nonEmpty)
      db.eraseDocs("d", Seq(Tuple1(11L)).toDF("_id"))
      var gone = -1
      (1 to 8).foreach { i =>
        db.compactIfLagged("d", maxLag = 0)
        if (gone < 0 && payloadFiles(db, "d", secret).isEmpty) gone = i
      }
      assert(gone >= 0,
        s"declared-table purge must clear snapshot + log files: ${
          payloadFiles(db, "d", secret).mkString(", ")}")
      // the snapshot keeps serving (the compaction rebuilt it), correct
      val snap = db.currentSnapshotIfValid("d")
      assert(snap.isDefined, "snapshot must keep serving through purges")
      assert(snap.get.count() === 999L)
      assert(snap.get.filter(col("data") === secret).isEmpty)
    } finally {
      spark.conf.unset("spark.graft.autoCompact.maxLag")
      spark.conf.unset("spark.graft.fullCompact.smallBytes")
      spark.conf.unset("spark.graft.fullCompact.ratio")
      spark.conf.unset("spark.graft.erasePurge.maxCycles")
    }
  }

  test("a small table's overdue erase just takes the full compact (the " +
      "cheap path already purges); re-insert after erase survives purge") {
    import spark.implicits._
    spark.conf.set("spark.graft.autoCompact.maxLag", "-1")
    spark.conf.set("spark.graft.erasePurge.maxCycles", "2")
    try {
      val db = newDb("purge-small")
      val secret = "TOPSECRET_SMALL_b2"
      db.putDocs("s", Seq((1L, secret), (2L, "keep")).toDF("_id", "data"))
      db.compact("s")
      db.eraseDocs("s", Seq(Tuple1(1L)).toDF("_id"))
      db.putDocs("s", Seq((1L, "reborn")).toDF("_id", "data")) // re-insert
      (1 to 4).foreach(_ => db.compactIfLagged("s", maxLag = 50))
      assert(payloadFiles(db, "s", secret).isEmpty,
        "small-table purge must also complete within the bound")
      assert(db.asOf("s").select("_id", "data").as[(Long, String)]
        .collect().toMap == Map(1L -> "reborn", 2L -> "keep"),
        "the post-erase re-insert must survive the purge")
    } finally {
      spark.conf.unset("spark.graft.autoCompact.maxLag")
      spark.conf.unset("spark.graft.erasePurge.maxCycles")
    }
  }
}
