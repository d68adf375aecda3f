package graft

import graft.bitemporal.XtDb
import graft.sql.XtSqlEngine
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Snapshot export (reference export_test.clj: export-snapshot! produces a
  * directory a fresh node opens with identical results) and the outbound
  * `COPY <table> TO '<path>'` single-table face. */
class ExportSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.builder(4).getOrCreate()

  private def fresh(): (XtDb, XtSqlEngine, String) = {
    val root = java.nio.file.Files.createTempDirectory("graft_export").toString
    val db = new XtDb(spark, root)
    (db, new XtSqlEngine(spark, db), root)
  }

  test("exportSnapshot: a fresh node on the export answers identically") {
    import spark.implicits._
    val (db, eng, _) = fresh()
    eng.sql("INSERT INTO foo RECORDS {_id: 1, name: 'Alice', age: 30}, " +
      "{_id: 2, name: 'Bob', age: 25}, {_id: 3, name: 'Charlie', age: 35}")
    eng.sql("INSERT INTO bar RECORDS {_id: 1, category: 'A'}, " +
      "{_id: 2, category: 'B'}")
    eng.sql("UPDATE foo SET age = 31 WHERE _id = 1")
    eng.sql("DELETE FROM bar WHERE _id = 2")
    db.compact("foo") // chaos: one table compacted, one raw (reference test)

    val dest = java.nio.file.Files.createTempDirectory("graft_export_dst")
      .toString + "/snap"
    val (tables, files) = db.exportSnapshot(dest)
    assert(tables == 2 && files > 0)

    val db2 = new XtDb(spark, dest)
    assert(db2.tables.toSet == Set("foo", "bar"))
    // identical current snapshots
    val fooNow = db2.asOf("foo").select("_id", "name", "age")
      .as[(Long, String, Long)].collect().toSet
    assert(fooNow == Set((1L, "Alice", 31L), (2L, "Bob", 25L),
      (3L, "Charlie", 35L)))
    assert(db2.asOf("bar").count() == 1)
    // history travels too: bar's delete is in the exported log
    assert(db2.history("bar").count() >= 2)
    // and the tx log came along
    assert(db2.txs.count() == db.txs.count())
    // exported node is writable — it's a full clone, not a view
    val eng2 = new XtSqlEngine(spark, db2)
    eng2.sql("INSERT INTO foo RECORDS {_id: 4, name: 'Dora', age: 20}")
    assert(db2.asOf("foo").count() == 4)
    assert(db.asOf("foo").count() == 3) // original untouched
  }

  test("exportSnapshot carries LEVELED storage: hidden _lv dirs + the " +
      "manifest travel, and the clone serves bucketed with no recompact") {
    import spark.implicits._
    spark.conf.set("spark.graft.autoCompact.maxLag", "-1")
    try {
      val (db, _, _) = fresh()
      db.putDocs("lv", spark.range(1, 201)
        .selectExpr("id AS _id", "id * 2 AS v"))
      db.compact("lv")
      db.putDocs("lv", spark.range(201, 221)
        .selectExpr("id AS _id", "id * 2 AS v"))
      assert(db.compactIncremental("lv"), "fixture needs a live level")

      val dest = java.nio.file.Files
        .createTempDirectory("graft_export_lv").toString + "/snap"
      db.exportSnapshot(dest)
      val db2 = new XtDb(spark, dest)
      assert(db2.bucketedEventsIfValid("lv").isDefined,
        "the clone must serve the bucketed base+levels from its own " +
          "manifest without recompacting")
      assert(db2.asOf("lv").count() === 220L)
      assert(graft.plans.Explain.report(db2.asOf("lv"))
        .shuffleExchanges === 0)
      // the clone's maintenance is independent of the source
      db2.putDocs("lv", Seq((500L, 1L)).toDF("_id", "v"))
      assert(db2.compactIncremental("lv"))
      assert(db2.asOf("lv").count() === 221L)
      assert(db.asOf("lv").count() === 220L)
    } finally spark.conf.unset("spark.graft.autoCompact.maxLag")
  }

  test("COPY TO exports the current snapshot, COPY FROM round-trips it") {
    import spark.implicits._
    val (_, eng, _) = fresh()
    eng.sql("INSERT INTO pets RECORDS {_id: 1, name: 'rex'}, " +
      "{_id: 2, name: 'bella'}")
    eng.sql("DELETE FROM pets WHERE _id = 2")
    val out = java.nio.file.Files.createTempDirectory("graft_copyto")
      .toString + "/pets_out"
    eng.sql(s"COPY pets TO '$out' WITH (FORMAT parquet)")
    // only the current snapshot (post-delete), visible columns only
    val df = spark.read.parquet(out)
    assert(df.columns.sorted.toSeq == Seq("_id", "name"))
    assert(df.as[(Long, String)].collect().toSet == Set((1L, "rex")))
    // round-trip: COPY FROM ingests the export into a new table
    eng.sql(s"COPY pets2 FROM '$out' WITH (FORMAT parquet)")
    assert(eng.sql("SELECT count(*) AS n FROM pets2").as[Long]
      .collect().head == 1L)
    // csv flavour
    val outCsv = java.nio.file.Files.createTempDirectory("graft_copyto")
      .toString + "/pets_csv"
    eng.sql(s"COPY pets TO '$outCsv' WITH (FORMAT csv)")
    assert(spark.read.option("header", "true").csv(outCsv).count() == 1)
  }

  test("COPY TO is rejected inside a transaction") {
    val (_, eng, _) = fresh()
    eng.sql("INSERT INTO t1 RECORDS {_id: 1}")
    eng.sql("BEGIN")
    intercept[graft.sql.XtSqlParser.SqlParseException] {
      eng.sql("COPY t1 TO '/tmp/nope'")
    }
    eng.sql("ROLLBACK")
  }
}
