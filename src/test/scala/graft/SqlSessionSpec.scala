package graft

import graft.bitemporal.XtDb
import graft.sql.{XtSqlEngine, XtSqlParser}
import graft.tools.EngineMetrics
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Session-level SQL statements (Sql.g4:37-54): interactive
  * BEGIN/COMMIT/ROLLBACK transactions (staged DML, one system time,
  * snapshot reads), READ ONLY enforcement, SET/SHOW session variables and
  * TIME ZONE, PREPARE/EXECUTE with positional params, and the
  * OFFSET/FETCH-FIRST → LIMIT/OFFSET rewrite. */
class SqlSessionSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.builder(4).getOrCreate()

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  private def fresh(): (XtDb, XtSqlEngine) = {
    val db = new XtDb(spark,
      java.nio.file.Files.createTempDirectory("xtsqlsession").toString)
    (db, new XtSqlEngine(spark, db))
  }

  test("BEGIN..COMMIT stages DML atomically with one system time") {
    val (db, eng) = fresh()
    // both system times pinned in the past (a future-pinned tx is
    // correctly invisible to current-time reads)
    db.submitTx(Seq(graft.bitemporal.TxOp.Put("a",
      spark.sql("SELECT 1L AS _id, 10L AS v"))),
      Some(ts("2020-01-01 00:00:00")))
    eng.sql("BEGIN READ WRITE WITH (SYSTEM_TIME = TIMESTAMP '2020-06-01 00:00:00')")
    eng.sql("INSERT INTO a RECORDS {_id: 2, v: 20}")
    eng.sql("UPDATE a SET v = v + 1 WHERE _id = 1")
    // snapshot isolation: staged writes invisible before COMMIT
    assert(eng.sql("SELECT count(*) AS n FROM a").head.getLong(0) == 1L)
    eng.sql("COMMIT")
    val rows = eng.sql("SELECT _id, v FROM a ORDER BY _id")
      .collect()
      .map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue))
      .toSeq
    assert(rows == Seq((1L, 11L), (2L, 20L)))
    // both ops share the pinned system time
    val times = db.txs.select("system_time").collect().map(_.get(0).toString)
    assert(times.exists(_.startsWith("2020-06-01")))
  }

  test("ROLLBACK discards staged ops; READ ONLY rejects DML") {
    val (_, eng) = fresh()
    eng.sql("INSERT INTO b RECORDS {_id: 1}")
    eng.sql("BEGIN")
    eng.sql("INSERT INTO b RECORDS {_id: 2}")
    eng.sql("ROLLBACK")
    assert(eng.sql("SELECT count(*) AS n FROM b").head.getLong(0) == 1L)
    eng.sql("BEGIN READ ONLY")
    intercept[XtSqlParser.SqlParseException] {
      eng.sql("INSERT INTO b RECORDS {_id: 3}")
    }
    eng.sql("ROLLBACK")
    // COMMIT without BEGIN errors
    intercept[XtSqlParser.SqlParseException](eng.sql("COMMIT"))
  }

  // reference default_tz_test.clj: the session default zone governs
  // DATE -> TIMESTAMP WITH TIME ZONE casts; stored tstz values are
  // instants (re-rendered, never reinterpreted, under a later zone), while
  // a cast evaluated AT READ takes the query-time zone
  test("default time zone governs casts (default_tz_test 396)") {
    val (_, eng) = fresh()
    val tzBefore = spark.conf.get("spark.sql.session.timeZone")
    def tstzEpoch(): Long =
      eng.sql("SELECT CAST(DATE '2020-08-01' AS TIMESTAMP WITH TIME ZONE) AS tstz")
        .head.getTimestamp(0).getTime
    try {
      eng.sql("SET TIME ZONE 'Europe/London'")
      assert(tstzEpoch() == 1596236400000L) // 2020-08-01T00:00+01:00
      eng.sql("SET TIME ZONE 'America/Los_Angeles'")
      assert(tstzEpoch() == 1596265200000L) // 2020-08-01T00:00-07:00

      // write under London: the stored tstz pins the London instant
      eng.sql("SET TIME ZONE 'Europe/London'")
      eng.sql("INSERT INTO tzt RECORDS {_id: 'foo', dt: DATE '2020-08-01', " +
        "tstz: CAST(DATE '2020-08-01' AS TIMESTAMP WITH TIME ZONE)}")
      // read under LA: stored instant unchanged, read-time cast re-resolves
      eng.sql("SET TIME ZONE 'America/Los_Angeles'")
      val r = eng.sql("SELECT _id, tstz, " +
        "CAST(dt AS TIMESTAMP WITH TIME ZONE) AS cast_tstz FROM tzt").head
      assert(r.getTimestamp(1).getTime == 1596236400000L) // still +01:00
      assert(r.getTimestamp(2).getTime == 1596265200000L) // now -07:00
    } finally spark.conf.set("spark.sql.session.timeZone", tzBefore)
  }

  test("SET/SHOW session variables, TIME ZONE, isolation, snapshot token") {
    val (_, eng) = fresh()
    val tzBefore = spark.conf.get("spark.sql.session.timeZone")
    try {
      eng.sql("SET TIME ZONE 'America/New_York'")
      assert(eng.sql("SHOW TIMEZONE").head.getString(0)
        == "America/New_York")
      eng.sql("SET application_name = 'graft-test'")
      assert(eng.sql("SHOW application_name").head.getString(0)
        == "graft-test")
      assert(eng.sql("SHOW TRANSACTION ISOLATION LEVEL").head.getString(0)
        == "serializable")
      intercept[XtSqlParser.SqlParseException](eng.sql("SHOW nonexistent"))
      // SET TRANSACTION parses and is recorded, not an error
      eng.sql("SET TRANSACTION ISOLATION LEVEL READ COMMITTED")
      assert(eng.sql("SHOW SNAPSHOT_TOKEN").head.getString(0).nonEmpty)
      assert(eng.withClock(ts("2024-05-05 00:00:00"))
        .sql("SHOW CLOCK_TIME").head.getString(0)
        .startsWith("2024-05-05"))
    } finally spark.conf.set("spark.sql.session.timeZone", tzBefore)
  }

  test("PREPARE/EXECUTE binds positional params lexer-safely") {
    val (_, eng) = fresh()
    eng.sql("INSERT INTO c RECORDS {_id: 1, tag: 'x?y'}, {_id: 2, tag: 'b'}")
    eng.sql("PREPARE get_by_tag AS SELECT _id FROM c WHERE tag = ? AND _id >= ?")
    assert(eng.sql("EXECUTE get_by_tag ('x?y', 1)").head.getAs[Number](0).longValue == 1L)
    // arity mismatch errors; unknown name errors
    intercept[XtSqlParser.SqlParseException](eng.sql("EXECUTE get_by_tag ('a')"))
    intercept[XtSqlParser.SqlParseException](eng.sql("EXECUTE nope"))
    // a prepared DML re-executes
    eng.sql("PREPARE add_doc AS INSERT INTO c RECORDS {_id: 9, tag: 'p'}")
    eng.sql("EXECUTE add_doc")
    assert(eng.sql("SELECT count(*) AS n FROM c").head.getLong(0) == 3L)
  }

  test("RETURNING on INSERT/UPDATE/DELETE returns the affected rows") {
    val (_, eng) = fresh()
    val ins = eng.sql(
      "INSERT INTO r RECORDS {_id: 1, v: 10}, {_id: 2, v: 20} RETURNING _id, v * 2 AS v2")
      .collect().map(x => (x.getAs[Number](0).longValue,
        x.getAs[Number](1).longValue)).toSeq.sorted
    assert(ins == Seq((1L, 20L), (2L, 40L)))
    val upd = eng.sql("UPDATE r SET v = v + 5 WHERE _id = 1 RETURNING _id, v")
      .collect().map(x => (x.getAs[Number](0).longValue,
        x.getAs[Number](1).longValue)).toSeq
    assert(upd == Seq((1L, 15L))) // new version's value
    val del = eng.sql("DELETE FROM r WHERE _id = 2 RETURNING _id, v")
      .collect().map(x => (x.getAs[Number](0).longValue,
        x.getAs[Number](1).longValue)).toSeq
    assert(del == Seq((2L, 20L))) // deleted row's old value
    // table state reflects all three statements
    val left = eng.sql("SELECT _id, v FROM r ORDER BY _id")
      .collect().map(x => (x.getAs[Number](0).longValue,
        x.getAs[Number](1).longValue)).toSeq
    assert(left == Seq((1L, 15L)))
    // meta columns stay hidden unless named
    assert(!eng.sql("INSERT INTO r RECORDS {_id: 9} RETURNING *")
      .columns.contains("_iid"))
  }

  test("ATTACH DATABASE: qualified refs, temporal clause, xtdb alias, DETACH") {
    val (_, eng) = fresh()
    // second store written through its own engine with a pinned system time
    val otherRoot = java.nio.file.Files
      .createTempDirectory("xtsqlother").toString
    val otherDb = new XtDb(spark, otherRoot)
    otherDb.submitTx(Seq(graft.bitemporal.TxOp.Put("items",
        spark.sql("SELECT 1L AS _id, 'a' AS tag UNION ALL SELECT 2L, 'b'"))),
      Some(ts("2024-01-01 00:00:00")))
    otherDb.submitTx(Seq(graft.bitemporal.TxOp.Put("items",
        spark.sql("SELECT 1L AS _id, 'a2' AS tag"))),
      Some(ts("2024-02-01 00:00:00")))

    eng.sql("INSERT INTO locals RECORDS {_id: 1, name: 'x'}")
    eng.sql(s"ATTACH DATABASE other WITH 'path: $otherRoot'")
    // cross-db join, current snapshots
    val joined = eng.sql("""
      SELECT l.name, i.tag
      FROM locals l JOIN other.items i ON l._id = i._id""")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(joined == Seq(("x", "a2")))
    // temporal clause on the qualified ref + 3-part name + xtdb alias
    val old = eng.sql("""
      SELECT i.tag FROM other.public.items
        FOR SYSTEM_TIME AS OF TIMESTAMP '2024-01-15 00:00:00' i
      WHERE i._id = 1""").collect().map(_.getString(0)).toSeq
    assert(old == Seq("a"))
    assert(eng.sql("SELECT count(*) AS n FROM xtdb.locals")
      .head.getLong(0) == 1L)
    eng.sql("DETACH DATABASE other")
    intercept[Exception](eng.sql("SELECT * FROM other.items").collect())
  }

  test("OFFSET n ROWS / FETCH FIRST n ROWS ONLY rewrite to LIMIT/OFFSET") {
    val (_, eng) = fresh()
    eng.sql("INSERT INTO d RECORDS {_id: 1}, {_id: 2}, {_id: 3}, {_id: 4}, {_id: 5}")
    def ids(q: String): Seq[Long] =
      eng.sql(q).collect().map(_.getAs[Number](0).longValue).toSeq
    assert(ids("SELECT _id FROM d ORDER BY _id FETCH FIRST 2 ROWS ONLY")
      == Seq(1L, 2L))
    assert(ids("SELECT _id FROM d ORDER BY _id FETCH NEXT ROW ONLY")
      == Seq(1L))
    assert(ids("SELECT _id FROM d ORDER BY _id OFFSET 2 ROWS")
      == Seq(3L, 4L, 5L))
    assert(ids(
      "SELECT _id FROM d ORDER BY _id OFFSET 1 ROWS FETCH NEXT 2 ROWS ONLY")
      == Seq(2L, 3L))
  }

  // Session relations are built per statement, only when the statement
  // names them. These run on a fresh session, so no view an earlier suite
  // left registered can stand in for one the engine failed to build.

  private def freshSession(): (SparkSession, XtSqlEngine) = {
    val s = spark.newSession()
    val db = new XtDb(s,
      java.nio.file.Files.createTempDirectory("xtsqlnamed").toString)
    val eng = new XtSqlEngine(s, db)
    eng.sql("INSERT INTO orders RECORDS {_id: 1, v: 10}, {_id: 2, v: 20}")
    eng.sql("INSERT INTO customer RECORDS {_id: 7, name: 'c'}")
    (s, eng)
  }

  test("a point read builds only the relations it names and runs no job") {
    val (s, eng) = freshSession()
    // a temporal ref is served by its own view alone
    assert(eng.sql("""SELECT v FROM orders
        FOR SYSTEM_TIME AS OF TIMESTAMP '2999-01-01 00:00:00' WHERE _id = 1""")
      .collect().map(_.getAs[Number](0).longValue).toSeq == Seq(10L))
    assert(!s.catalog.tableExists("orders"))
    val (df, built) =
      EngineMetrics.during(s)(eng.sql("SELECT v FROM orders WHERE _id = 1"))
    assert(built.jobs == 0,
      s"building the point read ran ${built.jobs} job(s)")
    Seq("pg_class", "information_schema_columns", "xt_txs", "customer")
      .foreach(v => assert(!s.catalog.tableExists(v), s"$v was registered"))
    assert(df.collect().map(_.getAs[Number](0).longValue).toSeq == Seq(10L))
  }

  test("relations named by quoted, qualified and catalog refs still resolve") {
    val (s, eng) = freshSession()
    def longs(q: String): Seq[Long] =
      eng.sql(q).collect().map(_.getAs[Number](0).longValue).toSeq
    def strings(q: String): Seq[String] =
      eng.sql(q).collect().map(_.getString(0)).toSeq
    // a quoted identifier is no lexer Ident; the engine must still see it
    assert(longs("SELECT v FROM `ORDERS` WHERE _id = 1") == Seq(10L))
    assert(longs("""SELECT o.v FROM `orders` o
        JOIN customer c ON c._id = o._id + 5 WHERE o._id = 2""") == Seq(20L))

    val otherRoot = java.nio.file.Files
      .createTempDirectory("xtsqlnamed2").toString
    new XtSqlEngine(s, new XtDb(s, otherRoot))
      .sql("INSERT INTO orders RECORDS {_id: 1, v: 99}")
    eng.sql(s"ATTACH DATABASE db2 WITH 'path: $otherRoot'")
    assert(longs("SELECT v FROM db2.orders WHERE _id = 1") == Seq(99L))

    assert(strings("""SELECT c.relname FROM pg_class c
        JOIN pg_namespace n ON c.relnamespace = n.oid
        WHERE n.nspname = 'public' ORDER BY c.relname""") ==
      Seq("customer", "orders"))
    assert(strings("""SELECT column_name FROM information_schema_columns
        WHERE table_name = 'orders' AND column_name IN ('_id', 'v')
        ORDER BY column_name""") == Seq("_id", "v"))
    assert(longs("SELECT count(*) FROM xt_txs WHERE committed") == Seq(2L))

    assert(strings("EXPLAIN SELECT v FROM orders WHERE _id = 1")
      .mkString("\n").nonEmpty)
    eng.sql("PREPARE point AS SELECT v FROM orders WHERE _id = ?")
    assert(longs("EXECUTE point (2)") == Seq(20L))
  }
}
