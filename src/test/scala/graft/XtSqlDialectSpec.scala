package graft

import graft.bitemporal.{TxAbortedException, XtDb}
import graft.sql.{XtSqlEngine, XtSqlParser}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The XT SQL dialect surface end-to-end: temporal table-ref clauses,
  * SETTING DEFAULT, SQL-text DML (INSERT/UPDATE/DELETE/ERASE/PATCH/ASSERT),
  * RECORDS literals, NEST_ONE/NEST_MANY, multi-statement transactions.
  * Scenarios mirror reference src/test/clojure/xtdb/as_of_test.clj,
  * sql/temporal_test.clj and sql/patch_test.clj. */
class XtSqlDialectSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.builder(4).getOrCreate()

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  private def fresh(): (XtDb, XtSqlEngine) = {
    val db = new XtDb(spark,
      java.nio.file.Files.createTempDirectory("xtsqldialect").toString)
    (db, new XtSqlEngine(spark, db))
  }

  test("WITH RECURSIVE runs through the dialect front door (UnionLoop)") {
    import spark.implicits._
    import graft.bitemporal.TxOp
    val (db, eng) = fresh()
    db.submitTx(Seq(TxOp.Put("rec_d",
      Seq((1L, 3L), (2L, 5L)).toDF("_id", "v"))))
    val out = eng.sql("""
      WITH RECURSIVE t(n) AS (
        SELECT 1 UNION ALL SELECT n + 1 FROM t WHERE n < 4)
      SELECT t.n, count(d._id) AS hits
      FROM t LEFT JOIN rec_d d ON d.v % 4 = t.n
      GROUP BY t.n ORDER BY t.n""")
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(out == Seq((1, 1L), (2, 0L), (3, 1L), (4, 0L)))
  }

  test("system-time travel: AS OF, BETWEEN, FROM..TO, ALL") {
    val (db, eng) = fresh()
    import spark.implicits._
    import graft.bitemporal.TxOp
    db.submitTx(Seq(TxOp.Put("d", Seq((1L, 0L)).toDF("_id", "v"))),
      Some(ts("2024-01-01 00:00:00")))
    db.submitTx(Seq(TxOp.Put("d", Seq((1L, 1L)).toDF("_id", "v"))),
      Some(ts("2024-02-01 00:00:00")))
    db.submitTx(Seq(TxOp.Put("d", Seq((1L, 2L)).toDF("_id", "v"))),
      Some(ts("2024-03-01 00:00:00")))

    def vs(q: String): Seq[Long] =
      eng.sql(q).select("v").as[Long].collect().toSeq.sorted

    assert(vs("SELECT v FROM d") == Seq(2L))
    assert(vs("SELECT v FROM d FOR SYSTEM_TIME AS OF TIMESTAMP '2024-01-15 00:00:00'")
      == Seq(0L))
    assert(vs("SELECT v FROM d FOR SYSTEM_TIME AS OF TIMESTAMP '2024-02-15 00:00:00'")
      == Seq(1L))
    // range: versions whose system interval overlaps [from, to)
    assert(vs("SELECT v FROM d FOR SYSTEM_TIME FROM TIMESTAMP '2024-01-15 00:00:00' TO TIMESTAMP '2024-02-15 00:00:00'")
      == Seq(0L, 1L))
    // BETWEEN is end-inclusive: system_from == upper bound is included
    assert(vs("SELECT v FROM d FOR SYSTEM_TIME BETWEEN TIMESTAMP '2024-01-15 00:00:00' AND TIMESTAMP '2024-03-01 00:00:00'")
      == Seq(0L, 1L, 2L))
    assert(vs("SELECT v FROM d FOR ALL SYSTEM_TIME") == Seq(0L, 1L, 2L))
    // valid-time travel: v=1 superseded v=0 in valid time from its put
    assert(vs("SELECT v FROM d FOR VALID_TIME AS OF TIMESTAMP '2024-01-15 00:00:00'")
      == Seq(0L))
  }

  test("SETTING DEFAULT applies to bare refs; explicit clause wins") {
    val (db, eng) = fresh()
    import spark.implicits._
    import graft.bitemporal.TxOp
    db.submitTx(Seq(TxOp.Put("s", Seq((1L, 10L)).toDF("_id", "v"))),
      Some(ts("2024-01-01 00:00:00")))
    db.submitTx(Seq(TxOp.Put("s", Seq((1L, 20L)).toDF("_id", "v"))),
      Some(ts("2024-02-01 00:00:00")))
    import spark.implicits._
    val r = eng.sql("""SETTING DEFAULT SYSTEM_TIME AS OF TIMESTAMP '2024-01-15 00:00:00'
      SELECT a.v AS old_v, b.v AS new_v
      FROM s a, s FOR SYSTEM_TIME AS OF TIMESTAMP '2024-02-15 00:00:00' b""")
      .as[(Long, Long)].collect().toSeq
    assert(r == Seq((10L, 20L)))
  }

  test("both temporal dims on one table ref") {
    val (db, eng) = fresh()
    import spark.implicits._
    import graft.bitemporal.TxOp
    // v0 valid from 2024-01-01; later rewritten retroactively at sys 02-01
    db.submitTx(Seq(TxOp.Put("b", Seq((1L, 0L)).toDF("_id", "v"),
      validFrom = Some(lit("2024-01-01 00:00:00")))),
      Some(ts("2024-01-01 00:00:00")))
    db.submitTx(Seq(TxOp.Put("b", Seq((1L, 1L)).toDF("_id", "v"),
      validFrom = Some(lit("2024-01-01 00:00:00")))),
      Some(ts("2024-02-01 00:00:00")))
    import spark.implicits._
    def one(q: String): Long = eng.sql(q).select("v").as[Long].collect().head
    // valid 01-15 at system 01-15: the original
    assert(one("""SELECT v FROM b FOR VALID_TIME AS OF TIMESTAMP '2024-01-15 00:00:00'
      FOR SYSTEM_TIME AS OF TIMESTAMP '2024-01-15 00:00:00'""") == 0L)
    // same valid point, later system time: the retroactive correction
    assert(one("""SELECT v FROM b FOR VALID_TIME AS OF TIMESTAMP '2024-01-15 00:00:00'
      FOR SYSTEM_TIME AS OF TIMESTAMP '2024-02-15 00:00:00'""") == 1L)
  }

  test("dollar-quoted strings run end-to-end (expr_test dollar-quotes)") {
    val (_, eng) = fresh()
    import spark.implicits._
    assert(eng.sql("SELECT $$foo$$ AS x").as[String].collect().head == "foo")
    eng.sql("INSERT INTO dq RECORDS {_id: 1, note: $tag$it's $quoted$$tag$}")
    assert(eng.sql("SELECT note FROM dq WHERE _id = 1")
      .as[String].collect().head == "it's $quoted$")
  }

  test("timestamptz spellings, :: casts, variadic OVERLAPS, _valid_time period") {
    val (_, eng) = fresh()
    import spark.implicits._
    // single-word TIMEZONE + typed literal (expr_test 3612 / single-word)
    assert(eng.sql("SELECT TIMESTAMP WITH TIMEZONE '2021-10-21 12:34:00+01:00' AS v")
      .head.getTimestamp(0).getTime == 1634816040000L)
    assert(eng.sql("SELECT CAST('2021-10-21 12:34:00+01:00' AS TIMESTAMP WITH TIMEZONE) AS v")
      .head.getTimestamp(0).getTime == 1634816040000L)
    // pg :: cast with the timestamptz alias
    assert(eng.sql("SELECT '2021-10-21 12:34:00+01:00'::timestamptz AS v")
      .head.getTimestamp(0).getTime == 1634816040000L)
    // variadic OVERLAPS over _valid_time periods (expr_test 3441)
    eng.sql("INSERT INTO vo (_id, _valid_from, _valid_to) VALUES " +
      "(1, DATE '2020-01-01', DATE '2020-01-03'), " +
      "(2, DATE '2020-01-03', DATE '2020-01-05')")
    eng.sql("INSERT INTO vo2 (_id, _valid_from, _valid_to) VALUES " +
      "(3, DATE '2020-01-01', DATE '2020-01-04'), " +
      "(4, DATE '2020-01-04', DATE '2020-01-06')")
    val pairs = eng.sql("""SETTING DEFAULT VALID_TIME ALL
        SELECT vo._id AS a, vo2._id AS b FROM vo, vo2
        WHERE OVERLAPS(vo._valid_time, vo2._valid_time)""")
      .as[(Long, Long)].collect().toSet
    assert(pairs == Set((2L, 4L), (2L, 3L), (1L, 3L)))
    // 3-ary: all three share an instant only for [01-01,01-03)x[01-01,01-04)
    // x a probe period [01-02,01-03)
    val tri = eng.sql("""SETTING DEFAULT VALID_TIME ALL
        SELECT vo._id AS a, vo2._id AS b FROM vo, vo2
        WHERE OVERLAPS(vo._valid_time, vo2._valid_time,
                       period(TIMESTAMP '2020-01-02 00:00:00',
                              TIMESTAMP '2020-01-03 00:00:00'))""")
      .as[(Long, Long)].collect().toSet
    assert(tri == Set((1L, 3L)))
  }

  test("generate_series / range SQL functions (generate_series_test 3212/4067)") {
    val (_, eng) = fresh()
    import spark.implicits._
    def arr(q: String): Seq[Long] =
      eng.sql(q).head.getSeq[Any](0).map(_.toString.toLong)
    assert(arr("SELECT generate_series(1, 4) xs") == Seq(1L, 2L, 3L, 4L))
    assert(arr("SELECT generate_series(1, 8, 3) xs") == Seq(1L, 4L, 7L))
    assert(arr("SELECT generate_series(10, 3) xs").isEmpty) // not reversed
    assert(arr("SELECT generate_series(1, 1) xs") == Seq(1L))
    assert(arr("SELECT generate_series(1, 2, 2) xs") == Seq(1L))
    assert(arr("SELECT generate_series(5, 1, -1) xs") == Seq(5L, 4L, 3L, 2L, 1L))
    assert(arr("SELECT range(1, 4) xs") == Seq(1L, 2L, 3L)) // exclusive end
    // datetimes with interval steps, inclusive end
    val dates = eng.sql("SELECT generate_series(DATE '2020-01-01', " +
      "DATE '2020-01-04', INTERVAL '1' DAY) dates").head.getSeq[Any](0)
    assert(dates.length == 4 && dates.head.toString.startsWith("2020-01-01"))
    val months = eng.sql("SELECT generate_series(DATE '2020-01-01', " +
      "DATE '2020-04-01', INTERVAL '1' MONTH) dates").head.getSeq[Any](0)
    assert(months.length == 4)
    val hours = eng.sql("SELECT generate_series(TIMESTAMP '2020-01-01 00:00:00', " +
      "TIMESTAMP '2020-01-01 03:00:00', INTERVAL '1' HOUR) ts").head.getSeq[Any](0)
    assert(hours.length == 4)
  }

  test("WITH MATERIALIZED CTEs; period specs on CTE refs error (3440)") {
    val (_, eng) = fresh()
    import spark.implicits._
    eng.sql("INSERT INTO bar (_id) VALUES (3), (5)")
    val r = eng.sql("""WITH MATERIALIZED foo AS (SELECT _id FROM bar WHERE _id = 5)
        SELECT foo._id AS foo_id, baz._id AS baz_id FROM foo, foo AS baz""")
      .as[(Long, Long)].collect().toSeq
    assert(r == Seq((5L, 5L)))
    val e = intercept[XtSqlParser.SqlParseException] {
      eng.sql("WITH my_cte AS (SELECT * FROM bar) SELECT * FROM my_cte " +
        "FOR SYSTEM_TIME AS OF TIMESTAMP '2024-01-01 00:00:00'")
    }
    assert(e.getMessage.contains("not allowed on CTE reference: my_cte"))
  }

  test("implicit string->temporal coercion; PERIOD with null endpoints") {
    val (_, eng) = fresh()
    import spark.implicits._
    eng.sql("INSERT INTO tsc (_id, t, d) VALUES " +
      "(1, TIMESTAMP '2026-01-15 10:00:00', DATE '2026-03-15')")
    def ids(q: String): Seq[Long] =
      eng.sql(q).select("_id").as[Long].collect().toSeq
    // ISO strings (incl. T separator / Z suffix) coerce in comparisons
    // (expr_test implicit-string-literal-to-temporal-coercion)
    assert(ids("SELECT _id FROM tsc WHERE t >= '2026-01-15T09:00:00Z'") == Seq(1L))
    assert(ids("SELECT _id FROM tsc WHERE '2026-01-15T09:00:00Z' <= t") == Seq(1L))
    assert(ids("SELECT _id FROM tsc WHERE t BETWEEN '2026-01-15T09:00:00Z' " +
      "AND '2026-01-15T11:00:00Z'") == Seq(1L))
    assert(ids("SELECT _id FROM tsc WHERE t >= '2026-01-15T11:00:00Z'").isEmpty)
    assert(ids("SELECT _id FROM tsc WHERE d >= '2026-03-14'") == Seq(1L))
    assert(ids("SELECT _id FROM tsc WHERE '2026-03-16' > d") == Seq(1L))
    // PERIOD(NULL, …) — unbounded endpoints are legal values (4315) and
    // behave as ±infinity in predicates
    val p = eng.sql("SELECT PERIOD(NULL, TIMESTAMP '2020-01-01 00:00:00') AS p")
      .head.getStruct(0)
    assert(p.isNullAt(0) && p.getTimestamp(1) != null)
    assert(eng.sql("SELECT p_contains_ts(PERIOD(NULL, TIMESTAMP '2020-01-01 00:00:00'), " +
      "TIMESTAMP '1900-06-01 00:00:00') AS v").head.getBoolean(0))
  }

  test("comma-tolerant WHERE chains terms with AND (expr_test where-commas)") {
    val (_, eng) = fresh()
    import spark.implicits._
    eng.sql("INSERT INTO wc (_id, a, b) VALUES (1, 1, 2), (2, 1, 9), (3, 5, 2)")
    def ids(q: String): Seq[Long] =
      eng.sql(q).select("_id").as[Long].collect().toSeq.sorted
    assert(ids("SELECT _id FROM wc WHERE a = 1, b = 2") == Seq(1L))
    assert(ids("SELECT _id FROM wc WHERE , a = 1") == Seq(1L, 2L))
    assert(ids("SELECT _id FROM wc WHERE a = 1, , b = 2 ,") == Seq(1L))
    // bare WHERE keeps every row; list commas are untouched
    assert(ids("SELECT _id FROM wc WHERE") == Seq(1L, 2L, 3L))
    assert(ids("SELECT _id FROM wc WHERE a IN (1, 5), b = 2") == Seq(1L, 3L))
    // nested subquery WHERE rewrites independently of the outer one
    assert(ids("SELECT _id FROM wc WHERE a = 5, _id IN " +
      "(SELECT _id FROM wc WHERE b = 2, a > 0)") == Seq(3L))
    // terminator keywords end the clause
    assert(ids("SELECT _id FROM wc WHERE a = 1, b = 2 ORDER BY _id LIMIT 1")
      == Seq(1L))
  }

  test("SQL DML: INSERT VALUES / RECORDS / SELECT, UPDATE, DELETE, ERASE") {
    val (db, eng) = fresh()
    import spark.implicits._
    eng.sql("INSERT INTO people (_id, name, age) VALUES (1, 'ada', 36), (2, 'alan', 41)")
    eng.sql("INSERT INTO people RECORDS {_id: 3, name: 'grace', age: 45, team: 'navy'}")
    assert(eng.sql("SELECT name FROM people ORDER BY _id")
      .as[String].collect().toSeq == Seq("ada", "alan", "grace"))
    // dynamic column: team only on grace
    assert(eng.sql("SELECT count(*) AS n FROM people WHERE team IS NULL")
      .as[Long].collect().head == 2L)

    eng.sql("UPDATE people SET age = age + 1 WHERE name = 'ada'")
    assert(eng.sql("SELECT age FROM people WHERE _id = 1")
      .as[Long].collect().toSeq == Seq(37L))

    // INSERT … SELECT (with a temporal ref on the source)
    eng.sql("INSERT INTO seniors SELECT _id, name FROM people WHERE age > 40")
    assert(eng.sql("SELECT count(*) AS n FROM seniors").as[Long].collect().head == 2L)

    eng.sql("DELETE FROM people WHERE name = 'alan'")
    assert(eng.sql("SELECT count(*) AS n FROM people").as[Long].collect().head == 2L)
    // deleted rows remain in history
    assert(eng.sql("SELECT count(*) AS n FROM people FOR ALL SYSTEM_TIME WHERE name = 'alan'")
      .as[Long].collect().head >= 1L)

    eng.sql("ERASE FROM people WHERE _id = 1")
    assert(eng.sql("SELECT count(*) AS n FROM people FOR ALL SYSTEM_TIME FOR ALL VALID_TIME WHERE _id = 1")
      .as[Long].collect().head == 0L)
  }

  test("PATCH: current-version merge and valid-time gap filling") {
    val (db, eng) = fresh()
    import spark.implicits._
    eng.sql("INSERT INTO cfg RECORDS {_id: 1, a: 'x', b: 'y'}")
    eng.sql("PATCH INTO cfg RECORDS {_id: 1, b: 'y2', c: 'z'}")
    val r = eng.sql("SELECT a, b, c FROM cfg WHERE _id = 1")
      .as[(String, String, String)].collect().head
    assert(r == (("x", "y2", "z")))

    // gap filling (reference patch_test.clj): doc exists over
    // [03-01, 03-10); patch over [02-20, 03-20) must fill the gaps
    // [02-20,03-01) and [03-10,03-20) with patch-only docs and merge over
    // the overlap
    eng.sql("""INSERT INTO gap (_id, v, _valid_from, _valid_to)
      VALUES (7, 'orig', TIMESTAMP '2024-03-01 00:00:00', TIMESTAMP '2024-03-10 00:00:00')""")
    eng.sql("""PATCH INTO gap FOR VALID_TIME FROM TIMESTAMP '2024-02-20 00:00:00'
      TO TIMESTAMP '2024-03-20 00:00:00' RECORDS {_id: 7, p: 'patched'}""")
    def at(t: String): Option[(Option[String], Option[String])] =
      eng.sql(s"SELECT v, p FROM gap FOR VALID_TIME AS OF TIMESTAMP '$t' WHERE _id = 7")
        .as[(Option[String], Option[String])].collect().headOption
    assert(at("2024-02-15 00:00:00").isEmpty) // before patch range
    assert(at("2024-02-25 00:00:00").contains((None, Some("patched")))) // head gap
    assert(at("2024-03-05 00:00:00").contains((Some("orig"), Some("patched")))) // merged
    assert(at("2024-03-15 00:00:00").contains((None, Some("patched")))) // tail gap
    assert(at("2024-03-25 00:00:00").isEmpty) // after patch range
  }

  test("PATCH edge cases: new id fills whole range; unbounded FROM range") {
    val (db, eng) = fresh()
    import spark.implicits._
    eng.sql("INSERT INTO g2 RECORDS {_id: 1, v: 'seed'}")
    // _id 2 has NO versions: whole range is one gap → patch-only doc
    eng.sql("""PATCH INTO g2 FOR VALID_TIME FROM TIMESTAMP '2024-01-01 00:00:00'
      TO TIMESTAMP '2024-02-01 00:00:00' RECORDS {_id: 2, p: 'new'}""")
    val r = eng.sql("""SELECT p FROM g2
      FOR VALID_TIME AS OF TIMESTAMP '2024-01-15 00:00:00' WHERE _id = 2""")
      .as[String].collect().toSeq
    assert(r == Seq("new"))
    assert(eng.sql("""SELECT count(*) AS n FROM g2
      FOR VALID_TIME AS OF TIMESTAMP '2024-02-15 00:00:00' WHERE _id = 2""")
      .as[Long].collect().head == 0L)
    // unbounded FROM: patch applies from the bound onward, forever
    eng.sql("""PATCH INTO g2 FOR VALID_TIME FROM TIMESTAMP '2030-01-01 00:00:00'
      RECORDS {_id: 3, p: 'forever'}""")
    assert(eng.sql("""SELECT p FROM g2
      FOR VALID_TIME AS OF TIMESTAMP '2099-01-01 00:00:00' WHERE _id = 3""")
      .as[String].collect().toSeq == Seq("forever"))
  }

  test("UPDATE FOR PORTION OF VALID_TIME: outside the portion survives") {
    val (db, eng) = fresh()
    import spark.implicits._
    eng.sql("""INSERT INTO pr (_id, status, _valid_from)
      VALUES (1, 'active', TIMESTAMP '2024-01-01 00:00:00')""")
    eng.sql("""UPDATE pr FOR PORTION OF VALID_TIME
      FROM TIMESTAMP '2024-03-01 00:00:00' TO TIMESTAMP '2024-04-01 00:00:00'
      SET status = 'paused' WHERE _id = 1""")
    def statusAt(t: String): String =
      eng.sql(s"SELECT status FROM pr FOR VALID_TIME AS OF TIMESTAMP '$t' WHERE _id = 1")
        .as[String].collect().head
    assert(statusAt("2024-02-01 00:00:00") == "active")  // before portion
    assert(statusAt("2024-03-15 00:00:00") == "paused")  // inside portion
    assert(statusAt("2024-05-01 00:00:00") == "active")  // after portion
  }

  test("ASSERT and atomic multi-statement transactions") {
    val (db, eng) = fresh()
    import spark.implicits._
    eng.sql("INSERT INTO acct RECORDS {_id: 1, bal: 100}")

    // passing multi-statement tx: transfer with invariant
    eng.submitTxSql(Seq(
      "INSERT INTO acct RECORDS {_id: 2, bal: 50}",
      "UPDATE acct SET bal = bal - 30 WHERE _id = 1",
      "ASSERT (SELECT min(bal) FROM acct) >= 0, 'no overdraft'"))
    assert(eng.sql("SELECT sum(bal) AS s FROM acct").as[Long].collect().head == 120L)

    // failing tx rolls everything back
    intercept[TxAbortedException] {
      eng.submitTxSql(Seq(
        "UPDATE acct SET bal = bal - 1000 WHERE _id = 1",
        "ASSERT (SELECT min(bal) FROM acct) >= 0, 'no overdraft'"))
    }
    assert(eng.sql("SELECT sum(bal) AS s FROM acct").as[Long].collect().head == 120L)
  }

  test("NEST_MANY / NEST_ONE build nested results") {
    val (db, eng) = fresh()
    import spark.implicits._
    eng.sql("INSERT INTO authors (_id, aname) VALUES (1, 'knuth'), (2, 'dijkstra')")
    eng.sql("""INSERT INTO books (_id, author_id, title) VALUES
      (10, 1, 'taocp1'), (11, 1, 'taocp2'), (12, 2, 'ewd')""")
    val r = eng.sql("""
      SELECT a.aname AS aname,
             NEST_MANY(SELECT b.title AS title FROM books b
                       WHERE b.author_id = a._id) AS bs
      FROM authors a ORDER BY a.aname""")
    val rows = r.collect()
    assert(rows.length == 2)
    val byName = rows.map(x => x.getString(0) ->
      x.getSeq[org.apache.spark.sql.Row](1).map(_.getString(0)).sorted).toMap
    assert(byName("knuth") == Seq("taocp1", "taocp2"))
    assert(byName("dijkstra") == Seq("ewd"))

    val one = eng.sql("""
      SELECT b.title AS title,
             NEST_ONE(SELECT a.aname AS aname FROM authors a
                      WHERE a._id = b.author_id) AS author
      FROM books b WHERE b._id = 12""").collect().head
    assert(one.getStruct(1).getString(0) == "dijkstra")
  }

  test("CREATE TABLE, COPY IN (csv), GRANT/REVOKE, snapshot token, blocks") {
    val (db, eng) = fresh()
    import spark.implicits._
    eng.sql("CREATE TABLE pets (_id BIGINT, name STRING)")
    assert(eng.sql("SELECT count(*) AS n FROM pets").as[Long].collect().head == 0L)
    eng.sql("INSERT INTO pets (_id, name) VALUES (1, 'rex')")

    // stable snapshot token: later writes invisible at the pinned basis
    val token = db.snapshotToken()
    eng.sql("INSERT INTO pets (_id, name) VALUES (2, 'bella')")
    assert(db.atSnapshot("pets", token).count() == 1)
    assert(db.asOf("pets").count() == 2)

    // COPY IN from csv
    val csvDir = java.nio.file.Files.createTempDirectory("copycsv").toString
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$csvDir/toys.csv"),
      "_id,toy\n10,ball\n11,bone\n")
    eng.sql(s"COPY toys FROM '$csvDir/toys.csv' WITH (FORMAT csv)")
    assert(eng.sql("SELECT count(*) AS n FROM toys").as[Long].collect().head == 2L)

    // role catalog: latest action wins
    eng.sql("GRANT ROLE admin TO alice")
    eng.sql("GRANT ROLE admin TO bob")
    eng.sql("REVOKE ROLE admin FROM bob")
    assert(db.roleGrants.select("grantee").as[String].collect().toSet ==
      Set("alice"))

    // block debug table: physical file listing
    val blocks = db.blocks("pets").collect()
    assert(blocks.length >= 2 && blocks.forall(_.getLong(2) > 0))

    // pg-compat functions
    val pg = eng.sql(
      "SELECT version() AS v, pg_backend_pid() AS p, current_database() AS d")
      .collect().head
    assert(pg.getString(0).contains("PostgreSQL") && pg.getInt(1) == 42 &&
      pg.getString(2) == "graft")
  }

  test("system tables queryable through SQL: xt_txs, information_schema") {
    val (db, eng) = fresh()
    import spark.implicits._
    eng.sql("INSERT INTO sys1 RECORDS {_id: 1, v: 'x'}")
    assert(eng.sql("SELECT count(*) AS n FROM xt_txs WHERE committed")
      .as[Long].collect().head == 1L)
    assert(eng.sql(
      "SELECT table_name FROM information_schema_tables ORDER BY 1")
      .as[String].collect().toSeq == Seq("sys1"))
    assert(eng.sql("""SELECT count(*) AS n FROM information_schema_columns
      WHERE table_name = 'sys1' AND column_name = '_valid_from'""")
      .as[Long].collect().head == 1L)
  }

  test("SQL-declared layouts: CREATE TABLE … WITH (layout_key, " +
      "layout_buckets) and ALTER TABLE … DECLARE LAYOUT persist the " +
      "declaration, materialize the snapshot, and surface in " +
      "information_schema_table_layouts") {
    val (db, eng) = fresh()
    import spark.implicits._
    // CREATE TABLE carries the declaration (empty table: snapshot waits)
    eng.sql("CREATE TABLE lt1 (_id BIGINT, k BIGINT, v STRING) " +
      "WITH (layout_key = k, layout_buckets = 4)")
    assert(db.layoutOf("lt1").contains(db.TableLayout("k", 4)))
    // ALTER TABLE declares on an existing table and compacts immediately
    (1 to 20).foreach(i =>
      eng.sql(s"INSERT INTO lt2 RECORDS {_id: $i, k: ${i % 5}, v: 'x$i'}"))
    assert(db.currentSnapshotIfValid("lt2").isEmpty)
    eng.sql("ALTER TABLE lt2 DECLARE LAYOUT (key = k, buckets = 2)")
    assert(db.layoutOf("lt2").contains(db.TableLayout("k", 2)))
    assert(db.currentSnapshotIfValid("lt2").isDefined,
      "DECLARE LAYOUT must compact and materialize the snapshot")
    // quoted-string key form parses too
    eng.sql("ALTER TABLE lt2 DECLARE LAYOUT (buckets = 2, key = 'k')")
    // info-schema exposure: declared tables with live validity
    val meta = eng.sql(
      "SELECT table_name, layout_key, layout_buckets, snapshot_valid " +
        "FROM information_schema_table_layouts ORDER BY table_name")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(meta.toSeq == Seq(("lt1", "k", 4L), ("lt2", "k", 2L)))
    // results unchanged by the layout
    assert(eng.sql("SELECT count(*) AS n FROM lt2").as[Long].head == 20L)
    // malformed forms refuse loudly
    intercept[Exception] {
      eng.sql("ALTER TABLE lt2 DECLARE LAYOUT (key = k)")
    }
    // a key that is not a column of the table is refused BEFORE
    // persisting — a poisoned declaration would make every later
    // auto-compaction fail at materialization
    intercept[Exception] {
      eng.sql("ALTER TABLE lt2 DECLARE LAYOUT (key = nosuch, buckets = 2)")
    }
    assert(db.layoutOf("lt2").contains(db.TableLayout("k", 2)),
      "a refused declaration must leave the previous layout intact")
    intercept[Exception] {
      eng.sql("ALTER TABLE lt2 DECLARE LAYOUT (key = k, buckets = 'x')")
    }
    intercept[Exception] {
      eng.sql("ALTER TABLE lt2 DECLARE LAYOUT (key = k, buckets = 2, zap = 1)")
    }
    // key resolution is case-insensitive like the engine's own column
    // resolution, and the canonical column name is what persists
    eng.sql("ALTER TABLE lt2 DECLARE LAYOUT (key = K, buckets = 2)")
    assert(db.layoutOf("lt2").contains(db.TableLayout("k", 2)))
    // trailing garbage after DROP LAYOUT refuses, never silently ignored
    intercept[Exception] {
      eng.sql("ALTER TABLE lt2 DROP LAYOUT CASCADE")
    }
    assert(db.layoutOf("lt2").isDefined)
    // DROP LAYOUT removes the declaration; reads fall back to live/flat
    eng.sql("ALTER TABLE lt2 DROP LAYOUT")
    assert(db.layoutOf("lt2").isEmpty)
    assert(db.currentSnapshotIfValid("lt2").isEmpty,
      "dropping the layout must stop snapshot serving")
    assert(eng.sql("SELECT count(*) AS n FROM lt2").as[Long].head == 20L)
    assert(eng.sql(
      "SELECT count(*) AS n FROM information_schema_table_layouts")
      .as[Long].head == 1L, "only lt1's declaration remains")
  }

  test("sqlScript: ;-separated statements run in order, last result returned") {
    val (db, eng) = fresh()
    import spark.implicits._
    val out = eng.sqlScript("""
      INSERT INTO notes RECORDS {_id: 1, txt: 'a;b'};
      UPDATE notes SET txt = txt || ';c' WHERE _id = 1;
      SELECT txt FROM notes WHERE _id = 1
    """)
    assert(out.as[String].collect().toSeq == Seq("a;b;c"))
  }

  test("frozen query clock: unpinned refs resolve at the basis instant") {
    val (db, eng) = fresh()
    import spark.implicits._
    import graft.bitemporal.TxOp
    db.submitTx(Seq(TxOp.Put("c", Seq((1L, 0L)).toDF("_id", "v"))),
      Some(ts("2024-01-01 00:00:00")))
    db.submitTx(Seq(TxOp.Put("c", Seq((1L, 1L)).toDF("_id", "v"))),
      Some(ts("2024-02-01 00:00:00")))
    // same query text, different clock → different snapshot
    val early = eng.withClock(ts("2024-01-15 00:00:00"))
    assert(early.sql("SELECT v FROM c").as[Long].collect().toSeq == Seq(0L))
    assert(eng.sql("SELECT v FROM c").as[Long].collect().toSeq == Seq(1L))
    // explicit clause overrides the clock per dimension: with system time
    // explicit but valid time still at the clock (Jan 15), v1 — valid
    // from its Feb 1 put — is not yet valid, so v0 shows
    assert(early.sql(
      "SELECT v FROM c FOR SYSTEM_TIME AS OF TIMESTAMP '2024-02-15 00:00:00'")
      .as[Long].collect().toSeq == Seq(0L))
    // both dims explicit → the clock is fully overridden
    assert(early.sql("""SELECT v FROM c
        FOR VALID_TIME AS OF TIMESTAMP '2024-02-15 00:00:00'
        FOR SYSTEM_TIME AS OF TIMESTAMP '2024-02-15 00:00:00'""")
      .as[Long].collect().toSeq == Seq(1L))
  }

  test("lexer safety: FOR/table words inside string literals are untouched") {
    val (db, eng) = fresh()
    import spark.implicits._
    eng.sql("INSERT INTO notes RECORDS {_id: 1, txt: 'orders FOR SYSTEM_TIME AS OF tomorrow'}")
    assert(eng.sql("SELECT txt FROM notes").as[String].collect().head
      .contains("FOR SYSTEM_TIME"))
    // substring(x FROM 1 FOR 3) must not parse as a temporal clause
    assert(eng.sql("SELECT substring(txt FROM 1 FOR 6) AS s FROM notes")
      .as[String].collect().head == "orders")
  }

  test("snapshot_token and current_timezone functions") {
    val (db, eng) = fresh()
    eng.sql("INSERT INTO t (_id, v) VALUES (1, 1)")
    val tok = eng.sql("SELECT snapshot_token() AS tok")
      .collect().head.getString(0)
    assert(tok.nonEmpty)
    assert(eng.sql("SELECT current_timezone() AS tz")
      .collect().head.getString(0) == "UTC")
    // a frozen-clock engine pins the token to the basis instant
    val pinned = eng.withClock(ts("2030-01-01 00:00:00"))
    assert(pinned.sql("SELECT snapshot_token() AS tok")
      .collect().head.getString(0).startsWith("2030-01-01"))
  }

  test("object constructors: OBJECT / RECORD / braces → structs") {
    val (db, eng) = fresh()
    eng.sql("INSERT INTO cfg RECORDS {_id: 1, a: 10}")
    // expression-position constructors, incl. nesting and all three spellings
    val r = eng.sql("""
      SELECT OBJECT(x: a + 1, y: 'lit') AS o1,
             RECORD(inner: {p: a, q: a * 2}) AS o2
      FROM cfg""").collect().head
    val o1 = r.getStruct(0)
    assert(o1.getAs[Any]("x") == 11 && o1.getAs[String]("y") == "lit")
    val inner = r.getStruct(1).getStruct(0)
    assert(inner.getAs[Any]("p") == 10 && inner.getAs[Any]("q") == 20)
    // nested object inside a RECORDS field value
    eng.sql("INSERT INTO cfg RECORDS {_id: 2, a: 7, meta: {tag: 'x', n: 3}}")
    val m = eng.sql("SELECT meta.tag AS t, meta.n AS n FROM cfg WHERE _id = 2")
      .collect().head
    assert(m.getString(0) == "x" && m.getAs[Any](1) == 3)
  }

  test("SELECT * hides bitemporal meta columns; naming one selects it") {
    val (db, eng) = fresh()
    import spark.implicits._
    eng.sql("INSERT INTO t (_id, v) VALUES (1, 10)")
    // reference: _valid_*/_system_*/_iid are hidden from star expansion
    assert(eng.sql("SELECT * FROM t").columns.toSet == Set("_id", "v"))
    // but an explicit reference selects the column
    val vf = eng.sql("SELECT _id, _valid_from FROM t").collect().head
    assert(!vf.isNullAt(1))
    // and once referenced anywhere, it also rides the star
    assert(eng.sql("SELECT * FROM t WHERE _valid_from < TIMESTAMP '9999-01-01 00:00:00'")
      .columns.contains("_valid_from"))
    // temporal-clause refs behave the same
    assert(eng.sql("SELECT * FROM t FOR ALL SYSTEM_TIME").columns.toSet
      == Set("_id", "v"))
  }

  test("JSON access + regex operators: chains, precedence, unary ~ intact") {
    val (db, eng) = fresh()
    eng.sql("""INSERT INTO j (_id, doc, name)
               VALUES (1, '{"a": {"b": [5, 6]}, "s": "hi"}', 'Widget')""")
    // chained -> resolves leftmost-first over successive passes
    val r = eng.sql("""
      SELECT doc -> 'a' -> 'b' -> 0 AS five,
             doc ->> 's' AS s_text,
             doc -> 's' AS s_json,
             doc #>> ARRAY['a', 'b', 1] AS six,
             name ~ '^Wid' AS m1,
             name ~* '^wid' AS m2,
             name !~* '^wid' AS m3,
             5 & ~1 AS bits
      FROM j WHERE _id = 1""").collect().head
    assert(r.getString(0) == "5")
    assert(r.getString(1) == "hi")
    // `->` keeps JSON rendering: strings stay quoted
    assert(r.getString(2) == "\"hi\"")
    assert(r.getString(3) == "6")
    assert(r.getBoolean(4) && r.getBoolean(5) && !r.getBoolean(6))
    // unary bit-not must NOT be parsed as a regex operator (lhs is `&`)
    assert(r.getAs[Any](7) == 4)
    // missing key: -> gives SQL NULL
    val miss = eng.sql("SELECT doc -> 'zzz' AS x FROM j").collect().head
    assert(miss.isNullAt(0))
  }

  test("* EXCLUDE and * RENAME on the select star") {
    val (db, eng) = fresh()
    import spark.implicits._
    eng.sql("INSERT INTO t (_id, a, b, c) VALUES (1, 10, 20, 30)")
    assert(eng.sql("SELECT * EXCLUDE (a, c) FROM t").columns.toSet
      == Set("_id", "b"))
    assert(eng.sql("SELECT * EXCLUDE a FROM t").columns.toSet
      == Set("_id", "b", "c"))
    val ren = eng.sql("SELECT * RENAME (a AS alpha, b beta) FROM t")
    assert(ren.columns.toSet == Set("_id", "c", "alpha", "beta"))
    assert(ren.select("alpha").as[Int].collect().head == 10)
    // combined EXCLUDE + RENAME on one star
    val both = eng.sql("SELECT * EXCLUDE c RENAME a AS alpha FROM t")
    assert(both.columns.toSet == Set("_id", "b", "alpha"))
  }
}
