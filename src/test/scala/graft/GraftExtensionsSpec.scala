package graft

import graft.bitemporal.XtDb
import graft.plans.{GraftIntervalJoin, GraftJoinReorder, IidBucketPruning}
import graft.sql.XtSqlEngine
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Session-extension installation: a session built by [[GraftSession]]
  * carries the whole graft function catalog and each graft optimizer rule
  * from build time, and running statements never installs anything more. */
class GraftExtensionsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.builder(4).getOrCreate()

  private lazy val eng = {
    import spark.implicits._
    val db = new XtDb(spark,
      java.nio.file.Files.createTempDirectory("graft-ext").toString)
    db.putDocs("docs", Seq((1L, 0L)).toDF("_id", "version"))
    new XtSqlEngine(spark, db)
  }

  test("withExtensions installs the function catalog at build time") {
    val r = spark.sql("""
      SELECT iid_hex(7) AS iid,
             p_overlaps(period(TIMESTAMP '2024-01-01', TIMESTAMP '2024-02-01'),
                        period(TIMESTAMP '2024-01-15', TIMESTAMP '2024-03-01')) AS ovl
    """).collect().head
    assert(r.getString(0).length == 32 && r.getBoolean(1))
  }

  test("each graft rule is installed once; statements install nothing") {
    assert(eng.sql("SELECT version FROM docs WHERE _id = 1")
      .collect().map(_.getLong(0)).toSeq == Seq(0L))
    eng.sql("INSERT INTO docs (_id, version) VALUES (2, 0)")
    assert(eng.sql("SELECT count(*) FROM docs").collect().head.getLong(0) == 2L)
    // an injected rule joins the operator-optimization rule set, which
    // Spark runs as two batches (before and after filter inference): each
    // graft rule sits once in each of those and in no other batch
    val batches = spark.sessionState.optimizer.batches
    val operatorBatches = batches.map(_.name)
      .filter(_.startsWith("Operator Optimization"))
    assert(operatorBatches.length == 2)
    for (rule <- Seq(IidBucketPruning, GraftJoinReorder, GraftIntervalJoin)) {
      val holding = batches.filter(_.rules.exists(_ eq rule))
      assert(holding.map(_.name) == operatorBatches, rule.ruleName)
      assert(holding.forall(_.rules.count(_ eq rule) == 1), rule.ruleName)
    }
    // the batch Spark builds from experimental extra optimizations
    assert(batches.filter(_.name == "User Provided Optimizers")
      .forall(_.rules.isEmpty))
  }

  test("the catalog names each function once") {
    val names = GraftExtensions.functions.map(_.name)
    assert(names.distinct == names)
    assert(names.forall(n =>
      spark.sessionState.functionRegistry.functionExists(
        org.apache.spark.sql.catalyst.FunctionIdentifier(n))))
  }

  test("every XtSqlParser rewrite target resolves") {
    val p1 = "period(TIMESTAMP '2024-01-01', TIMESTAMP '2024-02-01')"
    val p2 = "period(TIMESTAMP '2024-02-01', TIMESTAMP '2024-03-01')"
    // infix period predicates → p_[strictly_|immediately_]<base>
    val infix = Seq("OVERLAPS", "STRICTLY OVERLAPS", "EQUALS", "CONTAINS",
      "STRICTLY CONTAINS", "PRECEDES", "STRICTLY PRECEDES",
      "IMMEDIATELY PRECEDES", "SUCCEEDS", "STRICTLY SUCCEEDS",
      "IMMEDIATELY SUCCEEDS", "LAGS", "STRICTLY LAGS", "IMMEDIATELY LAGS",
      "LEADS", "STRICTLY LEADS", "IMMEDIATELY LEADS")
    val sel = infix.zipWithIndex
      .map { case (op, i) => s"$p1 $op $p2 AS c$i" }.mkString(", ")
    val row = eng.sql(s"SELECT $sel").collect().head
    assert(row.length == infix.length)
    assert(row.getBoolean(infix.indexOf("IMMEDIATELY PRECEDES")))
    assert(!row.getBoolean(infix.indexOf("OVERLAPS")))
    // function-call forms of the period family
    val calls = eng.sql(s"""SELECT p_lower($p1), p_upper($p1),
        p_lower_inf($p1), p_upper_inf($p1),
        p_contains_ts($p1, TIMESTAMP '2024-01-15'),
        overlaps($p1, $p2, $p1)""").collect().head
    assert(!calls.getBoolean(2) && calls.getBoolean(4) && !calls.getBoolean(5))
    // JSON access operators → j_json / j_text
    val js = eng.sql(
      """SELECT '{"a":{"b":"x"}}' -> 'a' AS j, '{"a":"x"}' ->> 'a' AS t""")
      .collect().head
    assert(js.getString(0) == """{"b":"x"}""" && js.getString(1) == "x")
    val series = eng.sql(
      "SELECT generate_series(1, 3) AS g, range(1, 3) AS r").collect().head
    assert(series.getSeq[Int](0) == Seq(1, 2, 3) &&
      series.getSeq[Int](1) == Seq(1, 2))
  }

  test("session settings are read at analysis time") {
    val key = "spark.sql.session.timeZone"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "America/New_York")
      val r = spark.sql(
        "SELECT current_timezone(), current_setting('TimeZone')")
        .collect().head
      assert(r.getString(0) == "America/New_York" &&
        r.getString(1) == "America/New_York")
    } finally spark.conf.set(key, prev)
  }

  test("parse_ident and pg_sleep are catalog UDFs") {
    val r = spark.sql(
      """SELECT parse_ident('Sch."My.Tbl"') AS p, pg_sleep(0) AS s""")
      .collect().head
    assert(r.getSeq[String](0) == Seq("sch", "My.Tbl") && r.getString(1) == "")
  }
}
