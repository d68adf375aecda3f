package graft

import graft.plans.Explain
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** EXPLAIN / EXPLAIN ANALYZE surface: pushed filters, column pruning,
  * partition pruning, exchange counts, measured rows (reference
  * query.clj:230-277, ExplainAnalyze.kt). Asserts the reports for the
  * q02-style pushdown scan and the q70-style bitemporal window plan. */
class ExplainSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.builder(4).getOrCreate()

  private val sf = "/root/testdata/sf0.001"

  test("scan report: pushdown + column pruning visible (q02 shape)") {
    val df = Tables.load(spark, sf, "part")
      .filter(col("p_size") > 40 && col("p_type") === "PROMO")
      .select("p_partkey", "p_size")
    val rep = Explain.report(df)
    assert(rep.scans.nonEmpty)
    val scan = rep.scans.head
    assert(scan.pushedFilters.contains("GreaterThan(p_size,40")
      || scan.pushedFilters.contains("p_size"))
    assert(scan.pushedFilters.contains("p_type"))
    // column pruning: only the selected + filtered columns are read
    assert(scan.readSchema.contains("p_partkey") &&
      !scan.readSchema.contains("p_retailprice"))
    assert(rep.shuffleExchanges == 0)
    assert(rep.wholeStageCodegenSpans >= 1)
  }

  test("bitemporal asOf plan: single shuffle (q70 shape)") {
    import spark.implicits._
    val events = (1 to 100).map(i =>
      (i.toLong, s"iid$i", java.sql.Timestamp.valueOf(s"2024-01-01 00:00:00"),
        null.asInstanceOf[java.sql.Timestamp],
        java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 0L, "put"))
      .toDF("_id", "_iid", "_valid_from", "_valid_to", "_system_from",
        "_seq", "_op")
    val asof = lit("2024-06-01 00:00:00").cast("timestamp")
    val df = graft.bitemporal.Bitemporal.asOf(events, asof, asof, asof)
    val rep = Explain.report(df)
    // erase-ceiling + recency rank ride ONE _iid exchange (round-2 fix:
    // no distinct+anti-join side plan)
    assert(rep.shuffleExchanges == 1)
  }

  test("EXPLAIN ANALYZE reports measured rows and files") {
    val df = Tables.load(spark, sf, "orders").filter(col("o_orderkey") < 100)
      .select("o_orderkey", "o_totalprice")
    val rep = Explain.analyze(df)
    assert(rep.scans.head.rowsScanned.exists(_ > 0))
    assert(rep.scans.head.filesRead.exists(_ > 0))
    assert(rep.render.contains("pushed filters"))
  }

  test("EXPLAIN ANALYZE reports per-operator wall time") {
    // a shape with an exchange + aggregate so both codegen pipeline time
    // and at least one stage-boundary timing metric get recorded
    val df = Tables.load(spark, sf, "lineitem")
      .groupBy("l_returnflag").agg(sum("l_quantity").as("q"))
      .orderBy("l_returnflag")
    val rep = Explain.analyze(df)
    assert(rep.nodeTimes.nonEmpty,
      "executed plan recorded no timing metrics")
    // metric units are normalized to ms and attributed to a named operator
    assert(rep.nodeTimes.forall { case (node, metric, ms) =>
      node.nonEmpty && metric.nonEmpty && ms >= 0 })
    val nodeNames = rep.nodeTimes.map(_._1).toSet
    assert(nodeNames.exists(n => n.contains("Aggregate") ||
      n.contains("WholeStageCodegen")), s"unexpected nodes: $nodeNames")
    assert(rep.render.contains("operator times"))
    // static EXPLAIN must stay execution-free: no timings
    assert(Explain.report(df).nodeTimes.isEmpty)
  }

  test("EXPLAIN through the SQL front door") {
    import spark.implicits._
    val db = new graft.bitemporal.XtDb(spark,
      java.nio.file.Files.createTempDirectory("xtexplain").toString)
    val eng = new graft.sql.XtSqlEngine(spark, db)
    eng.sql("INSERT INTO t (_id, v) VALUES (1, 10), (2, 20)")
    val lines = eng.sql("EXPLAIN SELECT v FROM t WHERE _id = 1")
      .as[String].collect().mkString("\n")
    assert(lines.contains("shuffle exchanges") && lines.contains("scan #0"))
    val analyzed = eng.sql("EXPLAIN ANALYZE SELECT v FROM t")
      .as[String].collect().mkString("\n")
    assert(analyzed.contains("rows scanned"))
    // per-operator wall time reaches the SQL surface (tiny plans can
    // record zero-valued timings, which are filtered — accept either the
    // section or its absence only when no metric fired)
    val rep = graft.plans.Explain.analyze(eng.sql("SELECT v FROM t"))
    assert(rep.nodeTimes.isEmpty || rep.render.contains("operator times"))
  }

  test("self-join reuses the aggregation exchange without explicit persist") {
    // TPC-H Q15 shape: a grouped subquery joined against its own max —
    // Catalyst's exchange reuse (spark.sql.exchange.reuse, on by default)
    // dedups the two identical shuffles into one physical exchange, so the
    // expensive aggregation is computed once. At 100 TB this halves the
    // heavy shuffle; no .persist() (and its disk copy) needed.
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false") // stable plan shape
    val li = Tables.load(s, sf, "lineitem")
    val revenue = li.groupBy("l_suppkey")
      .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))
        .as("total"))
    val top = revenue.agg(max("total").as("m"))
    val joined = revenue.join(top, col("total") === col("m"))
    val plan = joined.queryExecution.executedPlan
    val reused = plan.collect {
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => r
    }
    assert(reused.nonEmpty,
      s"expected ReusedExchangeExec in:\n$plan")
    assert(joined.count() >= 1)
  }
}
