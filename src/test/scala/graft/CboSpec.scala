package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.scalatest.funsuite.AnyFunSuite

/** Stats-driven n-ary join ordering — the reference's `:mega-join`
  * (join.clj:599-736) orders collected relations greedily by estimated
  * row count. On Spark that job belongs to Catalyst's CBO, but CBO only
  * acts when the catalog has statistics: raw parquet scans have none
  * (which is why the hand-written bench queries order joins
  * selective-first themselves). This spec closes the loop on the managed
  * path: ANALYZE TABLE + spark.sql.cbo.joinReorder reorders a
  * deliberately bad join order so the tiny filtered dimension joins
  * first — the engine-provided analogue of the reference's greedy
  * stats ordering.
  */
class CboSpec extends AnyFunSuite {

  private val wh = java.nio.file.Files
    .createTempDirectory("graft-cbo-warehouse").toString

  lazy val spark: SparkSession = {
    val s = GraftSession.builder(4).getOrCreate().newSession()
    s.conf.set("spark.sql.shuffle.partitions", "4")
    s.conf.set("spark.sql.cbo.enabled", "true")
    s.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
    s.conf.set("spark.sql.statistics.histogram.enabled", "true")
    s
  }

  private val sf = "/root/testdata/sf0.001"

  private def save(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
    df.write.mode("overwrite").option("path", s"$wh/$name").saveAsTable(name)
    spark.sql(s"ANALYZE TABLE $name COMPUTE STATISTICS FOR ALL COLUMNS")
  }

  test("ANALYZE + CBO reorders a mega-join by stats (reference :mega-join)") {
    save("li_c", Tables.load(spark, sf, "lineitem")
      .select("l_orderkey", "l_suppkey", "l_extendedprice"))
    save("ord_c", Tables.load(spark, sf, "orders")
      .select("o_orderkey", "o_custkey"))
    save("cust_c", Tables.load(spark, sf, "customer")
      .select("c_custkey", "c_mktsegment"))

    // catalog stats present?
    val stats = spark.sql("DESC EXTENDED li_c").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(stats.contains("Statistics"), "ANALYZE populated no stats")

    // worst-case written order: big ⋈ big first, selective dim last
    val q = spark.sql("""
      SELECT count(*) AS n
      FROM li_c
      JOIN ord_c ON l_orderkey = o_orderkey
      JOIN cust_c ON o_custkey = c_custkey
      WHERE c_mktsegment = 'BUILDING' AND c_custkey < 50""")

    // CBO must push the filtered customer (tiny by column stats) into the
    // first join instead of leaving it last-as-written
    val joins = q.queryExecution.optimizedPlan.collect { case j: Join => j }
    assert(joins.nonEmpty)
    val firstJoinTables = joins.last.collectLeaves().map(_.toString)
    assert(firstJoinTables.exists(_.contains("cust_c")),
      s"CBO did not reorder: innermost join reads ${firstJoinTables.mkString(", ")}")

    // and the result matches the plain computation
    val expected = Tables.load(spark, sf, "lineitem")
      .join(Tables.load(spark, sf, "orders"),
        org.apache.spark.sql.functions.col("l_orderkey") ===
          org.apache.spark.sql.functions.col("o_orderkey"))
      .join(Tables.load(spark, sf, "customer")
        .filter("c_mktsegment = 'BUILDING' AND c_custkey < 50"),
        org.apache.spark.sql.functions.col("o_custkey") ===
          org.apache.spark.sql.functions.col("c_custkey"))
      .count()
    assert(q.collect().head.getLong(0) == expected)
  }
}
