package graft

import graft.bitemporal.XtDb
import graft.sql.XtSqlEngine
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Prepared-plan reuse (reference plan+emit caches, query.clj:305-328): the
  * analyzed+optimized logical plan is cached and re-wrapped, while every
  * execution is a fresh QueryExecution — plans are shared, data paths are
  * not. */
class PlanCacheSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.builder(4).getOrCreate()

  test("prepared() caches the analyzed plan and hits on re-execution") {
    import spark.implicits._
    var builds = 0
    def build() = { builds += 1
      Seq(1, 2, 3).toDF("x").groupBy().sum("x").withColumnRenamed("sum(x)", "s") }
    val h0 = PlanCache.hits
    val a = PlanCache.prepared(spark, ("spec", "sum3"))(build())
    val b = PlanCache.prepared(spark, ("spec", "sum3"))(build())
    assert(builds == 1, "second execution must reuse the cached plan")
    assert(PlanCache.hits == h0 + 1)
    // fresh QueryExecution per call — the data path is not shared
    assert(a.queryExecution ne b.queryExecution)
    assert(a.collect().map(_.getLong(0)).toSeq == Seq(6L))
    assert(b.collect().map(_.getLong(0)).toSeq == Seq(6L))
  }

  test("prepared() reuses the optimized plan but not the data path") {
    import spark.implicits._
    def build() = Seq(1, 2, 3).toDF("x").filter($"x" > 1).groupBy().sum("x")
      .withColumnRenamed("sum(x)", "s")
    val a = PlanCache.prepared(spark, ("spec", "opt-tier"))(build())
    val b = PlanCache.prepared(spark, ("spec", "opt-tier"))(build())
    // the optimizer ran once: both executions are seeded with the SAME
    // optimized plan instance (Spark clones it before physical planning)
    assert(a.queryExecution.optimizedPlan eq b.queryExecution.optimizedPlan)
    // ...but the physical/data path is rebuilt per execution
    assert(a.queryExecution.toRdd.id != b.queryExecution.toRdd.id,
      "each execution must produce a fresh RDD lineage")
    assert(a.collect().map(_.getLong(0)).toSeq == Seq(5L))
    assert(b.collect().map(_.getLong(0)).toSeq == Seq(5L))
  }

  test("PREPARE/EXECUTE reuses the plan and re-plans after a committed tx") {
    val db = new XtDb(spark,
      java.nio.file.Files.createTempDirectory("plancache").toString)
    val eng = new XtSqlEngine(spark, db)
    eng.sql("INSERT INTO t RECORDS {_id: 1, v: 10}")
    eng.sql("PREPARE q AS SELECT count(*) AS n, sum(v) AS s FROM t")
    def run() = { val r = eng.sql("EXECUTE q").head
      (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue) }
    assert(run() == ((1L, 10L)))
    val h0 = PlanCache.hits
    assert(run() == ((1L, 10L)))
    assert(PlanCache.hits > h0, "same basis must hit the plan cache")
    // a committed tx rotates the snapshot token -> key changes -> the
    // prepared query sees the new data, not the stale pinned file listing
    eng.sql("INSERT INTO t RECORDS {_id: 2, v: 32}")
    assert(run() == ((2L, 42L)))
  }

  test("EXECUTE with positional params still binds per call") {
    val db = new XtDb(spark,
      java.nio.file.Files.createTempDirectory("plancache2").toString)
    val eng = new XtSqlEngine(spark, db)
    eng.sql("INSERT INTO u RECORDS {_id: 1, v: 10}")
    eng.sql("INSERT INTO u RECORDS {_id: 2, v: 20}")
    eng.sql("PREPARE p AS SELECT v FROM u WHERE _id = ?")
    assert(eng.sql("EXECUTE p (1)").head.getAs[Number](0).longValue == 10L)
    assert(eng.sql("EXECUTE p (2)").head.getAs[Number](0).longValue == 20L)
    // repeat with the same binding hits the cache for that bound text
    val h0 = PlanCache.hits
    assert(eng.sql("EXECUTE p (2)").head.getAs[Number](0).longValue == 20L)
    assert(PlanCache.hits > h0)
  }
}
