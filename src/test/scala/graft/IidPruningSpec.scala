package graft

import graft.bitemporal.XtDb
import graft.sql.XtSqlEngine
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.scalatest.funsuite.AnyFunSuite

/** iid point-lookup pruning (reference scan.clj:161-199): `_id = k`
  * through the SQL engine must derive the `_iid = md5(k)` predicate at the
  * scan — over a compacted (iid-bucketed) log that equality prunes the
  * scan to ONE of the hash buckets before any file is opened; over
  * uncompacted appends it is a pushed parquet data filter. */
class IidPruningSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.builder(4).getOrCreate()

  private def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case qs: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      scans(qs.plan)
    case s: FileSourceScanExec => Seq(s)
    case other => other.children.flatMap(scans)
  }

  test("_id equality injects _iid + _bucket predicates; a compacted log " +
      "scans ONE hash bucket") {
    import spark.implicits._
    val db = new XtDb(spark,
      java.nio.file.Files.createTempDirectory("iidprune").toString)
    val eng = new XtSqlEngine(spark, db)
    // ids 1..200 hash across many buckets
    db.submitTx(Seq(graft.bitemporal.TxOp.Put("pts",
      spark.range(1, 201).selectExpr("id AS _id", "id * 10 AS v"))))

    // uncompacted appends: the derived _iid equality is a pushed data
    // filter (parquet row-group stats), _bucket rides along
    val q0 = eng.sql("SELECT _id, v FROM pts WHERE _id = 42")
    assert(q0.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((42L, 420L)))
    val scan0 = scans(q0.queryExecution.executedPlan).head
    assert(scan0.dataFilters.exists(_.references.exists(_.name == "_iid")),
      s"no _iid data filter in ${scan0.dataFilters}")
    assert(scan0.dataFilters.exists(_.references.exists(_.name == "_bucket")),
      s"no _bucket data filter in ${scan0.dataFilters}")

    // compacted: the generation is iid-bucketed, so the SAME query prunes
    // the scan to exactly one hash bucket before any file is opened
    db.compact("pts")
    val q = eng.sql("SELECT _id, v FROM pts WHERE _id = 42")
    val rows = q.collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((42L, 420L)))
    val sc = scans(q.queryExecution.executedPlan)
    assert(sc.nonEmpty, "no file scan found")
    val scan = sc.head
    assert(scan.bucketedScan, s"compacted read must be a bucketed scan:\n$scan")
    assert(scan.optionalBucketSet.exists(_.cardinality() == 1),
      s"expected 1 selected bucket, got " +
        s"${scan.optionalBucketSet.map(_.cardinality())}:\n$scan")

    // negative control: a non-equality filter selects every bucket
    val full = eng.sql("SELECT count(*) AS n FROM pts WHERE v > 0")
    assert(full.head.getLong(0) == 200L)
    val fullScan = scans(full.queryExecution.executedPlan).head
    assert(fullScan.optionalBucketSet.forall(_.cardinality() > 1))
  }

  test("unsafe shapes are left alone (aggregate over all rows stays exact)") {
    import spark.implicits._
    val db = new XtDb(spark,
      java.nio.file.Files.createTempDirectory("iidprune2").toString)
    val eng = new XtSqlEngine(spark, db)
    db.submitTx(Seq(graft.bitemporal.TxOp.Put("pts2",
      spark.range(1, 51).selectExpr("id AS _id", "id * 10 AS v"))))
    // _id filter ABOVE a global-window count: pruning below the aggregate
    // would change `cnt`; the rule must not descend through it
    val r = eng.sql("""
      SELECT _id, cnt FROM (
        SELECT _id, count(*) OVER () AS cnt FROM pts2) WHERE _id = 7""")
      .collect()
    assert(r.map(x => (x.getLong(0), x.getLong(1))).toSeq == Seq((7L, 50L)))
  }
}
