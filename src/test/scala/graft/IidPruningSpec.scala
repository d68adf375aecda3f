package graft

import graft.bitemporal.{Bitemporal, TxOp, XtDb}
import graft.plans.Explain
import graft.sql.XtSqlEngine
import graft.tools.EngineMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{CoalesceExec, FileSourceScanExec,
  SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite

/** iid point-lookup pruning (reference scan.clj:161-199): `_id = k`
  * through the SQL engine must derive the `_iid = md5(k)` predicate at the
  * scan — over a compacted (iid-bucketed) log that equality prunes the
  * scan to ONE of the hash buckets before any file is opened; over
  * uncompacted appends it is a pushed parquet data filter. With a backlog
  * pending (bucketed base ∪ flat backlog) every branch of the union is
  * pinned, and the snapshot resolves in one task with no exchange. */
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

  /** A compacted 300-row table with a three-file backlog: id 42 updated
    * (v 420 → 421), id 42 given a version valid from 2030 (v 4200), and
    * ids 301..303 inserted. Returns the store, its engine and a system
    * time between the compaction and the backlog. */
  private def backlogged(name: String, t: String)
      : (XtDb, XtSqlEngine, java.sql.Timestamp) = {
    val db = new XtDb(spark,
      java.nio.file.Files.createTempDirectory(name).toString)
    val eng = new XtSqlEngine(spark, db)
    db.submitTx(Seq(TxOp.Put(t,
      spark.range(1, 301).selectExpr("id AS _id", "id * 10 AS v"))))
    db.compact(t)
    val beforeBacklog = db.snapshotToken()
    eng.sql(s"UPDATE $t SET v = 421 WHERE _id = 42")
    db.submitTx(Seq(TxOp.Put(t,
      spark.range(42, 43).selectExpr("id AS _id", "4200 AS v"),
      Some(lit("2030-01-01 00:00:00")), None)))
    eng.sql(s"INSERT INTO $t RECORDS {_id: 301, v: 3010}, " +
      "{_id: 302, v: 3020}, {_id: 303, v: 3030}")
    assert(db.bucketedEventsIfValid(t).isEmpty,
      "the table must serve bucketed ∪ backlog")
    (db, eng, beforeBacklog)
  }

  /** Assert `df` reads pinned scans only, with no exchange, in one task,
    * and return its rows as (_id, v). */
  private def pinnedRead(df: DataFrame): Seq[(Long, Long)] = {
    val (rows, ran) = EngineMetrics.during(spark)(df.collect())
    val plan = df.queryExecution.executedPlan
    val sc = scans(plan)
    assert(sc.exists(_.bucketedScan) && sc.exists(!_.bucketedScan),
      s"expected the bucketed base and the flat backlog:\n$plan")
    sc.foreach { s =>
      if (s.bucketedScan)
        assert(s.optionalBucketSet.exists(_.cardinality() == 1),
          s"bucketed scan not pruned to one bucket:\n$s")
      else
        assert(s.dataFilters.exists(_.references.exists(_.name == "_iid")),
          s"flat scan without a pushed _iid filter:\n$s")
    }
    assert(Explain.report(df).shuffleExchanges == 0, s"exchange in:\n$plan")
    assert(ran.taskInputRecords.size == 1,
      s"expected one task, ran ${ran.taskInputRecords.size}:\n$plan")
    rows.toSeq.map(r => (r.getLong(0), r.getLong(1)))
  }

  test("with a backlog pending, _id point reads pin every scan and run " +
      "in one task: current, system-time and valid-time as-of") {
    val (db, eng, before) = backlogged("iidprune3", "pb")
    eng.sql("SELECT count(*) FROM pb").collect() // heads adopted, warm
    assert(pinnedRead(eng.sql("SELECT _id, v FROM pb WHERE _id = 42")) ==
      Seq((42L, 421L)))
    assert(pinnedRead(eng.sql(s"SELECT _id, v FROM pb FOR SYSTEM_TIME AS " +
      s"OF TIMESTAMP '$before' WHERE _id = 42")) == Seq((42L, 420L)))
    assert(pinnedRead(eng.sql("SELECT _id, v FROM pb FOR VALID_TIME AS OF " +
      "TIMESTAMP '2031-01-01 00:00:00' WHERE _id = 42")) == Seq((42L, 4200L)))
    // an id only in the backlog, and one only in the base
    assert(pinnedRead(eng.sql("SELECT _id, v FROM pb WHERE _id = 302")) ==
      Seq((302L, 3020L)))
    assert(pinnedRead(eng.sql("SELECT _id, v FROM pb WHERE _id = 7")) ==
      Seq((7L, 70L)))
    // an `_iid` equality pins the same way
    val iid42 = spark.sql("SELECT md5('42')").head.getString(0)
    assert(pinnedRead(db.asOf("pb").filter(col("_iid") === iid42)
      .select("_id", "v")) == Seq((42L, 421L)))
  }

  test("a backlogged erase still masks the base versions under pinning; " +
      "a later re-insert is visible") {
    val (db, eng, _) = backlogged("iidprune4", "pe")
    eng.sql("ERASE FROM pe WHERE _id = 7")
    assert(db.bucketedEventsIfValid("pe").isEmpty)
    assert(pinnedRead(eng.sql("SELECT _id, v FROM pe WHERE _id = 7")).isEmpty)
    assert(pinnedRead(eng.sql("SELECT _id, v FROM pe FOR VALID_TIME AS OF " +
      "TIMESTAMP '2031-01-01 00:00:00' WHERE _id = 7")).isEmpty)
    eng.sql("INSERT INTO pe RECORDS {_id: 7, v: 77}")
    assert(pinnedRead(eng.sql("SELECT _id, v FROM pe WHERE _id = 7")) ==
      Seq((7L, 77L)))
  }

  test("a union with an unpinnable branch is left alone and stays exact") {
    val (db, _, _) = backlogged("iidprune5", "pu")
    db.submitTx(Seq(TxOp.Put("pu_more",
      spark.range(5, 6).selectExpr("id AS _id", "55 AS v"))))
    // the second branch computes its _id: it cannot be pinned, so
    // neither is the first
    val computed = db.events("pu_more")
      .withColumn("_id", col("_id").cast("string").cast("long"))
    val all = db.events("pu").unionByName(computed)
    val now = lit(db.snapshotToken())
    val df = Bitemporal.asOf(all, now, now, now)
      .filter(col("_id") === 5L).select("_id", "v")
    assert(df.collect().toSeq.map(r => (r.getLong(0), r.getLong(1))) ==
      Seq((5L, 55L)))
    val plan = df.queryExecution.executedPlan
    assert(scans(plan).forall(s =>
      !s.dataFilters.exists(_.references.exists(_.name == "_iid"))),
      s"a scan was pinned:\n$plan")
    assert(!plan.exists(_.isInstanceOf[CoalesceExec]),
      s"the input was coalesced:\n$plan")
  }

  test("a backlog read plans over the manifest's file list: a point " +
      "read over 40 backlog files runs as many jobs as over 2") {
    spark.conf.set("spark.graft.autoCompact.maxLag", "-1")
    try {
      val db = new XtDb(spark,
        java.nio.file.Files.createTempDirectory("iidprune7").toString)
      val eng = new XtSqlEngine(spark, db)
      db.submitTx(Seq(TxOp.Put("pl",
        spark.range(1, 2001).selectExpr("id AS _id", "id * 10 AS v"))))
      db.compact("pl")
      // one single-row, single-file commit per id
      def append(ids: Range): Unit = ids.foreach(i => db.submitTx(Seq(
        TxOp.Put("pl", spark.range(i, i + 1, 1, 1)
          .selectExpr("id AS _id", "id * 10 AS v")))))
      def jobsOfPointRead(): Int = EngineMetrics.during(spark) {
        val rows = eng.sql("SELECT _id, v FROM pl WHERE _id = 42").collect()
        assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
          Seq((42L, 420L)))
      }._2.jobs
      append(3001 to 3002)
      assert(db.blockLag("pl") == 2L)
      jobsOfPointRead() // heads adopted, warm
      val two = jobsOfPointRead()
      append(3003 to 3040)
      assert(db.blockLag("pl") == 40L)
      val forty = jobsOfPointRead()
      assert(forty == two,
        s"40 backlog files ran $forty jobs, 2 backlog files $two")
    } finally spark.conf.unset("spark.graft.autoCompact.maxLag")
  }

  test("point UPDATE and DELETE under a backlog read one bucket") {
    val (db, eng, _) = backlogged("iidprune6", "pd")
    eng.sql("SELECT count(*) FROM pd").collect()
    val rowsInStore = db.events("pd").count()
    val (n1, upd) = EngineMetrics.during(spark)(
      eng.sqlUpdate("UPDATE pd SET v = 0 WHERE _id = 9"))
    assert(n1 == 1L)
    val (n2, del) = EngineMetrics.during(spark)(
      eng.sqlUpdate("DELETE FROM pd WHERE _id = 10"))
    assert(n2 == 1L)
    Seq(upd, del).foreach { ran =>
      assert(ran.inputRecords < rowsInStore / 4,
        s"read ${ran.inputRecords} records of $rowsInStore")
    }
    assert(eng.sql("SELECT _id, v FROM pd WHERE _id IN (9, 10)").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((9L, 0L)))
  }
}
