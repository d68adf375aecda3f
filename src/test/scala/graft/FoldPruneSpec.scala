package graft

import graft.WritePoints._
import graft.bitemporal.XtDb
import graft.tools.EngineMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The snapshot fold's one resolve path: the changed ids' iid-buckets of
  * the event log, PRUNED before the relation is built (never an
  * O(event-log) read in the maintenance plane), with the changed-set
  * broadcast gated by Spark's `autoBroadcastJoinThreshold` into a shuffle
  * semi-join past it. A snapshot whose folds failed while an erase
  * landed stops serving, and the overdue erase's full compaction
  * rebuilds it without the erased row, even while the folds still fail. */
class FoldPruneSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.builder(4).getOrCreate()

  private def newDb(tag: String): XtDb = new XtDb(spark,
    java.nio.file.Files.createTempDirectory(tag).toString)

  /** Rows carrying `payload` anywhere under the table dir — every parquet
    * file read individually (live, leased, superseded: all of them). */
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

  private def bucketIdOf(name: String): Int =
    """part-.*_(\d+)(?:\..*)?$""".r.findFirstMatchIn(name).get.group(1).toInt

  test("fold resolve input ⊂ changed-iid buckets: a small delta's fold " +
      "scans only the changed buckets' files, never the whole event log") {
    import spark.implicits._
    spark.conf.set("spark.graft.autoCompact.maxLag", "-1")
    val db = newDb("fold-prune")
    db.declareLayout("p", "k", 4)
    db.putDocs("p", spark.range(1, 4001)
      .selectExpr("id AS _id", "CAST(id % 40 AS INT) AS k", "id*2 AS v"))
    db.compact("p") // 16-bucket base + v2 snapshot
    assert(db.currentSnapshotIfValid("p").isDefined)

    // a 3-id delta: the changed iids hash into at most 3 of 16 buckets
    val changedIds = Seq(11L, 222L, 3333L)
    db.putDocs("p", changedIds
      .map(i => (i, (i % 40).toInt, i * 1000)).toDF("_id", "k", "v"))
    assert(db.compactIncremental("p"), "fold the delta")

    val resolveFiles = EngineMetrics.lastFoldResolveFiles
    val liveCount = EngineMetrics.lastFoldLiveFileCount
    assert(resolveFiles.nonEmpty && liveCount > 0)
    assert(resolveFiles.size < liveCount,
      s"fold must prune: resolved ${resolveFiles.size} of $liveCount files")
    // the scanned files' bucket ids == the changed ids' iid-buckets
    val expectedBuckets = db.events("p")
      .filter(col("_id").isin(changedIds: _*))
      .select(pmod(hash(col("_iid")), lit(16)).cast("int"))
      .distinct().as[Int].collect().toSet
    val scannedBuckets = resolveFiles.map(bucketIdOf).toSet
    assert(scannedBuckets.subsetOf(expectedBuckets),
      s"scanned $scannedBuckets must be ⊆ changed buckets $expectedBuckets")

    // and the folded snapshot is correct
    val snap = db.currentSnapshotIfValid("p")
    assert(snap.isDefined, "snapshot must be valid after the fold")
    assert(snap.get.count() === 4000L)
    assert(snap.get.filter(col("_id") === 222L).select("v")
      .as[Long].head() === 222000L)
  }

  test("broadcast size-gate: a delta past the gate folds through the " +
      "shuffle semi-join path — snapshot stays fresh and correct on both " +
      "sides of the threshold") {
    import spark.implicits._
    spark.conf.set("spark.graft.autoCompact.maxLag", "-1")
    val threshold = "spark.sql.autoBroadcastJoinThreshold"
    val prior = spark.conf.getOption(threshold)
    // -1: the changed set is never broadcast
    spark.conf.set(threshold, "-1")
    try {
      val db = newDb("fold-gate")
      db.declareLayout("g", "k", 4)
      db.putDocs("g", spark.range(1, 2001)
        .selectExpr("id AS _id", "CAST(id % 20 AS INT) AS k", "id AS v"))
      db.compact("g")
      // 50 changed ids past the gate: the fold must take the plain-join
      // degradation, not a forced broadcast
      db.putDocs("g", spark.range(1, 51)
        .selectExpr("id AS _id", "CAST(id % 20 AS INT) AS k",
          "id*100 AS v"))
      assert(db.compactIncremental("g"))
      val snap = db.currentSnapshotIfValid("g")
      assert(snap.isDefined,
        "snapshot must stay fresh above the broadcast gate")
      assert(snap.get.count() === 2000L)
      assert(snap.get.filter(col("_id") === 50L).select("v")
        .as[Long].head() === 5000L)
      assert(snap.get.filter(col("_id") === 51L).select("v")
        .as[Long].head() === 51L)
    } finally prior match {
      case Some(v) => spark.conf.set(threshold, v)
      case None => spark.conf.unset(threshold)
    }
  }

  test("snapshot folds fail while the erase lands: the overdue erase " +
      "takes the full compaction, whose rebuilt snapshot serves without " +
      "the erased row, and no file keeps its payload") {
    import spark.implicits._
    spark.conf.set("spark.graft.autoCompact.maxLag", "-1")
    spark.conf.set("spark.graft.fullCompact.smallBytes", "0") // treat as large
    spark.conf.set("spark.graft.fullCompact.ratio", "1000.0") // never geometric
    spark.conf.set("spark.graft.erasePurge.maxCycles", "2")
    try {
      val db = newDb("purge-stalewm")
      val secret = "GDPR_SECRET_7a0c"
      db.declareLayout("w", "k", 4)
      db.putDocs("w", spark.range(1, 1001)
        .selectExpr("id AS _id", "CAST(id % 10 AS INT) AS k",
          s"CASE WHEN id = 77 THEN '$secret' ELSE concat('r', id) END AS data"))
      db.compact("w")
      assert(db.currentSnapshotIfValid("w").isDefined)

      // every snapshot fold FAILS (swallowed, as in prod) while the erase
      // lands and folds — the snapshot watermark now predates the erase
      crashAt(snapshotFold) {
        db.eraseDocs("w", Seq(Tuple1(77L)).toDF("_id"))
        assert(db.compactIncremental("w"))
      }
      assert(db.currentSnapshotIfValid("w").isEmpty,
        "a snapshot that never folded the erase must not serve")
      assert(db.asOf("w").filter(col("_id") === 77L).isEmpty)

      // the erase clock (mark + fold) is overdue: the full compaction
      // purges and rebuilds the snapshot; the next cycle sweeps the
      // superseded generation
      assert(db.compactIfLagged("w", maxLag = 5))
      val snap = db.currentSnapshotIfValid("w")
      assert(snap.isDefined, "the compaction must rebuild the snapshot")
      assert(snap.get.filter(col("_id") === 77L).isEmpty,
        "the erased row must NOT be retained in the snapshot")
      assert(snap.get.count() === 999L)
      db.compactIfLagged("w", maxLag = 5)
      assert(payloadFiles(db, "w", secret).isEmpty,
        s"erased payload files: ${payloadFiles(db, "w", secret)}")
    } finally Seq("spark.graft.fullCompact.smallBytes",
        "spark.graft.fullCompact.ratio", "spark.graft.erasePurge.maxCycles")
      .foreach(spark.conf.unset)
  }

  test("snapshot folds still fail when the overdue erase compacts: the " +
      "erased row never serves, and the full compaction rebuilds the " +
      "snapshot without it, not through the failing fold") {
    import spark.implicits._
    spark.conf.set("spark.graft.autoCompact.maxLag", "-1")
    spark.conf.set("spark.graft.fullCompact.smallBytes", "0") // treat as large
    spark.conf.set("spark.graft.fullCompact.ratio", "1000.0") // never geometric
    spark.conf.set("spark.graft.erasePurge.maxCycles", "2")
    try {
      val db = newDb("purge-rebuild")
      val secret = "GDPR_SECRET_2e9b"
      db.declareLayout("x", "k", 4)
      db.putDocs("x", spark.range(1, 1001)
        .selectExpr("id AS _id", "CAST(id % 10 AS INT) AS k",
          s"CASE WHEN id = 55 THEN '$secret' ELSE concat('r', id) END AS data"))
      db.compact("x")
      crashAt(snapshotFold) {
        db.eraseDocs("x", Seq(Tuple1(55L)).toDF("_id"))
        assert(db.compactIncremental("x"))
        assert(db.currentSnapshotIfValid("x").isEmpty,
          "a snapshot that never folded the erase must not serve")
        assert(db.asOf("x").filter(col("_id") === 55L).isEmpty,
          "the erased row must not resolve")
        assert(db.asOf("x").count() === 999L)
        // the fold is still failing: the overdue erase's full compaction
        // materializes the snapshot itself
        assert(db.compactIfLagged("x", maxLag = 5))
        val snap = db.currentSnapshotIfValid("x")
        assert(snap.isDefined, "the compaction must rebuild the snapshot")
        assert(snap.get.filter(col("_id") === 55L).isEmpty)
        assert(snap.get.count() === 999L)
      }
      // the next cycle sweeps the superseded generation
      db.compactIfLagged("x", maxLag = 5)
      assert(payloadFiles(db, "x", secret).isEmpty,
        s"erased payload files: ${payloadFiles(db, "x", secret)}")
    } finally Seq("spark.graft.fullCompact.smallBytes",
        "spark.graft.fullCompact.ratio", "spark.graft.erasePurge.maxCycles")
      .foreach(spark.conf.unset)
  }

  test("fold parity across UPDATE / DELETE / ERASE / key-move / fresh " +
      "ids / schema evolution in ONE bulk delta: equal to the event-log " +
      "resolve of the same log") {
    import spark.implicits._
    spark.conf.set("spark.graft.autoCompact.maxLag", "-1")
    val db = newDb("fold-parity")
    db.declareLayout("p", "k", 4)
    db.putDocs("p", spark.range(1, 501)
      .selectExpr("id AS _id", "CAST(id % 10 AS INT) AS k", "id AS v"))
    db.compact("p")
    // one delta carrying every mutation class
    db.putDocs("p", Seq((7L, 7, 7000L)).toDF("_id", "k", "v")) // update
    db.putDocs("p", Seq((8L, 99, 8000L)).toDF("_id", "k", "v")) // key move
    db.deleteDocs("p", Seq(Tuple1(9L)).toDF("_id"))
    db.eraseDocs("p", Seq(Tuple1(10L)).toDF("_id"))
    db.putDocs("p", spark.range(601, 651)
      .selectExpr("id AS _id", "CAST(id % 10 AS INT) AS k",
        "id*5 AS v")) // fresh ids
    // schema evolution inside the delta: the folded buckets must LUB
    // the new column, untouched rows reading null
    db.putDocs("p", Seq((11L, 1, 1100L, "tagged"))
      .toDF("_id", "k", "v", "extra"))
    assert(db.compactIncremental("p"))
    val snap = db.currentSnapshotIfValid("p")
    assert(snap.isDefined)
    val got = snap.get.select(col("_id"), col("k"), col("v"), col("extra"))
    val oracle = db.asOf("p")
      .select(col("_id"), col("k"), col("v"), col("extra"))
    assert(got.exceptAll(oracle).isEmpty && oracle.exceptAll(got).isEmpty,
      "the fold must equal the full resolve")
    assert(got.filter(col("_id") === 11L).select("extra")
      .as[String].head() === "tagged")
    assert(got.filter(col("_id") === 12L).select("extra")
      .as[String].head() === null,
      "pre-evolution rows must read the new column as null")
    assert(got.filter(col("_id") === 7L).select("v").as[Long].head()
      === 7000L)
    assert(got.filter(col("_id") === 8L).select("k").as[Int].head()
      === 99, "key move must land in the new bucket")
    assert(got.filter(col("_id").isin(9L, 10L)).isEmpty,
      "delete and erase must leave the snapshot")
    assert(got.count() === 548L)
  }

  test("the erase commit starts the purge clock") {
    import spark.implicits._
    spark.conf.set("spark.graft.autoCompact.maxLag", "-1")
    val db = newDb("erase-observe")
    db.putDocs("o", spark.range(1, 501)
      .selectExpr("id AS _id", "concat('r', id) AS data"))
    db.compact("o") // manifest exists → the erase mark lands in it
    assert(db.erasePendingCycles("o") === 0)
    db.eraseDocs("o", Seq(Tuple1(13L), Tuple1(250L)).toDF("_id"))
    assert(db.erasePendingCycles("o") === 1,
      "the erase commit must start the purge clock")
    assert(db.asOf("o").count() === 498L)
  }

  test("VERDICT r16 #2 — the changed-id bucket histogram (and the " +
      "delta half of the touched set) ride the fold's single " +
      "delta-aggregate job: no separate count job on the common path, " +
      "and the fold stays exact") {
    import spark.implicits._
    spark.conf.set("spark.graft.autoCompact.maxLag", "-1")
    val db = newDb("fold-ride")
    db.declareLayout("r", "k", 4)
    db.putDocs("r", spark.range(1, 1001)
      .selectExpr("id AS _id", "CAST(id % 10 AS INT) AS k", "id AS v"))
    db.compact("r")
    val ride0 = EngineMetrics.foldChangedFromDelta.get()
    val rec0 = EngineMetrics.foldChangedRecomputes.get()
    // point fold (event path) — the histogram rides the delta agg
    db.putDocs("r", Seq((7L, 7, 7000L)).toDF("_id", "k", "v"))
    assert(db.compactIncremental("r"))
    assert(EngineMetrics.foldChangedFromDelta.get() === ride0 + 1,
      "a non-crossing fold's changed histogram must ride the delta job")
    assert(EngineMetrics.foldChangedRecomputes.get() === rec0,
      "no separate changed-count job on the common path")
    // bulk fold — the histogram rides as well
    db.putDocs("r", spark.range(5001, 5501)
      .selectExpr("id AS _id", "CAST(id % 10 AS INT) AS k", "id*3 AS v"))
    assert(db.compactIncremental("r"))
    assert(EngineMetrics.foldChangedFromDelta.get() === ride0 + 2)
    assert(EngineMetrics.foldChangedRecomputes.get() === rec0)
    val snap = db.currentSnapshotIfValid("r")
    assert(snap.isDefined && snap.get.count() === 1500L)
    assert(snap.get.filter(col("_id") === 7L).select("v")
      .as[Long].head() === 7000L)
    val oracle = db.asOf("r").select(col("_id"), col("v"))
    val got = snap.get.select(col("_id"), col("v"))
    assert(got.exceptAll(oracle).isEmpty && oracle.exceptAll(got).isEmpty)
  }

  test("VERDICT r16 #5 — a crossed valid-time boundary and a bulk delta " +
      "in one fold: the crossed id serves its activated value and the " +
      "snapshot equals the full event resolve") {
    import spark.implicits._
    spark.conf.set("spark.graft.autoCompact.maxLag", "-1")
    val db = newDb("fold-mixed")
    db.declareLayout("x", "k", 4)
    db.putDocs("x", spark.range(1, 501)
      .selectExpr("id AS _id", "CAST(id % 10 AS INT) AS k", "id AS v"))
    // a near-future activation: current value 777, future value 888
    db.putDocs("x", Seq((7777L, 7, 777L)).toDF("_id", "k", "v"))
    val activateAt = java.sql.Timestamp.from(
      java.time.Instant.now().plusSeconds(3))
    db.putDocs("x", Seq((7777L, 7, 888L)).toDF("_id", "k", "v"),
      validFrom = Some(lit(activateAt)))
    db.compact("x")
    val snap0 = db.currentSnapshotIfValid("x")
    assert(snap0.isDefined)
    assert(snap0.get.filter(col("_id") === 7777L).select("v")
      .as[Long].head() === 777L, "pre-crossing value serves")
    // bulk fresh-id delta lands, then the boundary crosses
    db.putDocs("x", spark.range(9001, 9301)
      .selectExpr("id AS _id", "CAST(id % 10 AS INT) AS k", "id*2 AS v"))
    Thread.sleep(3500)
    assert(db.compactIncremental("x"), "fold across the crossing")
    val snap = db.currentSnapshotIfValid("x")
    assert(snap.isDefined, "snapshot must re-stamp after the crossing")
    assert(snap.get.filter(col("_id") === 7777L).select("v")
      .as[Long].head() === 888L,
      "the crossed id must serve its ACTIVATED (pre-watermark) value")
    assert(snap.get.count() === 801L)
    val oracle = db.asOf("x").select(col("_id"), col("v"))
    val got = snap.get.select(col("_id"), col("v"))
    assert(got.exceptAll(oracle).isEmpty && oracle.exceptAll(got).isEmpty,
      "the crossing fold must equal the full resolve")
  }
}
