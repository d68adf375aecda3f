package graft

import graft.WritePoints._
import graft.bitemporal.{Bitemporal, TxOp, XtDb}
import graft.bitemporal.XtDb.WritePoint
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Object-store storage semantics (reference modules/aws|azure|google-cloud:
  * put/list/delete only — no rename, no append-to-object): the whole XtDb
  * lifecycle must run against `objstore://`, a FileSystem that THROWS on
  * any engine-level rename or append. Proves the generation-pointer commit
  * (`XtDb.rewriteCommit`) and the rest of the storage layer are
  * object-store-safe, and that superseded generations are GC'd lazily
  * (one generation of read-lease). */
class ObjectStoreSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.builder(4).getOrCreate()

  private def freshRoot(): (String, org.apache.hadoop.fs.FileSystem) = {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.objstore.impl",
      classOf[graft.storage.ObjectStoreFileSystem].getName)
    conf.set("fs.objstore.impl.disable.cache", "true")
    val tmp = java.nio.file.Files.createTempDirectory("objstore").toString
    val root = s"objstore:$tmp"
    (root, new org.apache.hadoop.fs.Path(root).getFileSystem(conf))
  }

  private def ls(fs: org.apache.hadoop.fs.FileSystem, p: String): Set[String] =
    if (!fs.exists(new org.apache.hadoop.fs.Path(p))) Set.empty
    else fs.listStatus(new org.apache.hadoop.fs.Path(p))
      .map(_.getPath.getName).toSet

  test("filesystem double enforces the contract") {
    val (root, fs) = freshRoot()
    val p = new org.apache.hadoop.fs.Path(s"$root/a.txt")
    val out = fs.create(p, true)
    out.write("x".getBytes("UTF-8")); out.close()
    intercept[UnsupportedOperationException] {
      fs.rename(p, new org.apache.hadoop.fs.Path(s"$root/b.txt"))
    }
    intercept[UnsupportedOperationException] { fs.append(p) }
  }

  test("put / query / union-migration / compact lifecycle, rename-free") {
    import spark.implicits._
    val (root, fs) = freshRoot()
    val db = new XtDb(spark, root)

    // ---- appends land under the table root (generation 0)
    db.putDocs("docs", spark.range(1, 51)
      .select(col("id").as("_id"), (col("id") * 2).as("v")))
    assert(Bitemporal.current(db.events("docs")).count() == 50)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/docs/_gen")))

    // ---- incompatible scalar (long -> string) forces the union-migration
    // rewrite: generation g1 + pointer PUT, NO rename; legacy root data is
    // kept for in-flight readers (lazy GC)
    db.putDocs("docs", Seq((100L, "tagged")).toDF("_id", "v"))
    val g1 = ls(fs, s"$root/docs")
    def hasGen(listing: Iterable[String], n: Int) =
      listing.exists(_.matches(s"g$n(_[0-9a-f]+)?"))
    assert(hasGen(g1, 1) && g1.contains("_gen"), s"after migration: $g1")
    assert(g1.exists(_.endsWith(".parquet")),
      s"legacy gen-0 data (loose appended parts) should survive until g2: $g1")
    val cur = Bitemporal.current(db.events("docs"))
    assert(cur.count() == 51)
    // union column: original longs and the tagged string both resolve
    val vTypes = cur.select(col("v")).schema.head.dataType
    assert(vTypes.isInstanceOf[org.apache.spark.sql.types.StructType])

    // ---- erase + compact: generation g2, erased history physically gone,
    // gen-0 legacy swept, g1 kept (one generation of read lease)
    db.eraseDocs("docs", Seq(7L).toDF("_id"))
    db.compact("docs")
    val g2 = ls(fs, s"$root/docs")
    assert(hasGen(g2, 2) && hasGen(g2, 1), s"after compact: $g2")
    assert(!g2.exists(_.endsWith(".parquet")),
      s"gen-0 legacy data should be swept at g2: $g2")
    val afterCompact = Bitemporal.current(db.events("docs"))
    assert(afterCompact.count() == 50)
    assert(afterCompact.filter(col("_id") === 7L).count() == 0)
    assert(db.events("docs").filter(col("_id") === 7L).count() == 0,
      "erased history must be physically absent after compact")

    // ---- appends continue into the live generation; next compact = g3,
    // g1 swept
    db.putDocs("docs", Seq((200L, "late")).toDF("_id", "v"))
    assert(Bitemporal.current(db.events("docs")).count() == 51)
    db.compact("docs")
    val g3 = ls(fs, s"$root/docs")
    assert(hasGen(g3, 3) && hasGen(g3, 2) && !hasGen(g3, 1),
      s"after second compact: $g3")
    assert(Bitemporal.current(db.events("docs")).count() == 51)
  }

  test("incremental fold + txs fold are rename-free: levels, manifest " +
      "PUT, consumed GC and the tx-log generation flip all run on " +
      "objstore://") {
    import spark.implicits._
    spark.conf.set("spark.graft.autoCompact.maxLag", "-1")
    spark.conf.set("spark.graft.txsFoldThreshold", "2")
    try {
      val (root, fs) = freshRoot()
      val db = new XtDb(spark, root)
      db.putDocs("lv", spark.range(1, 101)
        .select(col("id").as("_id"), (col("id") * 2).as("v")))
      db.compact("lv")
      db.putDocs("lv", spark.range(101, 111)
        .select(col("id").as("_id"), (col("id") * 2).as("v")))
      assert(db.compactIncremental("lv"), "fold must run on objstore://")
      assert(db.blockLag("lv") === 0L)
      assert(db.bucketedEventsIfValid("lv").isDefined,
        "bucketed serving over base+levels must work on objstore://")
      assert(Bitemporal.current(db.events("lv")).count() === 110L)
      assert(ls(fs, db.dataDir("lv")).exists(_.startsWith("_lv")),
        "fold must write a level dir")
      // second fold GCs the consumed files — still rename-free
      db.putDocs("lv", spark.range(111, 121)
        .select(col("id").as("_id"), (col("id") * 2).as("v")))
      assert(db.compactIncremental("lv"))
      assert(Bitemporal.current(db.events("lv")).count() === 120L)
      // tx-log folded behind its generation pointer (threshold 2)
      assert(ls(fs, s"$root/_txs").contains("_gen"),
        "txs fold must commit its pointer on objstore://")
      assert(db.txs.count() >= 3L)
    } finally {
      spark.conf.unset("spark.graft.autoCompact.maxLag")
      spark.conf.unset("spark.graft.txsFoldThreshold")
    }
  }

  test("multi-op atomic tx stages and commits on the object store") {
    import spark.implicits._
    val (root, _) = freshRoot()
    val db = new XtDb(spark, root)
    db.submitTx(Seq(
      TxOp.Put("t", Seq((1L, 10L), (2L, 20L)).toDF("_id", "n")),
      TxOp.Update("t", col("_id") === 1L, Seq("n" -> lit(11L)))))
    val cur = Bitemporal.current(db.events("t"))
      .select("_id", "n").as[(Long, Long)].collect().sortBy(_._1)
    assert(cur.toSeq == Seq((1L, 11L), (2L, 20L)))
    // staging area is cleaned up
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(ls(fs, s"$root/_staging").isEmpty)
  }

  test("interrupted rewrite recovers: an orphan generation never becomes " +
      "visible and the next commit reclaims its slot") {
    import spark.implicits._
    val (root, fs) = freshRoot()
    val db = new XtDb(spark, root)
    db.putDocs("docs", spark.range(1, 21)
      .select(col("id").as("_id"), (col("id") * 3).as("v")))
    db.compact("docs") // commit g1
    assert(ls(fs, s"$root/docs").exists(_.matches("g1(_[0-9a-f]+)?")))
    val before = Bitemporal.current(db.events("docs"))
      .select("_id", "v").as[(Long, Long)].collect().sorted.toSeq

    // simulate a crash BETWEEN writing the next generation's files and
    // the pointer PUT: an orphan next-gen dir full of garbage exists,
    // _gen still resolves the committed generation — the atomic-commit
    // contract's whole point (round 15: each attempt writes a UNIQUE
    // suffixed dir, so the orphan can never even share the winner's dir)
    val orphan =
      new org.apache.hadoop.fs.Path(s"$root/docs/g2_deadbeef/junk.parquet")
    val o = fs.create(orphan, true)
    o.write("not parquet at all".getBytes("UTF-8")); o.close()

    // readers never see the orphan
    assert(Bitemporal.current(db.events("docs"))
      .select("_id", "v").as[(Long, Long)].collect().sorted.toSeq == before)
    assert(db.blockLag("docs") == 0,
      "lag reads the LIVE generation only, not orphan debris")

    // the next rewrite commits gen 2 under its own fresh dir and its GC
    // collects the orphan; results unchanged, junk gone
    db.compact("docs")
    val after = ls(fs, s"$root/docs")
    assert(after.exists(_.matches("g2(_[0-9a-f]+)?")), s"$after")
    assert(!after.contains("g2_deadbeef"),
      "recovery must collect the orphan generation dir")
    assert(Bitemporal.current(db.events("docs"))
      .select("_id", "v").as[(Long, Long)].collect().sorted.toSeq == before)
  }

  test("declared layout + bucketed snapshot lifecycle over objstore://: " +
      "compact materializes, serve verifies from storage, a write " +
      "invalidates — all without an engine-level rename") {
    import spark.implicits._
    val (root, fs) = freshRoot()
    val db = new XtDb(spark, root)
    db.declareLayout("ldocs", "k", 2)
    db.putDocs("ldocs", (1 to 40)
      .map(i => (i.toString, i % 4, i * 10)).toDF("_id", "k", "v"))
    db.compact("ldocs")
    val snap = db.currentSnapshotIfValid("ldocs")
    assert(snap.isDefined, "snapshot must build over the object store")
    assert(snap.get.count() == 40)
    // meta + snapshot live under the store root; nothing engine-level
    // renamed (the contract double throws outside committer workspaces)
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$root/ldocs/_snapmeta.json")))
    db.putDocs("ldocs", Seq(("99", 1, 990)).toDF("_id", "k", "v"))
    assert(db.currentSnapshotIfValid("ldocs").isEmpty,
      "fingerprint over the object store must catch the append")
  }

  test("CONDITIONAL COMMIT (round 14): two XtDb instances racing a fold " +
      "on one objstore root — exactly one manifest commit wins, the " +
      "loser fails LOUDLY (never last-write-wins), and the table reads " +
      "complete and duplicate-free afterwards") {
    import spark.implicits._
    spark.conf.set("spark.graft.autoCompact.maxLag", "-1")
    try {
      val (root, _) = freshRoot()
      val a = new XtDb(spark, root)
      val b = new XtDb(spark, root)
      a.putDocs("r", spark.range(1, 501).selectExpr("id AS _id", "id AS v"))
      a.compact("r")
      a.putDocs("r", spark.range(501, 551).selectExpr("id AS _id", "id AS v"))

      // both writers enter the fold with the same manifest version; the
      // fold spans Spark jobs, so both are mid-flight when the first CAS
      // lands — the second MUST fail with the loud race error
      val gate = new java.util.concurrent.CountDownLatch(1)
      val outcomes = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      def racer(db: XtDb, tag: String): Thread = {
        val t = new Thread(() => {
          gate.await()
          try { db.compactIncremental("r"); outcomes.add(s"$tag:ok") }
          catch {
            case _: java.util.ConcurrentModificationException =>
              outcomes.add(s"$tag:lost")
            case e: Throwable => outcomes.add(s"$tag:err:${e.getClass}")
          }
        })
        t.start(); t
      }
      val t1 = racer(a, "a")
      val t2 = racer(b, "b")
      gate.countDown()
      t1.join(120000); t2.join(120000)
      val res = outcomes.toArray.map(_.toString).toSet
      assert(res.exists(_.endsWith(":ok")),
        s"one writer must win the commit: $res")
      assert(res.count(_.endsWith(":ok")) == 1 &&
        res.exists(_.endsWith(":lost")),
        s"the other must lose LOUDLY via the conditional PUT: $res")
      // the winner's commit is intact: all rows once, no duplicates
      val rows = a.asOf("r").select("_id").as[Long].collect()
      assert(rows.length === 550 && rows.toSet.size === 550,
        s"store must be complete and duplicate-free: ${rows.length}")
      assert(a.blockLag("r") === 0L)
    } finally spark.conf.unset("spark.graft.autoCompact.maxLag")
  }

  test("VERSIONED manifest cache (round 14): repeat reads revalidate " +
      "with one stat (cache hits), a remote writer's fold bumps the " +
      "version and misses the cache — never a stale serve") {
    import spark.implicits._
    spark.conf.set("spark.graft.autoCompact.maxLag", "-1")
    try {
      val (root, _) = freshRoot()
      val a = new XtDb(spark, root)
      val b = new XtDb(spark, root)
      a.putDocs("c", spark.range(1, 101).selectExpr("id AS _id", "id AS v"))
      a.compact("c")
      a.asOf("c").count() // prime the cache
      val reads0 = graft.tools.EngineMetrics.manifestReads.get
      val hits0 = graft.tools.EngineMetrics.manifestCacheHits.get
      (1 to 5).foreach(_ => a.asOf("c").count())
      val hitsDelta = graft.tools.EngineMetrics.manifestCacheHits.get - hits0
      val readsDelta = graft.tools.EngineMetrics.manifestReads.get - reads0
      assert(hitsDelta > 0,
        s"repeat reads must hit the versioned cache ($hitsDelta/$readsDelta)")
      // remote writer folds: version bumps, instance A revalidates and
      // serves the NEW live set (the hidden level dir) — no staleness
      b.putDocs("c", spark.range(101, 131).selectExpr("id AS _id", "id AS v"))
      assert(b.compactIncremental("c"))
      assert(a.asOf("c").count() === 130L,
        "instance A must see the remote fold through the cache")
      assert(a.bucketedEventsIfValid("c").isDefined,
        "A must serve the remote fold's bucketed set (fresh manifest)")
    } finally spark.conf.unset("spark.graft.autoCompact.maxLag")
  }

  test("ZERO-RPC snapshot serve (round 14): the declared-layout serve " +
      "constructs its file statuses from manifest-recorded lengths — " +
      "no per-bucket-file HEAD calls at plan time") {
    import spark.implicits._
    spark.conf.set("spark.graft.autoCompact.maxLag", "-1")
    try {
      val (root, _) = freshRoot()
      val db = new XtDb(spark, root)
      db.declareLayout("z", "k", 8)
      db.putDocs("z", spark.range(1, 201)
        .selectExpr("id AS _id", "CAST(id % 8 AS INT) AS k", "id AS v"))
      db.compact("z")
      assert(db.currentSnapshotIfValid("z").isDefined)
      val before = graft.storage.ObjectStoreFileSystem.dataFileStats.get
      val snap = db.currentSnapshotIfValid("z")
      assert(snap.isDefined)
      snap.get.queryExecution.executedPlan // plan it
      val delta =
        graft.storage.ObjectStoreFileSystem.dataFileStats.get - before
      assert(delta === 0L,
        s"snapshot serve must not HEAD data files at plan time ($delta)")
      // and the zero-RPC statuses still READ correctly (lengths right)
      assert(snap.get.count() === 200L)
    } finally spark.conf.unset("spark.graft.autoCompact.maxLag")
  }

  test("RACING full compacts (round 15): unique suffixed generation dirs " +
      "+ the pointer CAS — exactly one winner commits its own complete " +
      "dir, the loser fails LOUDLY at the CAS, and the orphan dir is " +
      "collected by lazy GC") {
    import spark.implicits._
    spark.conf.set("spark.graft.autoCompact.maxLag", "-1")
    val (root, fs) = freshRoot()
    val a = new XtDb(spark, root)
    val b = new XtDb(spark, root)
    a.putDocs("docs", spark.range(1, 501)
      .select(col("id").as("_id"), (col("id") * 2).as("v")))
    a.compact("docs") // g1
    a.putDocs("docs", spark.range(501, 521)
      .select(col("id").as("_id"), (col("id") * 2).as("v")))
    assert(a.compactIncremental("docs"))

    // interleave: at the instant A is about to flip the pointer, B lands
    // a write, folds it, and commits ITS OWN full compaction — B's
    // attempt runs under a different unique dir (A's in-flight inputs no
    // longer match), so no file of A's attempt is ever mixed into B's
    var fired = false
    val e = intercept[java.util.ConcurrentModificationException] {
      withHook { case _: WritePoint.BeforeFlip if !fired =>
        fired = true
        b.putDocs("docs", Seq((999L, 1998L)).toDF("_id", "v"))
        assert(b.compactIncremental("docs"))
        b.compact("docs")
      }(a.compact("docs"))
    }
    assert(e.getMessage.contains("lost commit race"),
      s"loser must fail loudly at the CAS: ${e.getMessage}")

    // B won: the live generation is B's unique dir, complete and correct
    // (including B's row); A's mutation is fully abandoned
    val cur = Bitemporal.current(a.events("docs"))
    assert(cur.count() === 521L)
    assert(cur.filter(col("_id") === 999L).count() === 1L)
    // exactly one LIVE gen-2 dir; any orphan from A is inert and dies at
    // the next commit's GC
    val gen2Dirs = ls(fs, s"$root/docs").filter(_.matches("g2(_[0-9a-f]+)?"))
    assert(gen2Dirs.nonEmpty)
    a.compact("docs") // next commit (gen 3) — GC collects orphan dirs
    val afterDirs = ls(fs, s"$root/docs")
    assert(afterDirs.exists(_.matches("g3(_[0-9a-f]+)?")))
    assert(afterDirs.filter(_.matches("g2(_[0-9a-f]+)?")).size <= 1,
      s"orphan gen-2 dirs must be collected: $afterDirs")
    assert(Bitemporal.current(a.events("docs")).count() === 521L)
  }
}
