package graft

import graft.WritePoints._
import graft.bitemporal.XtDb
import graft.plans.Explain
import graft.tools.EngineMetrics
import org.apache.spark.sql.GraftColumnBridge.drainListenerBus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-14 storage: bucket-ALIGNED full compaction — when the re-derived
  * fanout is unchanged, the escalated full rewrite merges base+levels per
  * bucket (the reference merges per trie partition independently,
  * compactor/Compactor.kt / SegmentMerge.kt) with ZERO exchange, in
  * chunks committed to a progress sidecar so a crash resumes instead of
  * restarting. The genuine shuffle path survives only for fanout
  * changes. */
class AlignedCompactionSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.builder(4).getOrCreate()

  private def newDb(tag: String): XtDb = new XtDb(spark,
    java.nio.file.Files.createTempDirectory(tag).toString)

  private def metaJson(db: XtDb, t: String): String =
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"${db.root}/$t/_evmeta.json")), "UTF-8")

  // chunk dirs are attempt-tagged since round 17 (`c<lo>.<tag>`)
  private def chunkDirs(db: XtDb, t: String): Seq[String] =
    Option(new java.io.File(db.dataDir(t)).listFiles).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.matches("c\\d+(\\..+)?"))
      .map(_.getName).sorted

  test("aligned full compact at unchanged fanout: ZERO shuffle bytes, new " +
      "generation committed, erase purged physically, serving stays " +
      "zero-exchange and correct") {
    import spark.implicits._
    spark.conf.set("spark.graft.autoCompact.maxLag", "-1")
    val db = newDb("aligned-zero")
    db.putDocs("t", spark.range(1, 2001).selectExpr("id AS _id", "id*3 AS v"))
    db.compact("t") // first compact: the shuffle path builds the base
    val gen1 = db.dataDir("t")
    db.putDocs("t", spark.range(2001, 2101)
      .selectExpr("id AS _id", "id*3 AS v"))
    db.eraseDocs("t", Seq(Tuple1(7L)).toDF("_id"))
    assert(db.compactIncremental("t"), "fold the backlog into a level")
    val expect = db.asOf("t").select("_id", "v")
      .as[(Long, Long)].collect().toSet
    assert(!expect.exists(_._1 == 7L))

    val c = EngineMetrics.install(spark)
    drainListenerBus(spark.sparkContext)
    val before = c.shuffleWriteBytes.get
    db.compact("t") // escalated full compact — must take the aligned path
    drainListenerBus(spark.sparkContext)
    val delta = c.shuffleWriteBytes.get - before
    assert(delta === 0L,
      s"aligned full compact must not shuffle (wrote $delta bytes)")
    assert(db.dataDir("t") !== gen1, "a new generation must commit")
    assert(chunkDirs(db, "t").nonEmpty,
      s"aligned generation holds chunk dirs: ${chunkDirs(db, "t")}")
    // erase completed physically: no event of the erased iid anywhere
    assert(db.events("t").filter(col("_id") === 7L).count() === 0L)
    assert(db.events("t").filter(col("_op") === "erase").count() === 0L)
    // serving over the chunked generation: bucketed, zero-exchange, equal
    val asof = db.asOf("t")
    assert(Explain.report(asof).shuffleExchanges === 0,
      s"asOf over the aligned generation must not exchange:\n" +
        s"${asof.queryExecution.executedPlan}")
    assert(asof.select("_id", "v").as[(Long, Long)].collect().toSet == expect)
    assert(db.pointLookup("t", 42L).select("v").as[Long].collect().toSeq
      == Seq(126L))
  }

  test("kill-and-resume: a crash between chunks resumes from the progress " +
      "sidecar — completed chunks are not rewritten, readers stay on the " +
      "old generation until the final commit") {
    import spark.implicits._
    spark.conf.set("spark.graft.autoCompact.maxLag", "-1")
    spark.conf.set("spark.graft.fullCompact.chunkBuckets", "4")
    try {
      val db = newDb("aligned-resume")
      db.putDocs("r", spark.range(1, 1001).selectExpr("id AS _id", "id AS v"))
      db.compact("r") // base at the 16-bucket floor ⇒ 4 chunks of 4
      val gen1 = db.dataDir("r")
      db.putDocs("r", spark.range(1001, 1051)
        .selectExpr("id AS _id", "id AS v"))
      assert(db.compactIncremental("r"))
      val expect = db.asOf("r").count()

      val crash = intercept[IllegalStateException] {
        crashAt(afterChunks(2))(db.compact("r"))
      }
      assert(crash.getMessage.contains("injected"))

      // crashed mid-merge: pointer NOT flipped, reads correct on old gen
      assert(db.dataDir("r") === gen1,
        "generation must not flip before every chunk lands")
      assert(db.asOf("r").count() === expect)
      val prog = new java.io.File(s"${db.root}/r/_compact_progress.json")
      assert(prog.exists, "progress sidecar must survive the crash")
      // the two completed chunks are on disk under the next generation's
      // unique dir, recorded in the progress sidecar (round 15)
      val progJson = new String(
        java.nio.file.Files.readAllBytes(prog.toPath), "UTF-8")
      val gdirName = """"dir"\s*:\s*"([^"]+)"""".r
        .findFirstMatchIn(progJson).get.group(1)
      val g2 = new java.io.File(s"${db.root}/r/$gdirName")
      val landed = Option(g2.listFiles).toSeq.flatten
        .filter(_.getName.matches("c\\d+(\\..+)?"))
      assert(landed.size === 2, s"2 chunks must have landed: $landed")
      val mtimes = landed.flatMap(d => d.listFiles.toSeq)
        .map(f => f.getName -> f.lastModified()).toMap

      Thread.sleep(20) // make any rewrite visible as an mtime bump
      db.compact("r") // resume
      assert(db.dataDir("r") !== gen1, "resume must complete the flip")
      assert(!prog.exists, "progress sidecar must be cleared on commit")
      val after = landed.flatMap(d => d.listFiles.toSeq)
        .map(f => f.getName -> f.lastModified()).toMap
      assert(after === mtimes,
        "completed chunks must NOT be rewritten on resume")
      assert(chunkDirs(db, "r").size === 4)
      assert(db.asOf("r").count() === expect)
      assert(Explain.report(db.asOf("r")).shuffleExchanges === 0)
    } finally {
      spark.conf.unset("spark.graft.fullCompact.chunkBuckets")
    }
  }

  test("a fold landing after the crash invalidates the progress (input " +
      "fingerprint) — the merge restarts instead of committing stale " +
      "chunks") {
    import spark.implicits._
    spark.conf.set("spark.graft.autoCompact.maxLag", "-1")
    spark.conf.set("spark.graft.fullCompact.chunkBuckets", "4")
    try {
      val db = newDb("aligned-stale")
      db.putDocs("s", spark.range(1, 501).selectExpr("id AS _id", "id AS v"))
      db.compact("s")
      db.putDocs("s", spark.range(501, 521).selectExpr("id AS _id", "id AS v"))
      assert(db.compactIncremental("s"))
      intercept[IllegalStateException] {
        crashAt(afterChunks(1))(db.compact("s"))
      }
      // new data lands and folds — the crashed attempt's inputs are stale
      db.putDocs("s", spark.range(521, 541).selectExpr("id AS _id", "id AS v"))
      assert(db.compactIncremental("s"))
      db.compact("s")
      assert(db.asOf("s").count() === 540L,
        "restart must include the rows folded after the crash")
      assert(db.asOf("s").select(max(col("_id"))).as[Long].head() === 540L)
    } finally {
      spark.conf.unset("spark.graft.fullCompact.chunkBuckets")
    }
  }

  test("fanout change keeps the genuine shuffle path and re-fans the base") {
    import spark.implicits._
    spark.conf.set("spark.graft.autoCompact.maxLag", "-1")
    val db = newDb("aligned-fanout")
    db.putDocs("f", spark.range(1, 5001)
      .selectExpr("id AS _id", "repeat('x', 30) AS pad"))
    db.compact("f")
    val b1 = """"buckets":(\d+)""".r
      .findFirstMatchIn(metaJson(db, "f")).get.group(1).toInt
    assert(b1 === 16)
    db.putDocs("f", spark.range(5001, 5101)
      .selectExpr("id AS _id", "repeat('x', 30) AS pad"))
    assert(db.compactIncremental("f"))
    // force a re-derive well past the floor: aligned preconditions fail
    spark.conf.set("spark.graft.eventBucketBytes", "1024")
    try {
      db.compact("f")
      val b2 = """"buckets":(\d+)""".r
        .findFirstMatchIn(metaJson(db, "f")).get.group(1).toInt
      assert(b2 > 16, s"fanout change must re-fan the base: $b2")
      assert(chunkDirs(db, "f").isEmpty,
        "the shuffle path writes a flat bucketed generation (no chunks)")
      assert(db.asOf("f").count() === 5100L)
      assert(Explain.report(db.asOf("f")).shuffleExchanges === 0)
    } finally spark.conf.unset("spark.graft.eventBucketBytes")
  }
}
