package graft

import graft.WritePoints._
import graft.bitemporal.XtDb
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The generation commit's order: files, pointer CAS, manifest, GC.
  * `_evmeta.json` is only superseded AFTER the pointer flip, so a crash
  * anywhere in the commit can never destroy the old generation's manifest
  * (the only record of its levels/consumed live set): before the flip the
  * old generation serves exactly; after it the new generation reads flat
  * from its listing, which is its live set. Also pins the loud refusal of
  * a gen-ahead manifest. */
class CommitOrderSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.builder(4).getOrCreate()

  private def newDb(tag: String): XtDb = new XtDb(spark,
    java.nio.file.Files.createTempDirectory(tag).toString)

  /** A table in the state the round-14 order corrupted: bucketed base
    * (g1) + a LEVEL fold + its consumed backlog files still on disk
    * under the read lease. A flat directory read here is WRONG twice
    * over: it misses the hidden `_lv` level rows and double-counts the
    * consumed files. */
  private def levelsAndLeases(db: XtDb, t: String): Long = {
    import spark.implicits._
    spark.conf.set("spark.graft.autoCompact.maxLag", "-1")
    db.putDocs(t, spark.range(1, 501).selectExpr("id AS _id", "id*7 AS v"))
    db.compact(t)
    db.putDocs(t, spark.range(501, 551).selectExpr("id AS _id", "id*7 AS v"))
    assert(db.compactIncremental(t), "fold the backlog into a level")
    val n = db.asOf(t).count()
    assert(n === 550L)
    n
  }

  test("crash BEFORE the pointer flip: the old generation's manifest " +
      "survives intact — levels still served, consumed still excluded — " +
      "and the next compact completes with no data loss") {
    val db = newDb("commit-preflip")
    val expect = levelsAndLeases(db, "t")
    val gen1 = db.dataDir("t")
    val metaBefore = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"${db.root}/t/_evmeta.json")), "UTF-8")

    intercept[IllegalStateException] { crashAt(beforeFlip)(db.compact("t")) }

    // the pointer never flipped and `_evmeta.json` is BYTE-IDENTICAL:
    // the old generation's live set (levels + consumed exclusions) is
    // fully intact — the exact invariant the round-14 order broke
    assert(db.dataDir("t") === gen1, "pointer must not flip")
    val metaAfter = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"${db.root}/t/_evmeta.json")), "UTF-8")
    assert(metaAfter === metaBefore,
      "the old generation's manifest must survive the crash untouched")
    assert(db.asOf("t").count() === expect,
      "reads after the crash serve the old generation exactly")
    assert(db.events("t").count() === db.asOf("t").count(),
      "no consumed duplicates, no hidden level rows")

    // recovery: the next compact completes the flip with every row
    db.compact("t")
    assert(db.dataDir("t") !== gen1, "recovery must complete the flip")
    assert(db.asOf("t").count() === expect)
    import spark.implicits._
    assert(db.asOf("t").select(max(col("_id"))).as[Long].head() === 550L)
  }

  /** Crash a full compaction that purges an erase right after its
    * pointer flip, reopen the store, and check it serves exactly the
    * post-state: the flipped generation reads flat from its listing (its
    * manifest still names the superseded generation). The next
    * `compactIfLagged`, with nothing appended, re-stamps the manifest and
    * drops the superseded generation, which still holds the erased
    * payload. */
  private def crashAfterFlip(root: String): Unit = {
    import spark.implicits._
    val before = new XtDb(spark, root)
    levelsAndLeases(before, "t")
    before.eraseDocs("t", spark.range(1, 11).selectExpr("id AS _id"))
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.toString).toSet
    val expectAsOf = rows(before.asOf("t").select("_id", "v"))
    assert(expectAsOf.size === 540)
    val expectHistory = rows(before.history("t")
      .select("_id", "v", "_valid_from", "_valid_to", "_system_from",
        "_system_to"))
    val gen1 = new org.apache.hadoop.fs.Path(before.dataDir("t"))
    val fs = gen1.getFileSystem(spark.sparkContext.hadoopConfiguration)

    intercept[IllegalStateException] {
      crashAt(flipped)(before.compact("t"))
    }

    val db = new XtDb(spark, root)
    assert(db.readEvMeta("t").map(_.gen) === Some(1),
      "the manifest still names the superseded generation")
    assert(db.storageStats("t")._3 === 2, "the pointer flipped")
    assert(rows(db.asOf("t").select("_id", "v")) === expectAsOf)
    assert(rows(db.history("t").select("_id", "v", "_valid_from",
      "_valid_to", "_system_from", "_system_to")) === expectHistory)
    assert(db.blockLag("t") === 0L, "the flipped generation has no backlog")
    assert(db.events("t").count() === expectAsOf.size.toLong,
      "no consumed duplicates, no missing level rows, no erased rows")
    assert(fs.exists(gen1), "the superseded generation is still on disk")

    assert(db.compactIfLagged("t"),
      "an unstamped generation is lagged with nothing appended")
    val m = db.readEvMeta("t")
    assert(m.map(_.gen) === Some(db.storageStats("t")._3) &&
      m.exists(_.buckets == 16), s"the manifest is re-stamped: $m")
    assert(!fs.exists(gen1),
      "the generation holding the erased payload is dropped")
    assert(rows(db.asOf("t").select("_id", "v")) === expectAsOf)
    assert(db.bucketedEventsIfValid("t").isDefined,
      "the re-stamped generation serves bucketed again")
    assert(!db.compactIfLagged("t"), "a stamped generation is not lagged")
  }

  test("crash AFTER the flip, before the manifest write (file://): a " +
      "reopened store serves the post-state flat; the next compaction " +
      "re-stamps the manifest") {
    crashAfterFlip(
      java.nio.file.Files.createTempDirectory("commit-flipped").toString)
  }

  test("crash AFTER the flip, before the manifest write (objstore://)") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.objstore.impl",
      classOf[graft.storage.ObjectStoreFileSystem].getName)
    conf.set("fs.objstore.impl.disable.cache", "true")
    crashAfterFlip("objstore:" +
      java.nio.file.Files.createTempDirectory("commit-flipped-os").toString)
  }

  test("a gen-AHEAD manifest with levels/consumed (the pre-round-15 crash " +
      "artifact) fails LOUDLY instead of silently serving or compacting " +
      "from a lossy flat read") {
    import spark.implicits._
    spark.conf.set("spark.graft.autoCompact.maxLag", "-1")
    val db = newDb("commit-genahead")
    db.putDocs("a", spark.range(1, 101).selectExpr("id AS _id", "id AS v"))
    db.compact("a")
    db.putDocs("a", spark.range(101, 111).selectExpr("id AS _id", "id AS v"))
    assert(db.compactIncremental("a"))
    // simulate the old bug: bump the manifest's gen PAST the pointer
    // while it still carries levels/consumed
    val p = java.nio.file.Paths.get(s"${db.root}/a/_evmeta.json")
    val js = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
    val ahead = js.replaceFirst(""""gen":\d+""", "\"gen\":99")
    // drop the local-FS checksum sidecar — this simulated corruption is
    // written behind Hadoop's back
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"${db.root}/a/._evmeta.json.crc"))
    java.nio.file.Files.write(p, ahead.getBytes("UTF-8"))
    val e = intercept[IllegalStateException] { db.asOf("a").count() }
    assert(e.getMessage.contains("claims generation"),
      s"unexpected error: ${e.getMessage}")
    // restore and confirm the table serves again
    java.nio.file.Files.write(p, js.getBytes("UTF-8"))
    assert(db.asOf("a").count() === 110L)
  }

  test("a gen-AHEAD manifest with EMPTY levels/consumed — the actual " +
      "pre-round-15 crash artifact (alignedRewrite wrote the fresh NEW " +
      "manifest, then crashed before the flip) — also fails LOUDLY " +
      "(ADVICE r15 #1): whether the destroyed OLD manifest had levels " +
      "is unknowable from the new one") {
    import spark.implicits._
    spark.conf.set("spark.graft.autoCompact.maxLag", "-1")
    val db = newDb("commit-genahead-empty")
    db.putDocs("a", spark.range(1, 101).selectExpr("id AS _id", "id AS v"))
    db.compact("a")
    db.putDocs("a", spark.range(101, 111).selectExpr("id AS _id", "id AS v"))
    assert(db.compactIncremental("a"))
    // the real artifact: a FRESH gen-ahead manifest — levels/consumed
    // both empty (exactly what the pre-fix aligned rewrite wrote over the
    // old manifest before flipping the pointer)
    val p = java.nio.file.Paths.get(s"${db.root}/a/_evmeta.json")
    val js = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
    val ahead = js.replaceFirst(""""gen":\d+""", "\"gen\":99")
      .replaceFirst(""""levels":\[[^\]]*\]""", "\"levels\":[]")
      .replaceFirst(""""consumed":\[[^\]]*\]""", "\"consumed\":[]")
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"${db.root}/a/._evmeta.json.crc"))
    java.nio.file.Files.write(p, ahead.getBytes("UTF-8"))
    val e = intercept[IllegalStateException] { db.asOf("a").count() }
    assert(e.getMessage.contains("claims generation"),
      s"unexpected error: ${e.getMessage}")
    // a flat fallback here would have served silently — and the next
    // compaction would have baked the loss in; compact must refuse too
    val e2 = intercept[IllegalStateException] { db.compactIncremental("a") }
    assert(e2.getMessage.contains("claims generation"))
    java.nio.file.Files.write(p, js.getBytes("UTF-8"))
    assert(db.asOf("a").count() === 110L)
  }


}
