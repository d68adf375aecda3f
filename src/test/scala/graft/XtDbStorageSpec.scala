package graft

import graft.bitemporal.XtDb
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Storage layout: iid-prefix bucketed writes, point-lookup partition
  * pruning, compaction file consolidation with unchanged query results
  * (reference Trie.kt partitioning + Compactor.kt). */
class XtDbStorageSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.builder(4).getOrCreate()

  // Recursive count of the LIVE file set — after a rewrite the data sits
  // in a generation subdirectory (`g<N>/...`, iid-bucketed files) while
  // the superseded generation is kept for in-flight readers, so counting
  // the table root would see both.
  private def parquetFiles(dir: String): Int = {
    def walk(f: java.io.File): Iterator[java.io.File] =
      if (f.isDirectory) f.listFiles.iterator.flatMap(walk) else Iterator(f)
    val d = new java.io.File(dir)
    if (!d.exists) 0
    else walk(d).count(_.getName.endsWith(".parquet"))
  }

  test("bucketed storage, pruned point lookup, compaction") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("xtstore").toString
    val db = new XtDb(spark, root)

    // 8 separate transactions -> many small files
    (1 to 8).foreach(i =>
      db.putDocs("items", Seq((i.toLong, s"item$i", i * 10L))
        .toDF("_id", "name", "qty")))
    val before = parquetFiles(db.dataDir("items"))
    assert(before >= 8)

    // point lookup: correct row + derived _iid/_bucket predicates pushed
    // to the scan
    val hit = db.pointLookup("items", 5L)
    assert(hit.select("name").as[String].collect().toSeq == Seq("item5"))
    val plan = hit.queryExecution.executedPlan.toString
    assert(plan.contains("_bucket") && plan.contains("_iid"))

    // full snapshot before compaction
    val beforeRows = db.asOf("items").select("_id", "name", "qty")
      .as[(Long, String, Long)].collect().toSet

    db.compact("items")
    val after = parquetFiles(db.dataDir("items"))
    assert(after < before)
    // the compacted generation serves as the iid-bucketed catalog table
    assert(db.bucketedEventsIfValid("items").isDefined,
      "compaction must leave a storage-verified bucketed event log")

    val afterRows = db.asOf("items").select("_id", "name", "qty")
      .as[(Long, String, Long)].collect().toSet
    assert(afterRows == beforeRows && afterRows.size == 8)

    // history still resolves after compaction (SEQ/SF preserved); the
    // append flips event serving back to the flat path (fingerprint
    // invalidation) with identical results
    db.putDocs("items", Seq((5L, "item5b", 55L)).toDF("_id", "name", "qty"))
    assert(db.bucketedEventsIfValid("items").isEmpty,
      "an append must invalidate the bucketed event serving")
    assert(db.pointLookup("items", 5L).select("name")
      .as[String].collect().toSeq == Seq("item5b"))
    assert(db.history("items").filter(col("_id") === 5L).count() >= 2)
  }

  test("event serving is CATALOG-FREE (round 13): no graft_ev_* " +
      "registration exists to go stale — a generation flip by another " +
      "instance is picked up from the storage manifest alone") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("xtstale").toString
    val db = new graft.bitemporal.XtDb(spark, root)
    db.putDocs("st", (1 to 40).map(i => (i.toLong, i * 2L)).toDF("_id", "v"))
    db.compact("st")
    val served = db.bucketedEventsIfValid("st")
    assert(served.isDefined && served.get.count() == 40)
    // the whole stale-registration hazard class is gone: serving builds
    // the bucketed relation from the manifest's explicit file list, no
    // session-catalog entry is created for the event log at all
    assert(!spark.catalog.listTables().collect().map(_.name)
      .exists(_.startsWith("graft_ev_st_")),
      "event-log serving must not register catalog tables")
    // another instance flips the generation (append + compact through a
    // SECOND XtDb over the same root); the first instance follows the
    // pointer + manifest with nothing in-memory or in-catalog to go stale
    val db2 = new graft.bitemporal.XtDb(spark, root)
    db2.putDocs("st", Seq((41L, 82L)).toDF("_id", "v"))
    db2.compact("st")
    val after = db.bucketedEventsIfValid("st")
    assert(after.isDefined && after.get.count() == 41,
      "the first instance must serve the flipped generation from storage")
  }

  test("compaction physically removes erased history; re-inserts survive") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("xterase").toString
    val db = new XtDb(spark, root)

    db.putDocs("p", Seq((1L, "secret"), (2L, "keep")).toDF("_id", "data"))
    db.putDocs("p", Seq((1L, "secret-v2")).toDF("_id", "data"))
    db.eraseDocs("p", Seq(Tuple1(1L)).toDF("_id"))
    // doc 3 inserted AFTER the erase of doc 1 (and doc 1 re-inserted)
    db.putDocs("p", Seq((1L, "reborn"), (3L, "new")).toDF("_id", "data"))

    // BEFORE compaction: the read path must already hide erased history and
    // show the re-insert (round-1 bug: window fast path dropped post-erase
    // re-inserts until compact() ran)
    val preCompact = db.asOf("p").select("_id", "data")
      .as[(Long, String)].collect().toMap
    assert(preCompact == Map(1L -> "reborn", 2L -> "keep", 3L -> "new"))
    assert(db.pointLookup("p", 1L).select("data")
      .as[String].collect().toSeq == Seq("reborn"))

    db.compact("p")

    // physical check: the raw event log contains no trace of the erased
    // versions (GDPR guarantee) and no erase markers
    val raw = db.events("p")
    assert(raw.filter(col("data").isin("secret", "secret-v2")).count() == 0)
    assert(raw.filter(col("_op") === "erase").count() == 0)

    // logical state unchanged by compaction
    val cur = db.asOf("p").select("_id", "data")
      .as[(Long, String)].collect().toMap
    assert(cur == Map(1L -> "reborn", 2L -> "keep", 3L -> "new"))
  }
}
