package graft

import graft.bitemporal.XtDb
import graft.plans.Explain
import graft.tools.EngineMetrics
import org.apache.spark.sql.GraftColumnBridge.drainListenerBus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Bucket-ALIGNED full compaction — when the re-derived fanout is
  * unchanged, the escalated full rewrite merges base+levels per bucket
  * (the reference merges per trie partition independently,
  * compactor/Compactor.kt / SegmentMerge.kt) in one Spark job with ZERO
  * exchange, written to the root of the new generation dir. The genuine
  * shuffle path survives only for fanout changes. */
class AlignedCompactionSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.builder(4).getOrCreate()

  private def newDb(tag: String): XtDb = new XtDb(spark,
    java.nio.file.Files.createTempDirectory(tag).toString)

  private def metaJson(db: XtDb, t: String): String =
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"${db.root}/$t/_evmeta.json")), "UTF-8")

  /** The live generation dir's entries: (bucket file names at its root,
    * its visible subdirectories). */
  private def genRoot(db: XtDb, t: String): (Seq[String], Seq[String]) = {
    val entries = Option(new java.io.File(db.dataDir(t)).listFiles).toSeq
      .flatten.filterNot(f => f.getName.startsWith("_") ||
        f.getName.startsWith("."))
    (entries.filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .map(_.getName).sorted,
      entries.filter(_.isDirectory).map(_.getName).sorted)
  }

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
    val (files, subdirs) = genRoot(db, "t")
    assert(files.nonEmpty && files.forall(_.matches("part-.*_\\d+\\..*")),
      s"bucket files at the generation root: $files")
    assert(subdirs.isEmpty, s"no subdirectories in the generation: $subdirs")
    // erase completed physically: no event of the erased iid anywhere
    assert(db.events("t").filter(col("_id") === 7L).count() === 0L)
    assert(db.events("t").filter(col("_op") === "erase").count() === 0L)
    // serving over the new generation: bucketed, zero-exchange, equal
    val asof = db.asOf("t")
    assert(Explain.report(asof).shuffleExchanges === 0,
      s"asOf over the aligned generation must not exchange:\n" +
        s"${asof.queryExecution.executedPlan}")
    assert(asof.select("_id", "v").as[(Long, Long)].collect().toSet == expect)
    assert(db.pointLookup("t", 42L).select("v").as[Long].collect().toSeq
      == Seq(126L))
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
      val (files, subdirs) = genRoot(db, "f")
      assert(files.nonEmpty && subdirs.isEmpty,
        s"the shuffle path writes bucket files at the generation root: " +
          s"$files $subdirs")
      assert(db.asOf("f").count() === 5100L)
      assert(Explain.report(db.asOf("f")).shuffleExchanges === 0)
    } finally spark.conf.unset("spark.graft.eventBucketBytes")
  }
}
