package graft

import graft.bitemporal.XtDb
import graft.plans.Explain
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-13 storage: incremental (leveled, bucket-fanout) compaction —
  * the reference's level-wise trie merge (compactor/Compactor.kt,
  * SegmentMerge.kt) re-expressed on the manifest-driven bucketed event
  * log. The contract under test: a fold touches ONLY the appended
  * backlog (base bucket files are never read or rewritten), serving
  * stays zero-exchange over base+levels, erase masking stays correct
  * across levels until the full compaction purges physically, level
  * growth is bounded by merges, superseded files die lazily by one
  * cycle, and the bucket fanout is derived from data size. */
class IncrementalCompactionSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.builder(4).getOrCreate()

  private def newDb(tag: String): XtDb = new XtDb(spark,
    java.nio.file.Files.createTempDirectory(tag).toString)

  /** (name → mtime) of the base bucket files in the live generation. */
  private def baseFiles(db: XtDb, t: String): Map[String, Long] =
    new java.io.File(db.dataDir(t)).listFiles
      .filter(f => f.isFile && f.getName.endsWith(".parquet") &&
        """.*_(\d+)(?:\..*)?$""".r.pattern.matcher(f.getName).matches())
      .map(f => f.getName -> f.lastModified()).toMap

  private def levelDirs(db: XtDb, t: String): Seq[String] =
    Option(new java.io.File(db.dataDir(t)).listFiles).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("_lv"))
      .map(_.getName).sorted

  private def metaJson(db: XtDb, t: String): String =
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"${db.root}/$t/_evmeta.json")), "UTF-8")

  test("fold touches ONLY the backlog: base bucket files untouched, " +
      "level dir appears, reads stay correct and ZERO-exchange, lag 0") {
    import spark.implicits._
    spark.conf.set("spark.graft.autoCompact.maxLag", "-1")
    val db = newDb("inc-fold")
    db.putDocs("t", spark.range(1, 1001).selectExpr("id AS _id", "id*3 AS v"))
    db.compact("t")
    val base0 = baseFiles(db, "t")
    assert(base0.nonEmpty)

    // appended backlog → union path (correct), then an incremental fold
    db.putDocs("t", spark.range(1001, 1101).selectExpr("id AS _id", "id*3 AS v"))
    db.putDocs("t", spark.range(1, 101).selectExpr("id AS _id", "id*5 AS v"))
    assert(db.blockLag("t") >= 2L)
    assert(db.bucketedEventsIfValid("t").isEmpty,
      "backlog must flip off the bucketed serving")
    val expect = db.asOf("t").select("_id", "v")
      .as[(Long, Long)].collect().toSet
    assert(expect.size == 1100 && expect.contains((50L, 250L)))

    assert(db.compactIncremental("t"), "fold must run")
    assert(db.blockLag("t") === 0L)
    assert(levelDirs(db, "t").nonEmpty, "fold must write a level dir")
    assert(baseFiles(db, "t") === base0,
      "the base bucket files must be byte-identical (never rewritten)")
    assert(db.bucketedEventsIfValid("t").isDefined,
      "serving must be bucketed again after the fold")
    val asof = db.asOf("t")
    assert(Explain.report(asof).shuffleExchanges === 0,
      s"asOf over base+levels must not exchange:\n" +
        s"${asof.queryExecution.executedPlan}")
    assert(asof.select("_id", "v").as[(Long, Long)].collect().toSet == expect)

    // point lookup still prunes to one bucket over the leveled set
    val hit = db.pointLookup("t", 42L)
    assert(hit.select("v").as[Long].collect().toSeq == Seq(210L))

    // UNDER A PENDING BACKLOG the read serves bucketed∪backlog: the big
    // side keeps one-bucket pruning (never a full-table scan for a point
    // lookup just because an append landed)
    db.putDocs("t", spark.range(2001, 2011).selectExpr("id AS _id", "id AS v"))
    val hit2 = db.pointLookup("t", 42L)
    assert(hit2.select(col("v")).as[Long].collect().toSeq == Seq(210L))
    hit2.collect() // finalize the adaptive plan before inspecting it
    def scans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scans(a.executedPlan)
      case qs: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        scans(qs.plan)
      case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
      case other => other.children.flatMap(scans)
    }
    val pruned = scans(hit2.queryExecution.executedPlan)
      .filter(_.optionalBucketSet.exists(_.cardinality() == 1))
    assert(pruned.nonEmpty,
      s"big side must stay bucket-pruned under backlog:\n" +
        s"${hit2.queryExecution.executedPlan}")
    assert(db.asOf("t").count() === 1110L)
  }

  test("erase in a LEVEL masks base history at read; the full compact " +
      "purges it physically (GDPR happens at the full merge)") {
    import spark.implicits._
    spark.conf.set("spark.graft.autoCompact.maxLag", "-1")
    val db = newDb("inc-erase")
    db.putDocs("p", Seq((1L, "secret"), (2L, "keep")).toDF("_id", "data"))
    db.compact("p")
    db.eraseDocs("p", Seq(Tuple1(1L)).toDF("_id"))
    db.putDocs("p", Seq((3L, "new")).toDF("_id", "data"))
    assert(db.compactIncremental("p"))
    // logical: erased doc gone, others intact — over base+levels
    val cur = db.asOf("p").select("_id", "data")
      .as[(Long, String)].collect().toMap
    assert(cur == Map(2L -> "keep", 3L -> "new"))
    // physical: the level still CARRIES the history (fold never purges)
    assert(db.events("p").filter(col("data") === "secret").count() == 1)
    // the full compact completes the erase physically
    db.compact("p")
    assert(db.events("p").filter(col("data") === "secret").count() == 0)
    assert(db.events("p").filter(col("_op") === "erase").count() == 0)
    assert(db.asOf("p").select("_id", "data")
      .as[(Long, String)].collect().toMap == cur)
  }

  test("level growth is bounded: at maxLevels the fold merges all levels " +
      "into one; superseded levels and consumed files die lazily by one " +
      "cycle") {
    import spark.implicits._
    spark.conf.set("spark.graft.maxLevels", "2")
    spark.conf.set("spark.graft.autoCompact.maxLag", "-1")
    try {
      val db = newDb("inc-merge")
      db.putDocs("m", spark.range(1, 201).selectExpr("id AS _id", "id AS v"))
      db.compact("m")
      def appendAndFold(lo: Long): Unit = {
        db.putDocs("m", spark.range(lo, lo + 50)
          .selectExpr("id AS _id", "id AS v"))
        assert(db.compactIncremental("m"))
      }
      appendAndFold(201) // levels = [_lv0]
      appendAndFold(251) // levels = [_lv0, _lv1]
      val twoLevels = levelDirs(db, "m")
      assert(twoLevels.size == 2, s"expected 2 levels, got $twoLevels")
      appendAndFold(301) // merge: levels = [_lv2*], _lv0/_lv1 retired
      // level names carry a uniqueness suffix (round-14 CAS: racing
      // folds must never share an output dir) — pin by lvseq prefix
      def prefixes(names: Seq[String]): Set[String] =
        names.map(_.split('_').take(2).mkString("_")).toSet
      val merged = """"levels":\[([^\]]*)\]""".r
        .findFirstMatchIn(metaJson(db, "m")).get.group(1)
        .split(",").filter(_.nonEmpty).toSeq
      assert(merged.size == 1 && merged.head.startsWith("\"_lv2"),
        s"manifest must hold the single merged level: ${metaJson(db, "m")}")
      // retired dirs still on disk for one cycle (in-flight readers)…
      assert(prefixes(levelDirs(db, "m")) == Set("_lv0", "_lv1", "_lv2"))
      appendAndFold(351) // next cycle GCs them
      assert(prefixes(levelDirs(db, "m")) == Set("_lv2", "_lv3"),
        s"retired levels must be GC'd on the next fold: ${levelDirs(db, "m")}")
      // rows all present, zero-exchange serving intact
      val rows = db.asOf("m").count()
      assert(rows === 400L)
      assert(Explain.report(db.asOf("m")).shuffleExchanges === 0)
    } finally spark.conf.unset("spark.graft.maxLevels")
  }

  test("consumed backlog files are excluded immediately and deleted one " +
      "cycle later") {
    import spark.implicits._
    spark.conf.set("spark.graft.autoCompact.maxLag", "-1")
    val db = newDb("inc-gc")
    db.putDocs("g", spark.range(1, 101).selectExpr("id AS _id", "id AS v"))
    db.compact("g")
    db.putDocs("g", spark.range(101, 111).selectExpr("id AS _id", "id AS v"))
    def flatAppendFiles(): Int =
      new java.io.File(db.dataDir("g")).listFiles
        .count(f => f.isFile && f.getName.endsWith(".parquet") &&
          !""".*_(\d+)(?:\..*)?$""".r.pattern.matcher(f.getName).matches())
    val before = flatAppendFiles()
    assert(before >= 1)
    assert(db.compactIncremental("g"))
    // still on disk (lease), but excluded: count() must not double-read
    assert(flatAppendFiles() === before,
      "consumed files must survive one cycle for in-flight readers")
    assert(db.asOf("g").count() === 110L)
    db.putDocs("g", spark.range(111, 121).selectExpr("id AS _id", "id AS v"))
    assert(db.compactIncremental("g"))
    assert(flatAppendFiles() < before + 1,
      "the previous cycle's consumed files must be GC'd by the next fold")
    assert(db.asOf("g").count() === 120L)
  }

  test("bucket fanout derives from live bytes at full compaction: a big " +
      "table fans out past the floor, a small one stays at it") {
    import spark.implicits._
    spark.conf.set("spark.graft.eventBucketBytes", "1024")
    try {
      val db = newDb("inc-fanout")
      db.putDocs("big", spark.range(1, 20001)
        .selectExpr("id AS _id", "repeat('x', 20) AS pad", "id * 2 AS v"))
      db.compact("big")
      val buckets = """"buckets":(\d+)""".r
        .findFirstMatchIn(metaJson(db, "big")).get.group(1).toInt
      assert(buckets > 16, s"big table must fan out past the floor: $buckets")
      assert(db.asOf("big").count() === 20000L)
      // levels inherit the derived fanout and keep serving bucketed
      db.putDocs("big", spark.range(20001, 20101)
        .selectExpr("id AS _id", "repeat('x', 20) AS pad", "id * 2 AS v"))
      assert(db.compactIncremental("big"))
      assert(Explain.report(db.asOf("big")).shuffleExchanges === 0)
      assert(db.asOf("big").count() === 20100L)
    } finally spark.conf.unset("spark.graft.eventBucketBytes")
    val db2 = newDb("inc-fanout-small")
    db2.putDocs("small", spark.range(1, 50).selectExpr("id AS _id"))
    db2.compact("small")
    val buckets2 = """"buckets":(\d+)""".r
      .findFirstMatchIn(metaJson(db2, "small")).get.group(1).toInt
    assert(buckets2 === 16, s"small table must stay at the floor: $buckets2")
  }

  test("tiered trigger: a LARGE table's compactIfLagged folds " +
      "incrementally (generation unchanged) and escalates to the full " +
      "rewrite only at the level-bytes ratio") {
    import spark.implicits._
    spark.conf.set("spark.graft.fullCompact.smallBytes", "0")
    spark.conf.set("spark.graft.fullCompact.ratio", "1000.0")
    spark.conf.set("spark.graft.autoCompact.maxLag", "-1")
    try {
      val db = newDb("inc-tier")
      db.putDocs("t", spark.range(1, 501).selectExpr("id AS _id", "id AS v"))
      db.compact("t")
      val gen0 = db.dataDir("t")
      (1 to 3).foreach(i => db.putDocs("t",
        spark.range(500L + i * 10, 510L + i * 10)
          .selectExpr("id AS _id", "id AS v")))
      assert(db.compactIfLagged("t", maxLag = 2), "trigger must fire")
      assert(db.dataDir("t") === gen0,
        "large-table trigger must fold, not rewrite the generation")
      assert(db.blockLag("t") === 0L)
      assert(levelDirs(db, "t").nonEmpty)
      // now force the escalation: ratio 0 ⇒ any level bytes exceed it
      spark.conf.set("spark.graft.fullCompact.ratio", "0.0")
      (1 to 3).foreach(i => db.putDocs("t",
        spark.range(600L + i * 10, 610L + i * 10)
          .selectExpr("id AS _id", "id AS v")))
      assert(db.compactIfLagged("t", maxLag = 2))
      assert(db.dataDir("t") !== gen0,
        "ratio breach must escalate to the full generation rewrite")
      assert(levelDirs(db, "t").isEmpty, "full compact folds levels away")
      assert(db.asOf("t").count() === 560L)
    } finally {
      spark.conf.unset("spark.graft.fullCompact.smallBytes")
      spark.conf.unset("spark.graft.fullCompact.ratio")
    }
  }

  test("schema evolution across levels: a numeric widening after the " +
      "base compaction serves wide over narrow base files, folds stay " +
      "zero-exchange, and a union-type flip still full-rewrites " +
      "through base+levels+backlog") {
    import spark.implicits._
    spark.conf.set("spark.graft.autoCompact.maxLag", "-1")
    val db = newDb("inc-schema")
    // base: v is INT
    db.putDocs("s", Seq(("a", 1), ("b", 2)).toDF("_id", "v"))
    db.compact("s")
    // widening append: v becomes LONG in the registry; base files stay int
    db.putDocs("s", Seq(("c", 30000000000L)).toDF("_id", "v"))
    assert(db.compactIncremental("s"))
    val served = db.asOf("s")
    assert(served.schema("v").dataType ===
      org.apache.spark.sql.types.LongType)
    assert(Explain.report(served).shuffleExchanges === 0,
      "widened read over narrow base + wide level must stay bucketed")
    assert(served.select("_id", "v").as[(String, Long)].collect().toSet ==
      Set(("a", 1L), ("b", 2L), ("c", 30000000000L)))
    // union-type flip (long -> tagged union with string): read-side
    // promotion cannot conjure it, so the write path full-rewrites —
    // through the MANIFEST-aware input (base + levels + backlog)
    db.putDocs("s", Seq(("d", "str")).toDF("_id", "v"))
    val cur = db.asOf("s").select("_id").as[String].collect().toSet
    assert(cur == Set("a", "b", "c", "d"))
  }

  test("auto-maintenance covers ONCE-COMPACTED tables without a declared " +
      "layout (opted-in by compacting); never-compacted undeclared " +
      "tables keep their backlog untouched") {
    import spark.implicits._
    spark.conf.set("spark.graft.autoCompact.maxLag", "2")
    try {
      val db = newDb("inc-auto")
      db.putDocs("oc", spark.range(1, 101).selectExpr("id AS _id", "id AS v"))
      db.compact("oc") // the opt-in
      (1 to 4).foreach(i => db.putDocs("oc",
        Seq((100L + i, i.toLong)).toDF("_id", "v")))
      assert(db.blockLag("oc") <= 2,
        "once-compacted table must self-fold past maxLag")
      assert(db.asOf("oc").count() === 104L)
      // never compacted + never declared: untouched (the r12 pin)
      (1 to 6).foreach(i => db.putDocs("nc",
        Seq((i.toLong, i.toLong)).toDF("_id", "v")))
      assert(db.blockLag("nc") === 5L,
        "never-opted-in table must keep its backlog")
    } finally spark.conf.unset("spark.graft.autoCompact.maxLag")
  }

  test("xt.txs log folds its small files behind a generation pointer; " +
      "rows and order are preserved") {
    import spark.implicits._
    spark.conf.set("spark.graft.txsFoldThreshold", "4")
    try {
      val db = newDb("inc-txs")
      (1 to 12).foreach(i =>
        db.putDocs("d", Seq((i.toLong, i)).toDF("_id", "v")))
      val rows = db.txs.collect()
      assert(rows.length === 12, s"txs must keep every row: ${rows.length}")
      assert(rows.map(_.getLong(0)).toSeq ==
          rows.map(_.getLong(0)).sorted.toSeq,
        "txs must stay ordered by tx_id")
      // the live tx-log dir is a folded generation with a bounded file set
      val txsRoot = new java.io.File(s"${db.root}/_txs")
      assert(new java.io.File(txsRoot, "_gen").exists,
        "fold must commit a generation pointer")
      val liveFiles = txsRoot.listFiles.filter(_.isDirectory)
        .filter(_.getName.startsWith("_g")).map(d =>
          d.getName -> Option(d.listFiles).toSeq.flatten
            .count(_.getName.endsWith(".parquet"))).toMap
      assert(liveFiles.values.forall(_ <= 6),
        s"folded generations must stay small: $liveFiles")
      // legacy root files are swept once the second fold lands
      val rootParts = txsRoot.listFiles
        .count(f => f.isFile && f.getName.endsWith(".parquet"))
      assert(rootParts === 0 ||
        !new java.io.File(txsRoot, "_g2").exists,
        "legacy root parts must be swept by the g2 flip")
    } finally spark.conf.unset("spark.graft.txsFoldThreshold")
  }
}
