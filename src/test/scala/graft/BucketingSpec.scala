package graft

import graft.operators.Joins
import graft.plans.Explain
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Co-located (bucketed) joins and salted skew joins — the two shuffle
  * strategies SURVEY §7/§4.2 names for the 100 TB path beyond AQE:
  * pre-bucketing removes the join shuffle entirely for repeated joins on a
  * stable key (the Spark analogue of the reference's iid-prefix trie
  * partitioning, Trie.kt:34-60), and salting bounds straggler tasks when a
  * single key floods one reducer.
  */
class BucketingSpec extends AnyFunSuite {

  private val wh = java.nio.file.Files
    .createTempDirectory("graft-warehouse").toString

  // isolated child session: the shared test JVM reuses one SparkContext
  // across specs (getOrCreate), so builder configs from whichever spec ran
  // first would win — newSession gives this spec its own SQLConf
  lazy val spark: SparkSession = {
    val s = GraftSession.builder(4).getOrCreate().newSession()
    s.conf.set("spark.sql.shuffle.partitions", "4")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s
  }

  private val sf = "/root/testdata/sf0.001"

  test("bucketed tables co-locate the join: zero shuffle exchanges") {
    // external tables at explicit temp paths — the warehouse dir is a
    // context-wide setting this child session must not depend on
    Tables.load(spark, sf, "orders")
      .write.mode("overwrite")
      .option("path", s"$wh/orders_b")
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable("orders_b")
    Tables.load(spark, sf, "lineitem")
      .withColumnRenamed("l_orderkey", "o_orderkey")
      .write.mode("overwrite")
      .option("path", s"$wh/lineitem_b")
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable("lineitem_b")

    val joined = spark.table("lineitem_b")
      .join(spark.table("orders_b"), Seq("o_orderkey"))
      .select("o_orderkey", "o_orderstatus", "l_quantity")
    val rep = Explain.report(joined)
    assert(rep.shuffleExchanges === 0,
      s"bucketed join must not shuffle:\n${joined.queryExecution.executedPlan}")

    // and the result matches the plain (shuffling) join
    val plain = Tables.load(spark, sf, "lineitem")
      .withColumnRenamed("l_orderkey", "o_orderkey")
      .join(Tables.load(spark, sf, "orders"), Seq("o_orderkey"))
      .select("o_orderkey", "o_orderstatus", "l_quantity")
    assert(joined.count() === plain.count())
    assert(joined.except(plain).isEmpty && plain.except(joined).isEmpty)
    spark.sql("DROP TABLE IF EXISTS orders_b")
    spark.sql("DROP TABLE IF EXISTS lineitem_b")
  }

  test("co-bucketed facts ingest: lineitem⋈orders plans ZERO " +
      "exchanges through Tables.load, result equals the flat layout; " +
      "the declaration is a per-directory sidecar") {
    // lineitem + orders co-bucketed on the orderkey (same bucket count,
    // one file per bucket, sorted within)
    val dst = java.nio.file.Files
      .createTempDirectory("graft_bucketed_facts").toString
    Seq("lineitem" -> "l_orderkey", "orders" -> "o_orderkey").foreach {
      case (t, k) =>
        graft.storage.LayoutCatalog.ingestBucketed(spark,
          Tables.load(spark, sf, t), dst,
          graft.storage.LayoutCatalog.Layout(t, k, 4, s"bucketed_$t"))
    }
    assert(graft.storage.LayoutCatalog.read(dst, "lineitem").isDefined &&
      graft.storage.LayoutCatalog.read(dst, "orders").isDefined,
      "ingest must persist layout sidecars in the destination dir")
    val li = Tables.load(spark, dst, "lineitem")
    val o = Tables.load(spark, dst, "orders")
    val joined = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .select("l_orderkey", "o_orderstatus", "l_quantity")
    val rep = Explain.report(joined)
    assert(rep.shuffleExchanges === 0,
      s"co-bucketed fact join must not shuffle:\n" +
        s"${joined.queryExecution.executedPlan}")
    assert(rep.sortMergeJoins + rep.shuffledHashJoins >= 1)
    // the q03/q05/q09 shape on top: the groupBy is the ONLY exchange
    val agg = joined.groupBy("o_orderstatus")
      .agg(sum("l_quantity").as("qty"))
    assert(Explain.report(agg).shuffleExchanges <= 1,
      "only the aggregation may exchange over a co-bucketed join")
    // and the relation is identical to the flat-layout join
    val plain = Tables.load(spark, sf, "lineitem")
      .join(Tables.load(spark, sf, "orders"),
        col("l_orderkey") === col("o_orderkey"))
      .select("l_orderkey", "o_orderstatus", "l_quantity")
    assert(joined.count() === plain.count())
    assert(joined.except(plain).isEmpty && plain.except(joined).isEmpty)
    // routing is scoped to the ingest directory: the SAME table name
    // loaded from the original (flat) dir serves the flat files — a
    // bucketed ingest elsewhere in the session must not hijack it
    val flatAgain = Tables.load(spark, sf, "lineitem")
    assert(Explain.report(
      flatAgain.groupBy("l_orderkey").count()).shuffleExchanges >= 1,
      "flat-dir load must stay flat (no phantom bucketing)")
    // a fresh session re-registers from the sidecar alone — the layout
    // is a property of the data, not of one session. newSession() SHARES
    // the external catalog, so drop the registrations first to force the
    // re-registration path a genuinely fresh process would take
    val s2 = spark.newSession()
    spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("graft_b_"))
      .foreach(n => spark.sql(s"DROP TABLE IF EXISTS $n"))
    val li2 = Tables.load(s2, dst, "lineitem")
    val o2 = Tables.load(s2, dst, "orders")
    val j2 = li2.join(o2, col("l_orderkey") === col("o_orderkey"))
      .select("l_orderkey", "l_quantity")
    assert(Explain.report(j2).shuffleExchanges === 0,
      "fresh-session load must recover the bucket spec from the sidecar")
    assert(j2.count() === plain.count())
  }

  test("XtDb declared layout: compact materializes a bucketed current " +
      "snapshot; current-point reads join with zero fact-side exchange, " +
      "equal the live resolution, and any write invalidates the snapshot") {
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft-layout-xtdb").toString
    val db = new graft.bitemporal.XtDb(spark, root)
    val eng = new graft.sql.XtSqlEngine(spark, db)
    db.declareLayout("lo_orders", "ok", 4)
    db.putDocs("lo_orders",
      (1 to 50).map(i => (i.toString, i % 10, s"o$i"))
        .toDF("_id", "ok", "tag"))
    db.putDocs("lo_lines",
      (1 to 200).map(i => (i.toString, i % 10, i * 1.5))
        .toDF("_id", "ok", "qty"))
    db.declareLayout("lo_lines", "ok", 4)
    val live = eng.sql(
      "SELECT l.ok, count(*) AS n FROM lo_lines l " +
        "JOIN lo_orders o ON l.ok = o.ok GROUP BY l.ok ORDER BY l.ok")
      .collect().map(_.toSeq)
    assert(db.currentSnapshotIfValid("lo_orders").isEmpty,
      "no snapshot before compact")
    db.compact("lo_orders"); db.compact("lo_lines")
    val snapO = db.currentSnapshotIfValid("lo_orders")
    val snapL = db.currentSnapshotIfValid("lo_lines")
    assert(snapO.isDefined && snapL.isDefined, "compact must build snapshots")
    // the snapshot-side join is exchange-free on the declared key
    val j = snapL.get.join(snapO.get, Seq("ok")).select("ok", "qty")
    assert(Explain.report(j).shuffleExchanges === 0,
      s"snapshot join must not shuffle:\n${j.queryExecution.executedPlan}")
    // the SQL front door serves the snapshot and matches the live answer
    val viaSnap = eng.sql(
      "SELECT l.ok, count(*) AS n FROM lo_lines l " +
        "JOIN lo_orders o ON l.ok = o.ok GROUP BY l.ok ORDER BY l.ok")
      .collect().map(_.toSeq)
    assert(viaSnap.toSeq == live.toSeq)
    // a temporal clause bypasses the snapshot (history must stay live)
    val hist = eng.sql(
      "SELECT count(*) AS n FROM lo_orders FOR ALL SYSTEM_TIME")
    assert(hist.collect().head.getLong(0) >= 50L)
    // validity is a property of STORAGE, not instance memory: a fresh
    // XtDb instance over the same root serves the still-valid snapshot
    // from the persisted manifest alone
    val db2 = new graft.bitemporal.XtDb(spark, root)
    assert(db2.currentSnapshotIfValid("lo_orders").isDefined,
      "a fresh instance must serve a still-valid snapshot from storage")
    // a write through ANY instance invalidates every instance's serve —
    // the backlog is no longer empty, nothing in-memory to trust
    db2.putDocs("lo_orders", Seq(("99", 3, "new")).toDF("_id", "ok", "tag"))
    assert(db.currentSnapshotIfValid("lo_orders").isEmpty,
      "the ORIGINAL instance must refuse after another instance's write")
    assert(db2.currentSnapshotIfValid("lo_orders").isEmpty,
      "a write must invalidate the snapshot")
    val after = eng.sql(
      "SELECT count(*) AS n FROM lo_orders WHERE _id = '99'")
    assert(after.collect().head.getLong(0) === 1L)
    // re-declaring a DIFFERENT layout refuses the old snapshot
    db.compact("lo_lines")
    assert(db.currentSnapshotIfValid("lo_lines").isDefined)
    db.declareLayout("lo_lines", "ok", 8)
    assert(db.currentSnapshotIfValid("lo_lines").isEmpty,
      "a layout re-declaration must refuse a snapshot built under the old one")
  }

  test("XtDb snapshot refuses itself once a FUTURE valid-from boundary " +
      "passes (the moving current point): near boundary expires, far " +
      "boundary keeps serving") {
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft-layout-vt").toString
    val db = new graft.bitemporal.XtDb(spark, root)
    db.declareLayout("vt_docs", "k", 2)
    db.putDocs("vt_docs", Seq(("1", 1, "now")).toDF("_id", "k", "v"))
    // a put that becomes visible ~2s from now: the snapshot must record
    // the boundary and stop serving once the clock passes it
    val soon = java.sql.Timestamp.from(
      java.time.Instant.now().plusSeconds(2))
    db.putDocs("vt_docs", Seq(("2", 2, "soon")).toDF("_id", "k", "v"),
      validFrom = Some(lit(soon)))
    db.compact("vt_docs")
    val snap = db.currentSnapshotIfValid("vt_docs")
    assert(snap.isDefined, "snapshot valid before the boundary")
    assert(snap.get.count() === 1L, "future-valid row not yet current")
    Thread.sleep(2500)
    assert(db.currentSnapshotIfValid("vt_docs").isEmpty,
      "snapshot must expire when the valid-time boundary passes")
    // live resolution now includes the activated row
    assert(graft.bitemporal.Bitemporal
      .current(db.events("vt_docs")).count() === 2L)
    // far-future boundary: recompact — serves again (expiry far away)
    db.compact("vt_docs")
    assert(db.currentSnapshotIfValid("vt_docs").isDefined)
    assert(db.currentSnapshotIfValid("vt_docs").get.count() === 2L)
  }

  test("auto-compaction: a steady-write table with a DECLARED layout " +
      "returns to snapshot serving WITHOUT operator action — at most " +
      "maxLag+1 puts of live resolution before the snapshot is back; " +
      "undeclared tables never auto-rewrite") {
    import spark.implicits._
    spark.conf.set("spark.graft.autoCompact.maxLag", "2")
    try {
      val root = java.nio.file.Files
        .createTempDirectory("graft-autorefresh").toString
      val db = new graft.bitemporal.XtDb(spark, root)
      db.declareLayout("ac_t", "k", 2)
      def put(i: Int): Unit =
        db.putDocs("ac_t", Seq((i.toString, i % 4, i * 10)).toDF("_id", "k", "v"))
      // cold start: puts 1..3 stay under the threshold (lag 0,1,2), the
      // put that crosses it compacts and materializes the snapshot
      var firstServedAt = 0
      (1 to 6).foreach { i =>
        put(i)
        if (firstServedAt == 0 && db.currentSnapshotIfValid("ac_t").isDefined)
          firstServedAt = i
      }
      assert(firstServedAt > 0 && firstServedAt <= 4,
        s"snapshot must self-materialize within maxLag+2 puts, " +
          s"first served after put #$firstServedAt")
      // steady state: every write invalidates (correct), and the backlog
      // never exceeds maxLag+1 writes before a trigger re-materializes —
      // count the longest live-resolution window over a write stream
      var gap = 0; var maxGap = 0
      (7 to 18).foreach { i =>
        put(i)
        if (db.currentSnapshotIfValid("ac_t").isDefined) gap = 0
        else { gap += 1; maxGap = math.max(maxGap, gap) }
      }
      assert(maxGap <= 3, // maxLag + 1
        s"live-resolution window must be bounded by maxLag+1 writes, saw $maxGap")
      // reads stay correct throughout (snapshot or live)
      val cur = graft.bitemporal.Bitemporal.current(db.events("ac_t"))
      assert(cur.count() === 18L)
      // a table WITHOUT a declared layout is never auto-rewritten
      (1 to 6).foreach(i =>
        db.putDocs("plain_t", Seq((i.toString, i)).toDF("_id", "v")))
      assert(db.blockLag("plain_t") === 5L,
        "undeclared table must keep its backlog (no surprise rewrites)")
    } finally spark.conf.unset("spark.graft.autoCompact.maxLag")
  }

  test("iid-bucketed EVENT LOG: after compaction Bitemporal.asOf plans " +
      "with ZERO exchanges (the resolve windows ride the storage " +
      "bucketing); a fresh session re-attaches from storage meta alone; " +
      "any append invalidates back to the flat path with equal results") {
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft-evlayout").toString
    val db = new graft.bitemporal.XtDb(spark, root)
    db.putDocs("ev", spark.range(1, 2001)
      .selectExpr("id AS _id", "id * 7 AS v"))
    db.putDocs("ev", spark.range(1, 1001)
      .selectExpr("id AS _id", "id * 9 AS v"))
    val flatRows = db.asOf("ev").select("_id", "v")
      .as[(Long, Long)].collect().toSet
    assert(flatRows.size == 2000 && flatRows.contains((500L, 4500L)))
    // uncompacted: the resolve window pays the per-query _iid exchange
    assert(Explain.report(db.asOf("ev")).shuffleExchanges >= 1,
      "flat log resolve is expected to exchange")

    db.compact("ev")
    assert(db.bucketedEventsIfValid("ev").isDefined,
      "compaction must leave a storage-verified bucketed event log")
    val asof = db.asOf("ev")
    assert(Explain.report(asof).shuffleExchanges === 0,
      s"compacted as-of resolve must not exchange:\n" +
        s"${asof.queryExecution.executedPlan}")
    assert(asof.select("_id", "v").as[(Long, Long)].collect().toSet
      == flatRows, "bucketed resolve must equal the flat resolve")

    // fresh session: the registration is recovered from _evmeta.json +
    // the files alone (newSession SHARES the catalog, so drop the
    // registration first to force the re-attach path a fresh process
    // would take)
    spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("graft_ev_"))
      .foreach(n => spark.sql(s"DROP TABLE IF EXISTS $n"))
    val s2 = spark.newSession()
    val db2 = new graft.bitemporal.XtDb(s2, root)
    val asof2 = db2.asOf("ev")
    assert(Explain.report(asof2).shuffleExchanges === 0,
      "fresh session must re-attach the bucketed event log from storage")
    assert(asof2.select("_id", "v").as[(Long, Long)].collect().toSet
      == flatRows)

    // an append invalidates the bucketed serving (fingerprint) — reads
    // fall back to flat over bucketed + appended files, still correct
    db.putDocs("ev", Seq((5000L, 1L)).toDF("_id", "v"))
    assert(db.bucketedEventsIfValid("ev").isEmpty,
      "append must invalidate bucketed event serving")
    val afterAppend = db.asOf("ev").select("_id", "v")
      .as[(Long, Long)].collect().toSet
    assert(afterAppend == flatRows + ((5000L, 1L)))
    // recompaction restores the zero-exchange serving
    db.compact("ev")
    assert(Explain.report(db.asOf("ev")).shuffleExchanges === 0)
  }

  test("declared layout for the WINDOW/AS-OF family (round 13): over " +
      "events bucketed on user_id, lead/lag windows and the fused as-of " +
      "join plan with ZERO exchanges and equal the flat results") {
    val dst = java.nio.file.Files
      .createTempDirectory("graft-winlayout").toString
    graft.storage.LayoutCatalog.ingestBucketed(spark,
      Tables.load(spark, sf, "events"), dst,
      graft.storage.LayoutCatalog.Layout("events", "user_id", 4,
        "bucketed_events"))
    val evB = Tables.load(spark, dst, "events")
    val evF = Tables.load(spark, sf, "events")

    // q31 shape: lead/lag window partitioned by the declared key
    def winOf(ev: org.apache.spark.sql.DataFrame) = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("event_id")
      ev.filter(col("user_id") < 20)
        .select(col("user_id"), col("event_id"), col("value"),
          lag("value", 1).over(w).as("prev"),
          lead("value", 1).over(w).as("next"))
    }
    val winB = winOf(evB)
    assert(Explain.report(winB).shuffleExchanges === 0,
      s"window over the declared layout must not exchange:\n" +
        s"${winB.queryExecution.executedPlan}")
    assert(winB.collect().map(_.toSeq).toSet ==
      winOf(evF).collect().map(_.toSeq).toSet)

    // q72 shape: fused as-of join (one scan + carry-forward window)
    def asofOf(ev: org.apache.spark.sql.DataFrame) =
      Joins.asOfJoinFused(
        ev.withColumn("ts_ms",
          expr("unix_micros(cast(ts as timestamp)) div 1000"))
          .select("user_id", "ts_ms", "event_id", "event_type", "value"),
        key = "user_id", ts = "ts_ms",
        isLeft = col("event_type") === "click",
        isRight = col("event_type") === "purchase",
        payload = Seq("value" -> "last_purchase"), tieBreak = "event_id")
        .select("user_id", "event_id", "last_purchase")
    val asofB = asofOf(evB)
    assert(Explain.report(asofB).shuffleExchanges === 0,
      s"fused as-of join over the declared layout must not exchange:\n" +
        s"${asofB.queryExecution.executedPlan}")
    assert(asofB.collect().map(_.toSeq).toSet ==
      asofOf(evF).collect().map(_.toSeq).toSet)
  }

  test("LayoutCatalog input hardening: a key/table carrying quote or " +
      "backtick characters is refused at declare, and a corrupt sidecar " +
      "surfaces a loud error instead of a silent flat read") {
    import graft.storage.LayoutCatalog
    val dir = java.nio.file.Files
      .createTempDirectory("graft-layout-harden").toString
    // a quote would break the hand-rolled JSON; a backtick would break the
    // CREATE TABLE identifier quoting — both must be refused up front
    for (badKey <- Seq("k\"ey", "k`ey", "k'ey", "", "k\ney")) {
      val e = intercept[IllegalArgumentException] {
        LayoutCatalog.declare(dir,
          LayoutCatalog.Layout("t", badKey, 8, "data"))
      }
      assert(e.getMessage.contains("layout"), s"for key '$badKey': $e")
    }
    intercept[IllegalArgumentException] {
      LayoutCatalog.declare(dir,
        LayoutCatalog.Layout("t\"bl", "k", 8, "data"))
    }
    intercept[IllegalArgumentException] {
      LayoutCatalog.declare(dir, LayoutCatalog.Layout("t", "k", 0, "data"))
    }
    // a sidecar that exists but does not parse is a LOUD error: the user
    // declared a layout, so quietly serving flat would hide the slope
    // regression the declaration exists to prevent
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "_graft_layout.corrupt.json"),
      """{"table":"corrupt","key":}""")
    val err = intercept[RuntimeException] {
      LayoutCatalog.read(dir, "corrupt")
    }
    assert(err.getMessage.contains("corrupt layout sidecar"))
    // absence is still a clean None (flat is the UNDECLARED default)
    assert(LayoutCatalog.read(dir, "never_declared").isEmpty)
    // a valid declaration round-trips
    LayoutCatalog.declare(dir, LayoutCatalog.Layout("ok", "k1", 4, "data"))
    assert(LayoutCatalog.read(dir, "ok")
      .contains(LayoutCatalog.Layout("ok", "k1", 4, "data")))
  }

  test("salted join equals plain join (inner)") {
    val li = Tables.load(spark, sf, "lineitem")
      .select(col("l_orderkey").as("o_orderkey"), col("l_quantity"))
    val o = Tables.load(spark, sf, "orders")
      .select("o_orderkey", "o_orderstatus")
    val salted = Joins.saltedJoin(li, o, Seq("o_orderkey"), salt = 4)
    val plain = li.join(o, Seq("o_orderkey"))
    assert(salted.count() === plain.count())
    assert(salted.except(plain).isEmpty && plain.except(salted).isEmpty)
  }

  test("salted join keeps left-join unmatched rows") {
    import spark.implicits._
    val l = Seq((1, "a"), (2, "b"), (99, "zz")).toDF("k", "lv")
    val r = Seq((1, 10.0), (2, 20.0)).toDF("k", "rv")
    val salted = Joins.saltedJoin(l, r, Seq("k"), salt = 4, joinType = "left")
    assert(salted.count() === 3)
    assert(salted.filter(col("k") === 99 && col("rv").isNull).count() === 1)
  }

  test("salted join spreads a hot key across salt values") {
    import spark.implicits._
    // one mega-key with varying payloads: scatter column must take >1 value
    val l = (1 to 1000).map(i => (42, i)).toDF("k", "payload")
    val scattered = l.withColumn("__salt",
      pmod(xxhash64(l.columns.map(col): _*), lit(4)).cast("int"))
    assert(scattered.select("__salt").distinct().count() > 1)
  }

  test("INCREMENTAL snapshot maintenance (round 14): after a large-table " +
      "FOLD the declared-key join serves zero-exchange from the folded " +
      "snapshot — updates, inserts, deletes, erases and key moves all " +
      "land; untouched snapshot buckets are copy-on-write-preserved") {
    import spark.implicits._
    spark.conf.set("spark.graft.autoCompact.maxLag", "-1")
    spark.conf.set("spark.graft.fullCompact.smallBytes", "0") // large path
    spark.conf.set("spark.graft.fullCompact.ratio", "1000.0") // never escalate
    try {
      val root = java.nio.file.Files
        .createTempDirectory("graft-snapfold").toString
      val db = new graft.bitemporal.XtDb(spark, root)
      db.declareLayout("ft", "k", 4)
      db.putDocs("ft", spark.range(1, 1001)
        .selectExpr("id AS _id", "CAST(id % 40 AS INT) AS k", "id * 3 AS v"))
      db.compact("ft")
      assert(db.currentSnapshotIfValid("ft").isDefined)
      val gen1 = db.dataDir("ft")
      def snapFiles(): Map[String, Long] = {
        def walk(f: java.io.File): Seq[java.io.File] =
          if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
          else Seq(f)
        walk(new java.io.File(db.dataDir("ft")))
          .filter(f => f.getPath.contains("_cs") &&
            f.getName.endsWith(".parquet"))
          .map(f => f.getAbsolutePath -> f.lastModified()).toMap
      }
      val files0 = snapFiles()
      assert(files0.nonEmpty)

      // delta confined to keys 0 and 1: update, insert, delete, erase,
      // and a key MOVE (id 40: k 0 -> 1) — at most two buckets touched
      db.putDocs("ft", Seq((80L, 0, 999L), (2001L, 0, 111L))
        .toDF("_id", "k", "v"))                        // update + insert
      db.putDocs("ft", Seq((40L, 1, 120L)).toDF("_id", "k", "v")) // key move
      db.deleteDocs("ft", Seq(Tuple1(120L)).toDF("_id"))          // delete
      db.eraseDocs("ft", Seq(Tuple1(160L)).toDF("_id"))           // erase
      assert(db.currentSnapshotIfValid("ft").isEmpty,
        "backlog must refuse the snapshot")

      assert(db.compactIncremental("ft"), "the fold must run")
      assert(db.dataDir("ft") === gen1,
        "fold path: no generation flip (this is NOT a full compact)")
      val snap = db.currentSnapshotIfValid("ft")
      assert(snap.isDefined,
        "the snapshot must serve again right after the FOLD")
      // content equals live resolution exactly
      val live = graft.bitemporal.Bitemporal.current(db.events("ft"))
        .select("_id", "k", "v").as[(Long, Int, Long)].collect().toSet
      val got = snap.get.select("_id", "k", "v")
        .as[(Long, Int, Long)].collect().toSet
      assert(got === live)
      assert(got.contains((80L, 0, 999L)) && got.contains((2001L, 0, 111L)))
      assert(got.contains((40L, 1, 120L)))
      assert(!got.exists(_._1 == 120L) && !got.exists(_._1 == 160L))
      // declared-key join: zero exchange on the snapshot side
      val dim = Seq((0, "a"), (1, "b"), (2, "c")).toDF("k", "tag")
        .repartition(4, col("k"))
      val j = snap.get.join(dim, Seq("k")).select("k", "v", "tag")
      assert(Explain.report(j).shuffleExchanges <= 1, // dim side only
        s"folded snapshot join must not shuffle the fact side:\n" +
          s"${j.queryExecution.executedPlan}")
      // copy-on-write: untouched buckets' files survive byte-identical
      val files1 = snapFiles()
      val survivors = files0.keySet.intersect(files1.keySet)
      assert(survivors.nonEmpty, "untouched snapshot buckets must survive")
      assert(survivors.forall(f => files0(f) == files1(f)))
      assert(files0.keySet.diff(files1.keySet).isEmpty ||
        files1.keySet.diff(files0.keySet).nonEmpty,
        "touched buckets must have replacement files")

      // second fold cycle: still valid, still correct
      db.putDocs("ft", Seq((2002L, 5, 222L)).toDF("_id", "k", "v"))
      assert(db.compactIncremental("ft"))
      val snap2 = db.currentSnapshotIfValid("ft")
      assert(snap2.isDefined)
      assert(snap2.get.count() === live.size + 1)
      // SQL front door serves the folded snapshot and matches live
      val eng = new graft.sql.XtSqlEngine(spark, db)
      val viaSql = eng.sql(
        "SELECT k, count(*) AS n FROM ft GROUP BY k ORDER BY k")
        .collect().map(_.toSeq).toSeq
      val liveAgg = graft.bitemporal.Bitemporal.current(db.events("ft"))
        .groupBy("k").agg(count(lit(1)).as("n")).orderBy("k")
        .collect().map(_.toSeq).toSeq
      assert(viaSql == liveAgg)
    } finally {
      spark.conf.unset("spark.graft.autoCompact.maxLag")
      spark.conf.unset("spark.graft.fullCompact.smallBytes")
      spark.conf.unset("spark.graft.fullCompact.ratio")
    }
  }

  test("fold-maintained snapshot records a FUTURE valid-time boundary " +
      "arriving in the delta: serves before it, refuses after it") {
    import spark.implicits._
    spark.conf.set("spark.graft.autoCompact.maxLag", "-1")
    spark.conf.set("spark.graft.fullCompact.smallBytes", "0")
    spark.conf.set("spark.graft.fullCompact.ratio", "1000.0")
    try {
      val root = java.nio.file.Files
        .createTempDirectory("graft-snapfold-vt").toString
      val db = new graft.bitemporal.XtDb(spark, root)
      db.declareLayout("fv", "k", 2)
      db.putDocs("fv", Seq(("1", 1, "now")).toDF("_id", "k", "v"))
      db.compact("fv")
      // the future-valid put arrives via a FOLD, not a full compact
      val soon = java.sql.Timestamp.from(
        java.time.Instant.now().plusSeconds(6))
      db.putDocs("fv", Seq(("2", 2, "soon")).toDF("_id", "k", "v"),
        validFrom = Some(lit(soon)))
      assert(db.compactIncremental("fv"))
      val snap = db.currentSnapshotIfValid("fv")
      assert(snap.isDefined, "snapshot valid before the folded boundary")
      assert(snap.get.count() === 1L, "future-valid row not yet current")
      val remain = soon.getTime - System.currentTimeMillis()
      Thread.sleep(math.max(500L, remain + 500L))
      assert(db.currentSnapshotIfValid("fv").isEmpty,
        "the folded delta's boundary must expire the snapshot")
      assert(graft.bitemporal.Bitemporal
        .current(db.events("fv")).count() === 2L)
      // round-14: the BOUNDARY fold revives the expired snapshot on the
      // next maintenance heartbeat — the activation is event-addressed
      // (VF/VT range scan names the flipped ids), no full compact needed
      assert(db.compactIfLagged("fv", maxLag = 50) === false)
      val revived = db.currentSnapshotIfValid("fv")
      assert(revived.isDefined,
        "the heartbeat's boundary fold must revive the expired snapshot")
      assert(revived.get.count() === 2L,
        "the activated row must be IN the revived snapshot")
      assert(revived.get.select("_id").as[String].collect().toSet ==
        Set("1", "2"))
    } finally {
      spark.conf.unset("spark.graft.autoCompact.maxLag")
      spark.conf.unset("spark.graft.fullCompact.smallBytes")
      spark.conf.unset("spark.graft.fullCompact.ratio")
    }
  }
}
