package graft

import graft.WritePoints._
import graft.bitemporal.XtDb
import graft.bitemporal.XtDb.WritePoint
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-15 storage: the aligned full compaction's commit order. The new
  * generation's manifest is STAGED under a gen-qualified name and
  * `_evmeta.json` is only superseded AFTER the pointer flip — so a crash
  * anywhere in the commit window can never destroy the old generation's
  * manifest (the only record of its levels/consumed live set) and can
  * never leave readers on a lossy flat fallback (ADVICE r14 #1, the
  * silent-data-loss window of the round-14 meta-then-pointer order).
  * Also pins the chunk-stride resume guard (ADVICE r14 #2) and the loud
  * refusal of a gen-ahead manifest artifact. */
class CommitOrderSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.builder(4).getOrCreate()

  private def newDb(tag: String): XtDb = new XtDb(spark,
    java.nio.file.Files.createTempDirectory(tag).toString)

  /** The (attempt-tagged, round 17) chunk dir for chunk-start `lo`
    * under a generation dir — `c<lo>.<tag>`. */
  private def chunkDir(genDir: String, lo: Int)
      : Option[java.nio.file.Path] = {
    val d = java.nio.file.Paths.get(genDir)
    if (!java.nio.file.Files.exists(d)) None
    else {
      val it = java.nio.file.Files.list(d).iterator()
      var found: Option[java.nio.file.Path] = None
      while (it.hasNext && found.isEmpty) {
        val p = it.next()
        val n = p.getFileName.toString
        if (n == s"c$lo" || n.startsWith(s"c$lo.")) found = Some(p)
      }
      found
    }
  }

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

  test("crash BETWEEN the flip and the promote: readers resolve the " +
      "staged gen-qualified manifest through the pointer; the next fold " +
      "promotes it and maintenance sweeps the staged file") {
    val db = newDb("commit-prepromote")
    val expect = levelsAndLeases(db, "t")
    val gen1 = db.dataDir("t")

    intercept[IllegalStateException] {
      crashAt(beforePromote)(db.compact("t"))
    }

    // pointer flipped; _evmeta.json still describes the OLD generation;
    // the staged manifest must carry the reads
    assert(db.dataDir("t") !== gen1, "pointer must have flipped")
    val tdir = new java.io.File(s"${db.root}/t")
    val staged = tdir.listFiles.map(_.getName)
      .filter(n => n.startsWith("_evmeta.") && n != "_evmeta.json")
    assert(staged.length === 1,
      s"staged gen-qualified manifest must exist: ${staged.toSeq}")
    assert(db.asOf("t").count() === expect,
      "reads in the window serve the NEW generation via the staged manifest")

    // the next maintenance write promotes the staged manifest; one more
    // cycle sweeps the now-redundant staged file
    db.compactIncremental("t")
    val rawGen = """"gen"\s*:\s*(\d+)""".r.findFirstMatchIn(
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"${db.root}/t/_evmeta.json")), "UTF-8"))
      .get.group(1).toInt
    assert(rawGen === 2, s"_evmeta.json must be promoted to gen 2: $rawGen")
    db.compactIncremental("t")
    val stagedAfter = tdir.listFiles.map(_.getName)
      .filter(n => n.startsWith("_evmeta.") && n != "_evmeta.json")
    assert(stagedAfter.isEmpty,
      s"staged manifest must be swept after promotion: ${stagedAfter.toSeq}")
    assert(db.asOf("t").count() === expect)
  }

  test("chunk-stride change between crash and resume RESTARTS the merge " +
      "(ADVICE r14 #2): no bucket range is ever served twice") {
    import spark.implicits._
    spark.conf.set("spark.graft.autoCompact.maxLag", "-1")
    spark.conf.set("spark.graft.fullCompact.chunkBuckets", "8")
    try {
      val db = newDb("commit-stride")
      db.putDocs("s", spark.range(1, 1001).selectExpr("id AS _id", "id AS v"))
      db.compact("s") // 16-bucket base ⇒ 2 chunks of 8
      db.putDocs("s", spark.range(1001, 1051)
        .selectExpr("id AS _id", "id AS v"))
      assert(db.compactIncremental("s"))
      intercept[IllegalStateException] {
        crashAt(afterChunks(1))(db.compact("s"))
      }
      // ops lowers the chunk size before retrying — the wide chunk c0
      // (buckets 0-7) is already on disk; a naive resume at stride 4
      // would skip lo=0 but rewrite buckets 4-7 again under c4
      spark.conf.set("spark.graft.fullCompact.chunkBuckets", "4")
      db.compact("s")
      assert(db.asOf("s").count() === 1050L,
        "post-resume row count must be exact (no duplicated bucket range)")
      assert(db.events("s").groupBy(col("_id")).count()
        .filter(col("count") > 1).count() === 0L,
        "no event may be served twice after the stride change")
      assert(db.asOf("s").select(max(col("_id"))).as[Long].head() === 1050L)
    } finally {
      spark.conf.unset("spark.graft.fullCompact.chunkBuckets")
    }
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
    // the real artifact: a FRESH gen-ahead manifest — levels/consumed/
    // excluded all empty (exactly what the pre-fix aligned rewrite wrote
    // over the old manifest before flipping the pointer)
    val p = java.nio.file.Paths.get(s"${db.root}/a/_evmeta.json")
    val js = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
    val ahead = js.replaceFirst(""""gen":\d+""", "\"gen\":99")
      .replaceFirst(""""levels":\[[^\]]*\]""", "\"levels\":[]")
      .replaceFirst(""""consumed":\[[^\]]*\]""", "\"consumed\":[]")
      .replaceFirst(""""excl":\[[^\]]*\]""", "\"excl\":[]")
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

  test("maintenance NEVER deletes an unparseable staged manifest " +
      "(ADVICE r15 #3): a racing instance's stage read mid-write must " +
      "survive the sweep; a parseable superseded stage is collected") {
    import spark.implicits._
    spark.conf.set("spark.graft.autoCompact.maxLag", "-1")
    val db = newDb("commit-sweepstage")
    db.putDocs("w", spark.range(1, 201).selectExpr("id AS _id", "id AS v"))
    db.compact("w")
    db.putDocs("w", spark.range(201, 221).selectExpr("id AS _id", "id AS v"))
    assert(db.compactIncremental("w"))
    // a half-written stage from a racing instance: unparseable bytes
    val tdir = s"${db.root}/w"
    val halfWritten = java.nio.file.Paths.get(s"$tdir/_evmeta.g7xyz.json")
    java.nio.file.Files.write(halfWritten,
      """{"v":2,"gen":7,"buck""".getBytes("UTF-8"))
    // a parseable stage the promoted manifest already supersedes
    val superseded = java.nio.file.Paths.get(s"$tdir/_evmeta.g0old.json")
    val cur = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$tdir/_evmeta.json")), "UTF-8")
    java.nio.file.Files.write(superseded,
      cur.replaceFirst(""""gen":\d+""", "\"gen\":0").getBytes("UTF-8"))
    // two maintenance cycles (the sweep runs on manifest writes)
    db.putDocs("w", spark.range(221, 231).selectExpr("id AS _id", "id AS v"))
    assert(db.compactIncremental("w"))
    db.putDocs("w", spark.range(231, 241).selectExpr("id AS _id", "id AS v"))
    assert(db.compactIncremental("w"))
    assert(java.nio.file.Files.exists(halfWritten),
      "an unreadable staged manifest must survive the sweep — it may be " +
        "a live commit's healing manifest read mid-write")
    assert(!java.nio.file.Files.exists(superseded),
      "a parseable superseded staged manifest must be collected")
    assert(db.asOf("w").count() === 240L)
  }

  test("VERDICT r15 #2 — sidecar ownership: a resume within a LIVE " +
      "attempt's lease never collaborates on its sidecar or dir (fresh " +
      "suffixed attempt, sidecar-silent); an EXPIRED lease is taken " +
      "over, resuming the dead attempt's dir and done chunks") {
    import spark.implicits._
    spark.conf.set("spark.graft.autoCompact.maxLag", "-1")
    spark.conf.set("spark.graft.fullCompact.chunkBuckets", "8")
    try {
      val db = newDb("commit-owner")
      db.putDocs("r", spark.range(1, 1001).selectExpr("id AS _id", "id AS v"))
      db.compact("r") // 16-bucket base ⇒ 2 chunks of 8
      db.putDocs("r", spark.range(1001, 1051)
        .selectExpr("id AS _id", "id AS v"))
      assert(db.compactIncremental("r"))
      // crash after chunk 1: a GRACEFUL failure releases the attempt
      // lease on the way out (quick restarts resume immediately; only a
      // hard kill leaves the lease to age)
      intercept[IllegalStateException] {
        crashAt(afterChunks(1))(db.compact("r"))
      }
      val scPath = java.nio.file.Paths.get(
        s"${db.root}/r/_compact_progress.json")
      val sc0 = new String(java.nio.file.Files.readAllBytes(scPath), "UTF-8")
      val dir1 = """"dir"\s*:\s*"([^"]*)"""".r
        .findFirstMatchIn(sc0).get.group(1)
      assert(""""owner"\s*:\s*"([^"]*)"""".r
        .findFirstMatchIn(sc0).get.group(1).isEmpty,
        "a graceful crash must release the attempt lease")
      // now simulate a LIVE foreign compactor owning this attempt: a
      // foreign token with a fresh heartbeat
      def rewriteSidecar(owner: String, hb: Long): String = {
        val cur = new String(
          java.nio.file.Files.readAllBytes(scPath), "UTF-8")
        val next = cur
          .replaceFirst(""""owner":"[^"]*"""", s""""owner":"$owner"""")
          .replaceFirst(""""hb":-?\d+""", s""""hb":$hb""")
        java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(
          s"${db.root}/r/._compact_progress.json.crc"))
        java.nio.file.Files.write(scPath, next.getBytes("UTF-8"))
        next
      }
      val sc1 = rewriteSidecar("foreign-live-attempt",
        System.currentTimeMillis())
      val c0 = chunkDir(s"${db.root}/r/$dir1", 0)
        .getOrElse(fail("chunk c0 landed"))
      val c0Before = java.nio.file.Files.list(c0).count()

      // LIVE lease (heartbeat is seconds old): the retry must not
      // resume dir1 — it completes in a fresh suffixed dir, and right
      // up to its commit point the "live" attempt's sidecar and chunk
      // files are untouched (after the commit, the orphan dir is the
      // winner's lazy GC's to collect — the doomed attempt fails
      // loudly at its own CAS either way)
      @volatile var atFlip: Option[(Boolean, Long, String)] = None
      withHook { case _: WritePoint.BeforeFlip =>
        val sc = new String(
          java.nio.file.Files.readAllBytes(scPath), "UTF-8")
        atFlip = Some((java.nio.file.Files.exists(c0),
          if (java.nio.file.Files.exists(c0))
            java.nio.file.Files.list(c0).count() else -1L,
          sc))
      }(db.compact("r"))
      assert(db.asOf("r").count() === 1050L)
      val committedDir = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"${db.root}/r/_gen")), "UTF-8")
        .trim.split(':').last
      assert(committedDir !== dir1,
        "a live foreign attempt's dir must never be resumed")
      val (c0There, c0Count, scAtFlip) = atFlip.get
      assert(c0There && c0Count === c0Before,
        "the live attempt's chunk files must be untouched at commit time")
      assert(scAtFlip === sc1,
        "a sidecar-silent loser must never rewrite the live sidecar")

      // EXPIRED foreign lease: crash again, stamp a foreign owner with
      // an ancient heartbeat — the takeover must resume the SAME dir
      // with the done chunk intact
      db.putDocs("r", spark.range(1051, 1101)
        .selectExpr("id AS _id", "id AS v"))
      assert(db.compactIncremental("r"))
      intercept[IllegalStateException] {
        crashAt(afterChunks(1))(db.compact("r"))
      }
      rewriteSidecar("foreign-dead-attempt", 1L)
      val dir2 = """"dir"\s*:\s*"([^"]*)"""".r.findFirstMatchIn(
        new String(java.nio.file.Files.readAllBytes(scPath), "UTF-8"))
        .get.group(1)
      val c0b = chunkDir(s"${db.root}/r/$dir2", 0)
        .getOrElse(fail("chunk c0 landed before the crash"))
      val c0Mtime = java.nio.file.Files.getLastModifiedTime(c0b)
      db.compact("r")
      val committed2 = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"${db.root}/r/_gen")), "UTF-8")
        .trim.split(':').last
      assert(committed2 === dir2,
        "an expired attempt must be taken over into the SAME dir")
      assert(java.nio.file.Files.getLastModifiedTime(c0b) === c0Mtime,
        "the dead attempt's completed chunk must not be rewritten")
      assert(db.asOf("r").count() === 1100L,
        "no chunk served twice, none lost")
      assert(db.events("r").groupBy(col("_id")).count()
        .filter(col("count") > 1).count() === 0L)

      // MISMATCHED inputs + LIVE foreign lease: a crashed attempt whose
      // fingerprint went stale (new data folded after the crash) but
      // whose sidecar a live foreign compactor now owns — the stale-dir
      // cleanup must NOT delete a live attempt's dir, and the retry
      // must still complete correctly in its own fresh dir
      db.putDocs("r", spark.range(1101, 1151)
        .selectExpr("id AS _id", "id AS v"))
      assert(db.compactIncremental("r"))
      intercept[IllegalStateException] {
        crashAt(afterChunks(1))(db.compact("r"))
      }
      val dir3 = """"dir"\s*:\s*"([^"]*)"""".r.findFirstMatchIn(
        new String(java.nio.file.Files.readAllBytes(scPath), "UTF-8"))
        .get.group(1)
      // stale the fingerprint: land and fold MORE data
      db.putDocs("r", spark.range(1151, 1201)
        .selectExpr("id AS _id", "id AS v"))
      assert(db.compactIncremental("r"))
      rewriteSidecar("foreign-live-stale-fp", System.currentTimeMillis())
      val d3 = java.nio.file.Paths.get(s"${db.root}/r/$dir3")
      assert(java.nio.file.Files.exists(d3))
      @volatile var d3AtFlip = false
      withHook { case _: WritePoint.BeforeFlip =>
        d3AtFlip = java.nio.file.Files.exists(d3)
      }(db.compact("r"))
      assert(d3AtFlip,
        "a LIVE foreign attempt's dir must not be deleted by the " +
          "stale-progress cleanup, even when its fingerprint mismatches")
      assert(db.asOf("r").count() === 1200L)
    } finally {
      spark.conf.unset("spark.graft.fullCompact.chunkBuckets")
    }
  }

  test("ADVICE r16 #1 — the lease heartbeat rides a BACKGROUND timer: " +
      "a chunk outlasting the lease keeps the heartbeat fresh (no " +
      "second compactor can deem the owner dead mid-chunk), and the " +
      "compaction commits normally") {
    import spark.implicits._
    spark.conf.set("spark.graft.autoCompact.maxLag", "-1")
    spark.conf.set("spark.graft.fullCompact.chunkBuckets", "8")
    spark.conf.set("spark.graft.fullCompact.ownerLeaseMs", "600")
    try {
      val db = newDb("commit-hb")
      db.putDocs("h", spark.range(1, 1001)
        .selectExpr("id AS _id", "id AS v"))
      db.compact("h") // 16-bucket base ⇒ 2 chunks of 8
      db.putDocs("h", spark.range(1001, 1051)
        .selectExpr("id AS _id", "id AS v"))
      assert(db.compactIncremental("h"))
      val scPath = java.nio.file.Paths.get(
        s"${db.root}/h/_compact_progress.json")
      // simulate a chunk that outlasts the 600ms lease: sleep 3 lease
      // periods after chunk 0, then check the sidecar's heartbeat age —
      // the background timer (period = lease/3) must have refreshed it
      @volatile var hbAge: Long = Long.MaxValue
      @volatile var fired = false
      withHook { case _: WritePoint.ChunkLanded if !fired =>
        fired = true
        Thread.sleep(1800)
        // the background timer REWRITES the sidecar concurrently and a
        // plain-FS write is not atomic — retry a torn/mid-write read
        // (reading later only sees a FRESHER heartbeat, so the age
        // bound below stays meaningful)
        var hb: Option[Long] = None
        val deadline = System.currentTimeMillis() + 2000
        while (hb.isEmpty && System.currentTimeMillis() < deadline) {
          val sc = new String(
            java.nio.file.Files.readAllBytes(scPath), "UTF-8")
          hb = """"hb"\s*:\s*(-?\d+)""".r.findFirstMatchIn(sc)
            .map(_.group(1).toLong)
          if (hb.isEmpty) Thread.sleep(20)
        }
        hbAge = System.currentTimeMillis() - hb.get
      }(db.compact("h"))
      assert(fired)
      // refreshed-on-chunk-commit-only would leave the heartbeat at
      // least sleep(1800ms) + chunk-0-job-duration old here; the
      // background timer (period 200ms) keeps it fresh. 1500ms bound =
      // strictly inside the sleep, with slack for a loaded machine.
      assert(hbAge <= 1500L,
        s"the heartbeat must be refreshed DURING a long chunk (age " +
          s"${hbAge}ms) — refreshed only on chunk commit, a live " +
          "owner would be taken over")
      assert(db.asOf("h").count() === 1050L)
    } finally {
      spark.conf.unset("spark.graft.fullCompact.chunkBuckets")
      spark.conf.unset("spark.graft.fullCompact.ownerLeaseMs")
    }
  }

  test("round 17 — `chunks` manifest fence: a loser attempt's " +
      "late-landing part files in its own tagged chunk dir are never " +
      "served as base rows (no duplicates), and the committed manifest " +
      "names its chunk dirs") {
    import spark.implicits._
    spark.conf.set("spark.graft.autoCompact.maxLag", "-1")
    spark.conf.set("spark.graft.fullCompact.chunkBuckets", "8")
    try {
      val db = newDb("commit-fence")
      db.putDocs("f", spark.range(1, 1001)
        .selectExpr("id AS _id", "id AS v"))
      db.compact("f")
      db.putDocs("f", spark.range(1001, 1051)
        .selectExpr("id AS _id", "id AS v"))
      assert(db.compactIncremental("f"))
      db.compact("f") // aligned rewrite → tagged chunk dirs + fence
      val meta = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"${db.root}/f/_evmeta.json")), "UTF-8")
      assert(meta.contains(""""chunks":["""),
        s"an aligned generation's manifest must carry the chunk fence: " +
          meta)
      assert(""""chunks"\s*:\s*\[([^\]]*)\]""".r.findFirstMatchIn(meta)
        .get.group(1).contains("c0."),
        "committed chunk dirs are attempt-tagged")
      val before = db.asOf("f").count()
      assert(before === 1050L)
      // a paused loser lands a COMPLETE copy of chunk 0 in its own
      // tagged dir after the winner committed — without the fence these
      // bucket-named files would read as duplicate base rows
      val gname = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"${db.root}/f/_gen")), "UTF-8")
        .trim.split(':').last
      val gdir = java.nio.file.Paths.get(s"${db.root}/f/$gname")
      val winner = chunkDir(gdir.toString, 0).getOrElse(fail("chunk c0"))
      val loser = gdir.resolve("c0.deadbeef")
      java.nio.file.Files.createDirectory(loser)
      val it = java.nio.file.Files.list(winner).iterator()
      while (it.hasNext) {
        val p = it.next()
        if (p.getFileName.toString.endsWith(".parquet"))
          java.nio.file.Files.copy(p,
            loser.resolve(p.getFileName.toString))
      }
      assert(db.asOf("f").count() === before,
        "unmanifested chunk dirs must be fenced out of base reads")
      assert(db.events("f").groupBy(col("_id")).count()
        .filter(col("count") > 1).count() === 0L,
        "a loser's late files must never serve as duplicate rows")
    } finally {
      spark.conf.unset("spark.graft.fullCompact.chunkBuckets")
    }
  }
}
