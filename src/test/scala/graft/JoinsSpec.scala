package graft

import graft.operators.Joins
import graft.tools.EngineMetrics
import org.apache.spark.SparkException
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Join-variant edge semantics (reference join.clj:516-524 single-join
  * error contract; mark-join 3VL). */
class JoinsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.builder(4).getOrCreate()

  import spark.implicits._

  test("single join: happy path keeps 0-or-1 matches, null-extends misses") {
    val left = Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "lv")
    val right = Seq((1, "x"), (2, "y")).toDF("k2", "rv")
    val out = Joins.singleJoinEqui(left, right, Seq("k"), Seq("k2"))
      .select("k", "rv").as[(Int, Option[String])].collect().toMap
    assert(out == Map(1 -> Some("x"), 2 -> Some("y"), 3 -> None))
  }

  test("single join: >1 match errors even when all payload columns are dropped") {
    val left = Seq((1, "a")).toDF("k", "lv")
    val dupRight = Seq((1, "x"), (1, "y")).toDF("k2", "rv")
    val joined = Joins.singleJoinEqui(left, dupRight, Seq("k"), Seq("k2"))
    // round-1 bug: guard lived on payload columns, so selecting only left
    // columns pruned it and the violation passed silently
    val ex = intercept[Exception] {
      joined.select("k").collect()
    }
    def messages(t: Throwable): String =
      if (t == null) "" else s"${t.getMessage} ${messages(t.getCause)}"
    assert(messages(ex).contains("single-join"))
  }

  test("asOfJoinFused ≡ asOfJoin when both sides are filters of one " +
      "relation; NULL-id interval LEFT join guard trips loudly on >1") {
    // fused equivalence: clicks/purchases interleaved per user, ties on ts
    val src = Seq(
      (1, 10L, 100L, "purchase", 5.0), (1, 20L, 101L, "click", 0.0),
      (1, 20L, 102L, "purchase", 7.0), (1, 20L, 103L, "click", 0.0),
      (1, 30L, 104L, "click", 0.0), (2, 5L, 200L, "click", 0.0),
      (2, 9L, 201L, "purchase", 3.0), (2, 9L, 202L, "click", 0.0),
      (3, 1L, 300L, "other", 9.0)
    ).toDF("user_id", "ts_ms", "event_id", "event_type", "value")
    val fused = Joins.asOfJoinFused(src, key = "user_id", ts = "ts_ms",
      isLeft = col("event_type") === "click",
      isRight = col("event_type") === "purchase",
      payload = Seq("value" -> "last_purchase"), tieBreak = "event_id")
      .select("user_id", "event_id", "last_purchase")
    val purchases = src.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts_ms"), col("event_id"),
        col("value").as("last_purchase"))
    val clicks = src.filter(col("event_type") === "click")
      .select("user_id", "ts_ms", "event_id")
    val general = Joins.asOfJoin(clicks, purchases, key = "user_id",
      leftTs = "ts_ms", rightTs = "ts_ms",
      payloadCols = Seq("last_purchase"), tieBreak = "event_id")
      .select("user_id", "event_id", "last_purchase")
    assert(fused.collect().map(_.toSeq).toSet ==
      general.collect().map(_.toSeq).toSet)
    assert(fused.count() === 5)

    // the ADVICE round-12 finding: >1 NULL-leftId rows would silently
    // lose unmatched left rows through the <=> anti probe — must refuse
    val l = Seq((Some(1L), 0L, 100L), (None, 0L, 100L), (None, 0L, 100L))
      .toDF("lid", "lf", "lt")
    val r = Seq((10L, 20L, "x")).toDF("rf", "rt", "tag")
    val e = intercept[Exception] {
      Joins.intervalJoinLeft(l, r, "lf", "lt", "rf", "rt",
        condition = lit(true), bucketSeconds = 100L, leftId = "lid",
        strategy = "bucket").collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("NULL")),
      s"guard must name the NULL-id violation: $e")
    // exactly one NULL-id row stays exact (the documented contract)
    val ok = Joins.intervalJoinLeft(
      Seq((Some(1L), 0L, 100L), (None, 0L, 100L)).toDF("lid", "lf", "lt"),
      r, "lf", "lt", "rf", "rt", condition = lit(true),
      bucketSeconds = 100L, leftId = "lid", strategy = "bucket")
    assert(ok.count() === 2)
  }

  test("mark join: 3VL null mark for null left keys") {
    val left = Seq[(java.lang.Integer, String)]((1, "a"), (null, "b"), (9, "c"))
      .toDF("k", "lv")
    val right = Seq(1, 2).toDF("k2")
    val out = Joins.markJoin(left, right, Seq("k"), Seq("k2"), "m")
      .select("lv", "m").as[(String, Option[Boolean])].collect().toMap
    assert(out == Map("a" -> Some(true), "b" -> None, "c" -> Some(false)))
  }

  // ---- intervalJoin ------------------------------------------------------

  private def periods(rows: Seq[(Long, String, String)], idCol: String,
      f: String, tc: String) =
    rows.toDF(idCol, "__f", "__t")
      .select(col(idCol), col("__f").cast("timestamp").as(f),
        col("__t").cast("timestamp").as(tc))

  /** Random-ish period fixture vs. a naive cross-join oracle: the bucketed
    * plan must produce row-identical pairs for every bucket width,
    * including widths much smaller and much larger than the periods. */
  test("interval join: pair-exact vs cross-join oracle across bucket widths") {
    val rnd = new scala.util.Random(7)
    def mk(n: Int, idBase: Long) = (0 until n).map { i =>
      val start = 1700000000L + rnd.nextInt(100000)
      val len = 1 + rnd.nextInt(5000)
      (idBase + i,
        java.time.Instant.ofEpochSecond(start).toString.replace("T", " ").dropRight(1),
        java.time.Instant.ofEpochSecond(start + len).toString.replace("T", " ").dropRight(1))
    }
    val l = periods(mk(60, 1000), "lid", "lf", "lt")
    val r = periods(mk(80, 9000), "rid", "rf", "rt")
    val oracle = l.crossJoin(r)
      .filter(Joins.overlapsCond(col("lf"), col("lt"), col("rf"), col("rt")))
      .select("lid", "rid").as[(Long, Long)].collect().toSet
    assert(oracle.nonEmpty, "fixture must produce overlapping pairs")
    for (w <- Seq(60L, 1800L, 86400L)) {
      val got = Joins.intervalJoin(l, r, "lf", "lt", "rf", "rt",
          Joins.overlapsCond(col("lf"), col("lt"), col("rf"), col("rt")),
          bucketSeconds = w, strategy = "bucket")
        .select("lid", "rid").as[(Long, Long)].collect()
      assert(got.length == got.toSet.size,
        s"w=$w: canonical-bucket emission must not duplicate pairs")
      assert(got.toSet == oracle, s"w=$w: pair set diverged from oracle")
    }
  }

  test("interval join: CONTAINS residual, empty side, and equi keys") {
    val l = periods(Seq((1L, "2024-01-01 00:00:00", "2024-01-01 10:00:00"),
      (2L, "2024-01-02 00:00:00", "2024-01-02 01:00:00")), "lid", "lf", "lt")
    val r = periods(Seq((10L, "2024-01-01 02:00:00", "2024-01-01 03:00:00"),
      (11L, "2024-01-01 09:00:00", "2024-01-01 11:00:00"),
      (12L, "2024-01-02 00:30:00", "2024-01-02 00:40:00")), "rid", "rf", "rt")
    val contained = Joins.intervalJoin(l, r, "lf", "lt", "rf", "rt",
        Joins.containsCond(col("lf"), col("lt"), col("rf"), col("rt")),
        bucketSeconds = 3600, strategy = "bucket")
      .select("lid", "rid").as[(Long, Long)].collect().toSet
    assert(contained == Set((1L, 10L), (2L, 12L))) // 11 overlaps, not contained
    // an empty side yields an empty result with the joined schema
    val empty = Joins.intervalJoin(l.filter(lit(false)), r,
      "lf", "lt", "rf", "rt",
      Joins.overlapsCond(col("lf"), col("lt"), col("rf"), col("rt")),
      bucketSeconds = 3600, strategy = "bucket")
    assert(empty.columns.toSeq ==
      Seq("lid", "lf", "lt", "rid", "rf", "rt"))
    assert(empty.count() == 0)
    // equi keys restrict the candidates before the residual
    val lk = l.withColumn("lgrp", col("lid") % 2)
    val rk = r.withColumn("rgrp", lit(0L))
    val keyed = Joins.intervalJoin(lk, rk, "lf", "lt", "rf", "rt",
        Joins.overlapsCond(col("lf"), col("lt"), col("rf"), col("rt")),
        bucketSeconds = 3600, equiKeys = Seq(("lgrp", "rgrp")),
        strategy = "bucket")
      .select("lid", "rid").as[(Long, Long)].collect().toSet
    assert(keyed == Set((2L, 12L))) // only lid=2 has lgrp=0
  }

  test("interval join: over-wide periods fail LOUDLY; horizon clamps " +
      "open-ended tops silently and correctly") {
    val l = periods(Seq((1L, "2024-01-01 00:00:00", "2030-01-01 00:00:00")),
      "lid", "lf", "lt")
    val r = periods(Seq((10L, "2024-01-01 01:00:00", "2024-01-01 02:00:00")),
      "rid", "rf", "rt")
    // 6 years of 1s buckets >> cap: raise_error, not silent truncation
    val ex = intercept[Exception] {
      Joins.intervalJoin(l, r, "lf", "lt", "rf", "rt",
        Joins.overlapsCond(col("lf"), col("lt"), col("rf"), col("rt")),
        bucketSeconds = 1, maxBucketsPerRow = 1000,
        strategy = "bucket").count()
    }
    def messages(t: Throwable): String =
      if (t == null) "" else s"${t.getMessage} ${messages(t.getCause)}"
    assert(messages(ex).contains("intervalJoin"))
    // with the same data, the horizon clamp bounds the explode at the max
    // period START (2024-01-01 01:00), so even 1h buckets stay tiny and
    // the open-ended-style span still joins exactly
    val got = Joins.intervalJoin(l, r, "lf", "lt", "rf", "rt",
        Joins.overlapsCond(col("lf"), col("lt"), col("rf"), col("rt")),
        bucketSeconds = 3600, maxBucketsPerRow = 10,
        strategy = "bucket")
      .select("lid", "rid").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 10L)))
  }

  test("interval join: malformed periods (from >= to) raise loudly in " +
      "BOTH strategies; null endpoints don't") {
    // a backwards period can satisfy the raw theta predicate while its
    // bucket cover is empty (and a zero-length one's cover flips with
    // bucket alignment) — without the guard, results would depend on the
    // physical plan. The reference rejects these at period construction
    // (temporal.clj:1907); intervalJoin mirrors that for its raw-column
    // API, identically under bucket and broadcast.
    val good = periods(Seq((10L, "2024-01-01 00:00:00",
      "2024-01-01 05:00:00")), "rid", "rf", "rt")
    def messages(t: Throwable): String =
      if (t == null) "" else s"${t.getMessage} ${messages(t.getCause)}"
    for (bad <- Seq(
        ("2024-01-01 03:00:00", "2024-01-01 01:00:00"),    // backwards
        ("2024-01-01 02:00:00", "2024-01-01 02:00:00"));   // zero-length
        strat <- Seq("bucket", "broadcast")) {
      val l = periods(Seq((1L, bad._1, bad._2)), "lid", "lf", "lt")
      val ex = intercept[Exception] {
        Joins.intervalJoin(l, good, "lf", "lt", "rf", "rt",
          Joins.overlapsCond(col("lf"), col("lt"), col("rf"), col("rt")),
          bucketSeconds = 3600, strategy = strat).count()
      }
      assert(messages(ex).contains("malformed period"),
        s"strategy=$strat period=$bad must raise the guard")
    }
    // null endpoints: legal (unbounded semantics belong to the caller's
    // predicate — raw nulls make the predicate null => no match), and
    // identical across strategies
    val ln = periods(Seq((1L, null, "2024-01-01 04:00:00"),
      (2L, "2024-01-01 01:00:00", null)), "lid", "lf", "lt")
    for (strat <- Seq("bucket", "broadcast")) {
      val got = Joins.intervalJoin(ln, good, "lf", "lt", "rf", "rt",
          Joins.overlapsCond(col("lf"), col("lt"), col("rf"), col("rt")),
          bucketSeconds = 3600, strategy = strat)
        .select("lid", "rid").as[(Long, Long)].collect().toSet
      assert(got == Set.empty[(Long, Long)], s"strategy=$strat")
    }
  }

  test("interval join LEFT OUTER: unmatched left rows null-extend; " +
      "matched rows equal the inner join") {
    val l = periods(Seq(
      (1L, "2024-01-01 00:00:00", "2024-01-01 01:00:00"),
      (2L, "2024-01-05 00:00:00", "2024-01-05 01:00:00"), // no partner
      (3L, "2024-01-01 00:30:00", "2024-01-01 02:00:00")),
      "lid", "lf", "lt")
    val r = periods(Seq(
      (10L, "2024-01-01 00:45:00", "2024-01-01 01:30:00"),
      (11L, "2024-01-02 00:00:00", "2024-01-02 01:00:00")), // no partner
      "rid", "rf", "rt")
    val out = Joins.intervalJoinLeft(l, r, "lf", "lt", "rf", "rt",
        Joins.overlapsCond(col("lf"), col("lt"), col("rf"), col("rt")),
        bucketSeconds = 3600, leftId = "lid", strategy = "bucket")
      .select(col("lid"), col("rid"))
      .as[(Long, Option[Long])].collect().toSet
    assert(out == Set((1L, Some(10L)), (3L, Some(10L)), (2L, None)))
  }

  test("interval join LEFT OUTER under a mega-key: one leftId matching " +
      "1e5 covers does NOT serialize into one task (max task's shuffle " +
      "read stays a fraction of the matches) and the result is exact") {
    // child session WITHOUT AQE partition-coalescing: the pin targets
    // KEY-skew (the r10 window shape forced all of one leftId's matches
    // into one task no matter the partition count). At this fixture's
    // tiny total (~100k records) AQE legitimately coalesces the whole
    // bucket-spread exchange into one read — an artifact that vanishes
    // at scale and would mask the property under test.
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "4")
    s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    import s.implicits._
    val w = 60L // bucketSeconds
    val base = 1700000000L
    val nR = 100000
    val buckets = 2000
    // one mega left period spanning `buckets` buckets + one lonely row
    def ts(sec: Long) = java.time.Instant.ofEpochSecond(sec)
      .toString.replace("T", " ").dropRight(1)
    // fixtures built IN the child session (periods() binds the outer
    // session's implicits — its DFs would execute with coalescing on)
    def childPeriods(rows: Seq[(Long, String, String)], idCol: String,
        f: String, tc: String) =
      rows.toDF(idCol, "__f", "__t")
        .select(col(idCol), col("__f").cast("timestamp").as(f),
          col("__t").cast("timestamp").as(tc))
    val l = childPeriods(Seq(
      (1L, ts(base), ts(base + buckets * w)),
      (2L, ts(base + 10 * buckets * w), ts(base + 10 * buckets * w + 30))),
      "lid", "lf", "lt")
    // rights spread across the left's span — every one matches lid=1
    val r = childPeriods((0 until nR).map { i =>
      val sec = base + (i % buckets) * w + (i / buckets) % (w - 2)
      (1000L + i, ts(sec), ts(sec + 1))
    }, "rid", "rf", "rt")
    val ((nMatched, nNull), ran) = EngineMetrics.during(spark) {
      val out = Joins.intervalJoinLeft(l, r, "lf", "lt", "rf", "rt",
        Joins.overlapsCond(col("lf"), col("lt"), col("rf"), col("rt")),
        bucketSeconds = w, leftId = "lid", strategy = "bucket",
        maxBucketsPerRow = 4096)
      val counts = out.groupBy(col("rid").isNull.as("isnull")).count()
        .as[(Boolean, Long)].collect().toMap
      (counts.getOrElse(false, 0L), counts.getOrElse(true, 0L))
    }
    val maxTask = (0L +: ran.taskShuffleReadRecords).max
    assert(nMatched == nR.toLong, s"every right must match: $nMatched")
    assert(nNull == 1L, s"exactly the lonely left row null-extends: $nNull")
    // the skew pin: the r10 window shape put all 1e5 match rows of lid=1
    // into ONE task; the pass-through shape spreads them by bucket
    assert(maxTask < nR / 2,
      s"mega-key must not serialize: max task read $maxTask of " +
        s"~$nR matches (total shuffled ${ran.shuffleReadRecords})")
  }

  test("interval join under AQE: a hot bucket is SPLIT by the skew-join " +
      "optimizer (the scaladoc's 'AQE handles skewed buckets' claim, " +
      "pinned) and the result stays pair-exact") {
    // child session: AQE + aggressive skew thresholds must not leak into
    // the other suites sharing this SparkContext
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "4")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    // AQE's own runtime broadcast conversion would turn these tiny test
    // sides into a BHJ (no skew machinery involved) — disable it so the
    // fixture exercises the SMJ skew split a big deployment would hit
    s.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.adaptive.enabled", "true")
    s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    s.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.0")
    s.conf.set(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
    s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
    import s.implicits._
    def ts(sec: Long) = java.time.Instant.ofEpochSecond(sec)
      .toString.replace("T", " ").dropRight(1)
    val base = 1700000000L
    // ONE hot bucket (3600s wide): thousands of rows both sides inside
    // it, a sprinkle of rows elsewhere
    val l = (1 to 4000).map(i => (i.toLong, ts(base + i % 1800),
        ts(base + i % 1800 + 30))) ++
      (1 to 20).map(i => (100000L + i, ts(base + 86400L * i),
        ts(base + 86400L * i + 30)))
    val r = (1 to 4000).map(i => (500000L + i, ts(base + (i * 7) % 1800),
        ts(base + (i * 7) % 1800 + 25))) ++
      (1 to 20).map(i => (900000L + i, ts(base + 86400L * i + 10),
        ts(base + 86400L * i + 40)))
    val lDf = l.toDF("lid", "lfs", "lts").select(col("lid"),
      col("lfs").cast("timestamp").as("lf"),
      col("lts").cast("timestamp").as("lt"))
    val rDf = r.toDF("rid", "rfs", "rts").select(col("rid"),
      col("rfs").cast("timestamp").as("rf"),
      col("rts").cast("timestamp").as("rt"))
    val joined = Joins.intervalJoin(lDf, rDf, "lf", "lt", "rf", "rt",
      Joins.overlapsCond(col("lf"), col("lt"), col("rf"), col("rt")),
      bucketSeconds = 3600, strategy = "bucket")
      .select("lid", "rid")
    // collect the DataFrame ITSELF (.as[...] would wrap a fresh, never-
    // executed QueryExecution and the adaptive plan below would be stale)
    val got = joined.collect().map(r => (r.getLong(0), r.getLong(1)))
    // pair-exact under AQE + skew handling
    val oracle = lDf.crossJoin(rDf)
      .filter(Joins.overlapsCond(col("lf"), col("lt"), col("rf"), col("rt")))
      .select("lid", "rid").as[(Long, Long)].collect().toSet
    assert(got.length == got.toSet.size, "no duplicate pairs under AQE")
    assert(got.toSet == oracle, "pair set diverged under AQE skew handling")
    assert(oracle.size > 10000, "fixture must be genuinely hot")
    // the EXECUTED adaptive plan (post-collect, isFinalPlan=true) shows
    // the skew split on the bucket join
    val planStr = joined.queryExecution.executedPlan.toString
    assert(planStr.contains("skew=true"),
      s"AQE must split the hot bucket (no skew=true in plan):\n" +
        planStr.take(2000))
  }

  test("interval join: bucketed plan is equi — no cartesian; without a " +
      "sidecar the only nested loops are 1-row horizon broadcasts; " +
      "broadcast fallback only when asked/auto-small") {
    val l = periods((1 to 200).map(i =>
      (i.toLong, s"2024-01-01 0${i % 10}:00:00", s"2024-01-01 0${i % 10}:30:00")),
      "lid", "lf", "lt")
    val r = periods((1 to 200).map(i =>
      (1000L + i, s"2024-01-01 0${i % 10}:15:00", s"2024-01-01 0${i % 10}:45:00")),
      "rid", "rf", "rt")
    val bucketed = Joins.intervalJoin(l, r, "lf", "lt", "rf", "rt",
      Joins.overlapsCond(col("lf"), col("lt"), col("rf"), col("rt")),
      bucketSeconds = 3600, strategy = "bucket")
    val rep = graft.plans.Explain.report(bucketed)
    assert(rep.sortMergeJoins + rep.shuffledHashJoins +
      rep.broadcastHashJoins >= 1,
      "the main path must be an equi join on the bucket")
    assert(rep.cartesianProducts == 0,
      "bucketed interval join must never plan a cartesian")
    // in-memory frames have no stats sidecar, so the horizon rides the
    // plan as 1-row broadcast aggregates: per side the combine + attach,
    // 4 BNLJs max, every broadcast side exactly one row — never O(n·m)
    assert(rep.nestedLoopJoins <= 4,
      s"only 1-row horizon broadcasts may nested-loop, got " +
        s"${rep.nestedLoopJoins}")
    // strategy=auto on these tiny frames picks the broadcast theta join —
    // the single-node-cheap path, by stats, exactly like the reference's
    // nested-loop on small inputs
    val auto = Joins.intervalJoin(l, r, "lf", "lt", "rf", "rt",
      Joins.overlapsCond(col("lf"), col("lt"), col("rf"), col("rt")),
      bucketSeconds = 3600)
    assert(graft.plans.Explain.report(auto).nestedLoopJoins == 1)
    // both strategies agree on the relation
    assert(bucketed.select("lid", "rid").as[(Long, Long)].collect().toSet ==
      auto.select("lid", "rid").as[(Long, Long)].collect().toSet)
  }

  test("interval join: closed-interval mode (inclusiveBounds) is " +
      "pair-exact vs a cross-join oracle, boundary-equality pairs " +
      "included, across bucket widths") {
    val rnd = new scala.util.Random(13)
    def mk(n: Int, idBase: Long) = (0 until n).map { i =>
      // hour-align ~1/3 of rows: exact cross-side boundary equalities are
      // the pairs where the closed cover is load-bearing (a half-open
      // cover silently misses them)
      val aligned = rnd.nextInt(3) == 0
      val start0 = 1700000000L + rnd.nextInt(100000)
      val start = if (aligned) start0 - start0 % 3600 else start0
      val len0 = 1 + rnd.nextInt(5000)
      val len = if (aligned) 3600L * (1 + len0 % 3) else len0
      def ts(s: Long) = java.time.Instant.ofEpochSecond(s).toString
        .replace("T", " ").dropRight(1)
      (idBase + i, ts(start), ts(start + len))
    }
    val l = periods(mk(60, 1000), "lid", "lf", "lt")
    val r = periods(mk(80, 9000), "rid", "rf", "rt")
    val closedCond = col("lf") <= col("rt") && col("rf") <= col("lt")
    val oracle = l.crossJoin(r).filter(closedCond)
      .select("lid", "rid").as[(Long, Long)].collect().toSet
    val strictOracle = l.crossJoin(r)
      .filter(Joins.overlapsCond(col("lf"), col("lt"), col("rf"), col("rt")))
      .select("lid", "rid").as[(Long, Long)].collect().toSet
    assert(oracle.size > strictOracle.size,
      "fixture must contain boundary-equality pairs (closed strictly wider)")
    for (w <- Seq(60L, 1800L, 86400L)) {
      val got = Joins.intervalJoin(l, r, "lf", "lt", "rf", "rt",
          closedCond, bucketSeconds = w, strategy = "bucket",
          inclusiveBounds = true)
        .select("lid", "rid").as[(Long, Long)].collect()
      assert(got.length == got.toSet.size,
        s"w=$w: canonical-bucket emission must not duplicate pairs")
      assert(got.toSet == oracle, s"w=$w: pair set diverged from oracle; " +
        s"missing=${(oracle -- got.toSet).take(5)}")
    }
    // inclusive mode legalizes instant periods (from == to): an instant
    // inside a partner's closed period matches
    val inst = periods(Seq(
      (1L, "2024-01-01 02:00:00", "2024-01-01 02:00:00")), "lid", "lf", "lt")
    val part = periods(Seq(
      (10L, "2024-01-01 01:00:00", "2024-01-01 02:00:00"), // touches at end
      (11L, "2024-01-01 03:00:00", "2024-01-01 04:00:00")), "rid", "rf", "rt")
    val got = Joins.intervalJoin(inst, part, "lf", "lt", "rf", "rt",
        closedCond, bucketSeconds = 3600, strategy = "bucket",
        inclusiveBounds = true)
      .select("lid", "rid").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 10L)))
  }

  test("interval join: sidecar-sourced horizon plans with ZERO extra " +
      "scans and ZERO build-time jobs; LEFT face reads stay a small " +
      "constant per side (matched pass-through + skinny id branch + " +
      "anti join — never a window over the join output)") {
    val dir = java.nio.file.Files.createTempDirectory("ij_sidecar").toFile
    try {
      val lRaw = periods((1 to 400).map(i =>
        (i.toLong, s"2024-01-01 ${"%02d".format(i % 24)}:00:00",
          s"2024-01-01 ${"%02d".format(i % 24)}:40:00")),
        "lid", "lf", "lt")
      val rRaw = periods((1 to 300).map(i =>
        (1000L + i, s"2024-01-01 ${"%02d".format(i % 24)}:20:00",
          s"2024-01-01 ${"%02d".format(i % 24)}:59:00")),
        "rid", "rf", "rt")
      lRaw.coalesce(1).write.parquet(s"$dir/l")
      rRaw.coalesce(1).write.parquet(s"$dir/r")
      graft.plans.StatsSidecar.analyze(spark, s"$dir/l")
      graft.plans.StatsSidecar.analyze(spark, s"$dir/r")
      val l = spark.read.parquet(s"$dir/l")
      val r = spark.read.parquet(s"$dir/r")

      // 1) operator BUILD + plan materialization runs ZERO jobs (the r9
      //    shape ran two full-scan max() jobs here — at optimizer-rewrite
      //    time for SQL queries)
      val ((inner, left), built) = EngineMetrics.during(spark) {
        val inner = Joins.intervalJoin(l, r, "lf", "lt", "rf", "rt",
          Joins.overlapsCond(col("lf"), col("lt"), col("rf"), col("rt")),
          bucketSeconds = 3600, strategy = "bucket")
        val left = Joins.intervalJoinLeft(l, r, "lf", "lt", "rf", "rt",
          Joins.overlapsCond(col("lf"), col("lt"), col("rf"), col("rt")),
          bucketSeconds = 3600, leftId = "lid", strategy = "bucket")
        inner.queryExecution.executedPlan // force planning
        left.queryExecution.executedPlan
        (inner, left)
      }
      assert(built.jobs == 0,
        s"sidecar horizon must plan job-free, fired ${built.jobs}")

      // 2) with the sidecar the plan has NO horizon aggregates at all:
      //    zero nested loops, pure bucket equi join
      val rep = graft.plans.Explain.report(inner)
      assert(rep.nestedLoopJoins == 0 && rep.cartesianProducts == 0,
        "sidecar horizon must remove every in-plan horizon branch")

      // 3) LEFT face reads: matched pass-through (one read per side) +
      //    the skinny matched-id branch (one pruned read per side) + the
      //    anti join's left re-read + the null-endpoint left branch — a
      //    SMALL CONSTANT per side (≤ 4 left / ≤ 2 right), and in
      //    exchange NO stage re-partitions the join output by leftId
      //    (the r10 window shape did, and a mega-key serialized there).
      val maxIn = 4L * 400L + 2L * 300L
      val (rows, ran) = EngineMetrics.during(spark)(left.collect())
      val read = ran.inputRecords
      assert(read >= 700L && read <= maxIn,
        s"expected a small constant of reads (<= $maxIn records), " +
          s"read $read")
      // the skew pin: no window executes anywhere in the left face
      assert(!left.queryExecution.executedPlan.toString.contains("Window"),
        "left face must not window over the join output")
      // every left row survives exactly once unless matched
      assert(rows.map(_.getLong(0)).distinct.length == 400)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
      }
      rm(dir)
    }
  }
}
