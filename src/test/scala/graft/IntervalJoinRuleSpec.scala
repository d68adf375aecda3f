package graft

import graft.plans.Explain
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** GraftIntervalJoin optimizer rule: SQL-level period-OVERLAPS theta
  * joins plan through the bucketed equi path instead of a cartesian
  * nested loop — including exact equivalence on degenerate rows (empty /
  * inverted / null-bounded periods), which route through the
  * expected-empty broadcast branches, and inclusive (`<=`) endpoint
  * shapes, which route through the CLOSED bucket cover. */
class IntervalJoinRuleSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.builder(4).getOrCreate()

  /** Disable size-based broadcast for the body so the rule's smallness
    * guard doesn't skip the tiny fixtures — and RESTORE it after: the
    * suite shares one session with every other suite in the JVM, and a
    * leaked -1 threshold breaks their broadcast-shape pins. */
  private def withNoBroadcast[A](body: => A): A = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try body finally spark.conf.set(key, prev)
  }

  private def fixture(): Unit = {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    def period(base: Long, i: Int): (String, String) = {
      val start = base + rnd.nextInt(86400 * 20)
      val len = 600 + rnd.nextInt(86400)
      def ts(s: Long) = java.time.Instant.ofEpochSecond(s).toString
        .replace("T", " ").dropRight(1)
      (ts(start), ts(start + len))
    }
    val base = 1700000000L
    val left = (1 to 120).map { i =>
      val (f, t) = period(base, i)
      i match { // plant degenerates: empty, inverted, null bounds
        case 5 => (i.toLong, f, f)
        case 6 => (i.toLong, t, f)
        case 7 => (i.toLong, null, t)
        case _ => (i.toLong, f, t)
      }
    }.toDF("lid", "lfs", "lts")
      .select(col("lid"), col("lfs").cast("timestamp").as("lf"),
        col("lts").cast("timestamp").as("lt"))
    val right = (1 to 150).map { i =>
      val (f, t) = period(base, i + 1000)
      i match {
        case 9 => (1000L + i, f, f)
        case 10 => (1000L + i, t, null)
        case _ => (1000L + i, f, t)
      }
    }.toDF("rid", "rfs", "rts")
      .select(col("rid"), col("rfs").cast("timestamp").as("rf"),
        col("rts").cast("timestamp").as("rt"))
    left.createOrReplaceTempView("lper")
    right.createOrReplaceTempView("rper")
  }

  /** Collect (lid, rid) pairs with the rule on, assert the main path is
    * an equi join, then compare against the rule-off nested-loop plan. */
  private def assertEquivalent(sql: String): Set[(Long, Long)] = {
    val rewritten = spark.sql(sql)
    val rep = Explain.report(rewritten)
    assert(rep.sortMergeJoins + rep.shuffledHashJoins +
      rep.broadcastHashJoins >= 1,
      s"the main path must be an equi join on the bucket: $sql")
    assert(rep.cartesianProducts == 0, s"cartesian in rewritten plan: $sql")
    val got = rewritten.collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    spark.conf.set("spark.graft.intervalJoin.enabled", "false")
    try {
      val expected = spark.sql(sql).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == expected,
        s"rewritten relation diverged for: $sql\n" +
          s"missing=${(expected -- got).take(5)} extra=${(got -- expected).take(5)}")
      got
    } finally spark.conf.set("spark.graft.intervalJoin.enabled", "true")
  }

  test("OVERLAPS theta join rewrites to the bucketed equi plan; results " +
      "equal the nested-loop plan exactly, degenerates included") {
    withNoBroadcast {
      fixture()
      spark.conf.set("spark.graft.intervalJoin.bucketSeconds", "21600")
      val sql = "SELECT lid, rid FROM lper JOIN rper " +
        "ON lf < rt AND rf < lt"
      val rewritten = spark.sql(sql)
      val rep = Explain.report(rewritten)
      assert(rep.sortMergeJoins + rep.shuffledHashJoins +
        rep.broadcastHashJoins >= 1,
        "the main path must be an equi join on the bucket")
      // two degenerate union branches + the one-row horizon broadcasts
      // (per side: the max-aggregate combine and its attach) may BNLJ;
      // every one of them has a broadcast side bounded by one row or by
      // the expected-empty degenerate set — never the O(n·m) loop
      assert(rep.nestedLoopJoins <= 6,
        s"only degenerate + 1-row horizon branches may nested-loop, " +
          s"got ${rep.nestedLoopJoins}")
      assert(rep.cartesianProducts == 0, "cartesian in the rewritten plan")
      val got = rewritten.collect().map(r => (r.getLong(0), r.getLong(1)))
        .toSet

      spark.conf.set("spark.graft.intervalJoin.enabled", "false")
      try {
        val naive = spark.sql(sql)
        val nrep = Explain.report(naive)
        assert(nrep.nestedLoopJoins + nrep.cartesianProducts >= 1,
          "sanity: without the rule this is a nested-loop/cartesian plan")
        val expected = naive.collect().map(r => (r.getLong(0), r.getLong(1)))
          .toSet
        assert(got == expected, "rewritten relation diverged")
        assert(got.nonEmpty)
      } finally spark.conf.set("spark.graft.intervalJoin.enabled", "true")
    }
  }

  test("period-struct OVERLAPS (coalesce end-of-time endpoints, open " +
      "periods included) routes through the bucketed plan") {
    withNoBroadcast {
      import graft.functions.Periods
      import spark.implicits._
      val base = 1700000000L
      def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
      // left periods ~1h, one OPEN-ENDED (null _to): without the horizon
      // clamp the end-of-time sentinel would explode to year-9999 buckets
      val left = (1 to 80).map { i =>
        val f = base + i * 1800L
        (i.toLong, ts(f), if (i == 3) null else ts(f + 3600L))
      }.toDF("lid", "lfrom", "lto")
        .select(col("lid"), Periods.period(col("lfrom"), col("lto")).as("lp"))
      val right = (1 to 90).map { i =>
        val f = base + 120000L + i * 1500L
        (1000L + i, ts(f), ts(f + 1800L))
      }.toDF("rid", "rfrom", "rto")
        .select(col("rid"), Periods.period(col("rfrom"), col("rto")).as("rp"))
      left.createOrReplaceTempView("lpd")
      right.createOrReplaceTempView("rpd")
      spark.conf.set("spark.graft.intervalJoin.bucketSeconds", "7200")
      val joined = left.join(right,
        Periods.overlaps(left("lp"), right("rp")))
        .select("lid", "rid")
      val rep = Explain.report(joined)
      assert(rep.sortMergeJoins + rep.shuffledHashJoins +
        rep.broadcastHashJoins >= 1,
        "struct-field endpoints must still match the overlap shape")
      val got = joined.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      spark.conf.set("spark.graft.intervalJoin.enabled", "false")
      try {
        val expected = left.join(right,
          Periods.overlaps(left("lp"), right("rp")))
          .select("lid", "rid")
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(got == expected && got.nonEmpty)
        // the open-ended period overlaps everything after its start
        assert(got.count(_._1 == 3L) == 90,
          "open-ended period must match every later right period")
      } finally spark.conf.set("spark.graft.intervalJoin.enabled", "true")
    }
  }

  test("fuzz: rule-on == rule-off across seeds, bucket widths, and " +
      "condition shapes — strict AND inclusive endpoints, degenerates, " +
      "nulls, and planted boundary equalities every run") {
    withNoBroadcast {
      import spark.implicits._
      def mkSide(seed: Int, n: Int, idBase: Long, pre: String): _root_.org.apache.spark.sql.DataFrame = {
        val rnd = new scala.util.Random(seed)
        def ts(s: Long) = java.time.Instant.ofEpochSecond(s).toString
          .replace("T", " ").dropRight(1)
        val base = 1700000000L
        (1 to n).map { i =>
          // hour-aligned starts/ends on ~1/3 of rows plant exact
          // cross-side boundary equalities — the pairs where strict and
          // inclusive shapes MUST differ and the closed cover is load-bearing
          val aligned = rnd.nextInt(3) == 0
          val start0 = base + rnd.nextInt(86400 * 10)
          val start = if (aligned) start0 - start0 % 3600 else start0
          val len0 = 1 + rnd.nextInt(3 * 86400) // 1s .. 3d: straddles widths
          val len = if (aligned) math.max(3600L, len0 - len0 % 3600) else len0
          val (f, t) = (ts(start), ts(start + len))
          rnd.nextInt(12) match { // ~25% degenerate/null rows per side
            case 0 => (idBase + i, f, f)    // empty
            case 1 => (idBase + i, t, f)    // inverted
            case 2 => (idBase + i, null, t) // null from
            case _ => (idBase + i, f, t)
          }
        }.toDF("id", "fs", "tss")
          .select(col("id").as(s"${pre}id"),
            col("fs").cast("timestamp").as(s"${pre}f"),
            col("tss").cast("timestamp").as(s"${pre}t"))
      }
      val shapes = Seq( // strict, inclusive, mixed, + extra residual conjunct
        "lf < rt AND rf < lt",
        "lf <= rt AND rf <= lt",
        "lf <= rt AND rf < lt",
        "lf < rt AND rf < lt AND lid % 3 != rid % 5",
        "lf <= rt AND rf <= lt AND lid % 3 != rid % 5")
      for (seed <- Seq(101, 202, 303); w <- Seq(600L, 21600L, 604800L);
          shape <- shapes) {
        mkSide(seed, 60, 1L, "l").createOrReplaceTempView("lfz")
        mkSide(seed + 7, 70, 5000L, "r").createOrReplaceTempView("rfz")
        spark.conf.set("spark.graft.intervalJoin.bucketSeconds", w.toString)
        val sql = s"SELECT lid, rid FROM lfz JOIN rfz ON $shape"
        val got = spark.sql(sql).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        spark.conf.set("spark.graft.intervalJoin.enabled", "false")
        val expected = try spark.sql(sql).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        finally spark.conf.set("spark.graft.intervalJoin.enabled", "true")
        assert(got == expected,
          s"seed=$seed w=$w shape='$shape': " +
            s"missing=${(expected -- got).take(5)} " +
            s"extra=${(got -- expected).take(5)}")
        assert(expected.nonEmpty, s"seed=$seed fixture degenerated")
      }
      // sanity: the planted alignments produce pairs where strict and
      // inclusive genuinely differ (else the <= coverage proves nothing)
      mkSide(101, 60, 1L, "l").createOrReplaceTempView("lfz")
      mkSide(108, 70, 5000L, "r").createOrReplaceTempView("rfz")
      val strict = spark.sql(
        "SELECT lid, rid FROM lfz JOIN rfz ON lf < rt AND rf < lt")
        .count()
      val incl = spark.sql(
        "SELECT lid, rid FROM lfz JOIN rfz ON lf <= rt AND rf <= lt")
        .count()
      assert(incl > strict,
        "fixture must contain boundary-equality pairs (<= strictly wider)")

      // LEFT OUTER over the same fuzz fixtures: rule-on == rule-off as a
      // MULTISET (unmatched rows included with exact multiplicity),
      // strict + inclusive shapes, every width
      for (seed <- Seq(101, 303); w <- Seq(600L, 21600L, 604800L);
          shape <- Seq("lf < rt AND rf < lt", "lf <= rt AND rf <= lt")) {
        mkSide(seed, 60, 1L, "l").createOrReplaceTempView("lfz")
        mkSide(seed + 7, 70, 5000L, "r").createOrReplaceTempView("rfz")
        spark.conf.set("spark.graft.intervalJoin.bucketSeconds", w.toString)
        val sql = s"SELECT lid, rid FROM lfz LEFT JOIN rfz ON $shape"
        def rows() = spark.sql(sql).collect()
          .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
          .toSeq.sorted
        val got = rows()
        spark.conf.set("spark.graft.intervalJoin.enabled", "false")
        val expected = try rows()
          finally spark.conf.set("spark.graft.intervalJoin.enabled", "true")
        assert(got == expected, s"LEFT seed=$seed w=$w shape='$shape'")
        assert(expected.exists(_._2 == -1L) && expected.exists(_._2 != -1L),
          s"LEFT fuzz fixture must exercise both faces (seed=$seed)")
      }
    }
  }

  test("rule defers when a cross-side equi conjunct exists; <= shapes " +
      "rewrite through the closed cover; single-side equality conjuncts " +
      "do NOT suppress the rewrite") {
    withNoBroadcast {
      fixture()
      spark.conf.set("spark.graft.intervalJoin.bucketSeconds", "21600")
      val equi = spark.sql("SELECT lid, rid FROM lper JOIN rper " +
        "ON lid = rid - 1000 AND lf < rt AND rf < lt")
      // cross-side equi key present: Catalyst keeps its own equi join; our
      // rule must not touch it (no union/degenerate branches appear)
      val erep = Explain.report(equi)
      assert(erep.nestedLoopJoins == 0 && erep.cartesianProducts == 0)
      // <= endpoints: rewritten through the CLOSED bucket cover — the
      // half-open cover would silently miss boundary-equality pairs
      assertEquivalent("SELECT lid, rid FROM lper JOIN rper " +
        "ON lf <= rt AND rf <= lt")
      // mixed strict/inclusive: also closed cover
      assertEquivalent("SELECT lid, rid FROM lper JOIN rper " +
        "ON lf < rt AND rf <= lt")
      // a literal/single-side equality conjunct is NOT a shuffle key
      // (l.x = const would leave the join on the cartesian NLJ path if it
      // suppressed the rewrite) — the rewrite must fire and stay exact
      assertEquivalent("SELECT lid, rid FROM lper JOIN rper " +
        "ON lf < rt AND rf < lt AND lid % 7 = 3")
    }
  }

  /** LEFT-OUTER comparison is a MULTISET (unmatched multiplicity matters,
    * Set would mask duplicate-row bugs). */
  private def assertLeftEquivalent(sql: String): Seq[(Long, Long)] = {
    val rewritten = spark.sql(sql)
    val rep = Explain.report(rewritten)
    assert(rep.sortMergeJoins + rep.shuffledHashJoins +
      rep.broadcastHashJoins >= 1,
      s"the main path must be an equi join on the bucket: $sql")
    assert(rep.cartesianProducts == 0, s"cartesian in rewritten plan: $sql")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toSeq.sorted
    val got = rows(rewritten)
    spark.conf.set("spark.graft.intervalJoin.enabled", "false")
    try {
      val expected = rows(spark.sql(sql))
      assert(got == expected,
        s"LEFT rewrite diverged for: $sql\n" +
          s"got=${got.take(8)}\nexp=${expected.take(8)}")
      got
    } finally spark.conf.set("spark.graft.intervalJoin.enabled", "true")
  }

  test("LEFT OUTER period join rewrites: unmatched (and degenerate) " +
      "left rows null-extend with exact multiset multiplicity; strict " +
      "and inclusive shapes both covered") {
    withNoBroadcast {
      fixture()
      spark.conf.set("spark.graft.intervalJoin.bucketSeconds", "21600")
      val got = assertLeftEquivalent(
        "SELECT lid, rid FROM lper LEFT JOIN rper ON lf < rt AND rf < lt")
      assert(got.exists(_._2 == -1L),
        "fixture must exercise the unmatched face (degenerates 5/6/7)")
      assert(got.exists(_._2 != -1L), "and the matched face")
      assertLeftEquivalent(
        "SELECT lid, rid FROM lper LEFT JOIN rper ON lf <= rt AND rf <= lt")
    }
  }

  test("LEFT OUTER rewrite keeps duplicate-left-row multiplicity exact " +
      "(whole-row anti join is set-based; duplicates pass together)") {
    withNoBroadcast {
      import spark.implicits._
      def ts(s: String) = java.sql.Timestamp.valueOf(s)
      // two IDENTICAL matched rows and two IDENTICAL unmatched rows
      Seq(
        (1L, ts("2024-01-01 00:00:00"), ts("2024-01-01 02:00:00")),
        (1L, ts("2024-01-01 00:00:00"), ts("2024-01-01 02:00:00")),
        (2L, ts("2024-06-01 00:00:00"), ts("2024-06-01 01:00:00")),
        (2L, ts("2024-06-01 00:00:00"), ts("2024-06-01 01:00:00")))
        .toDF("lid", "lf", "lt").createOrReplaceTempView("ldup")
      Seq((10L, ts("2024-01-01 01:00:00"), ts("2024-01-01 03:00:00")))
        .toDF("rid", "rf", "rt").createOrReplaceTempView("rdup")
      spark.conf.set("spark.graft.intervalJoin.bucketSeconds", "21600")
      val got = assertLeftEquivalent(
        "SELECT lid, rid FROM ldup LEFT JOIN rdup ON lf < rt AND rf < lt")
      assert(got == Seq((1L, 10L), (1L, 10L), (2L, -1L), (2L, -1L)),
        s"got $got")
    }
  }
}
