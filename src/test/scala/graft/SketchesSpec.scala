package graft

import graft.functions.SketchProbes
import graft.operators.Sketches
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Sketch operators: the exactness contracts (heavy hitters ==
  * GROUP BY HAVING, bloom semi join == plain semi join), the
  * no-false-negative probe guarantees they rest on, hash compatibility
  * between the Spark-side sketch builders and the codegen'd probes, and
  * the HLL union-losslessness that makes sharded distinct counts equal
  * the single-pass sketch. Codegen fallback is forced fatal so the
  * generated probe code is proven to compile. */
class SketchesSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.builder(4)
    .config("spark.sql.codegen.fallback", "false")
    .getOrCreate()

  private def withFatalCodegen[A](body: => A): A = {
    val prev = spark.conf.get("spark.sql.codegen.fallback", "true")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try body finally spark.conf.set("spark.sql.codegen.fallback", prev)
  }

  /** Skewed synthetic corpus: key k appears ~1000/k times (Zipf-ish),
    * deterministic, both as long and string. */
  private def zipf(n: Int): DataFrame = {
    val rows = (1 to n).flatMap { k =>
      val reps = math.max(1, 1000 / k)
      Seq.fill(reps)(k)
    }
    spark.createDataset(rows.map(_.toLong))(
        org.apache.spark.sql.Encoders.scalaLong)
      .toDF("k")
      .withColumn("ks", concat(lit("key_"), col("k")))
      .repartition(4)
  }

  test("heavyHitters equals GROUP BY HAVING exactly (long keys)") {
    withFatalCodegen {
      val df = zipf(500).cache()
      try {
        val hh = Sketches.heavyHitters(df, "k", minCount = 40)
          .orderBy("k").collect().map(r => (r.getLong(0), r.getLong(1)))
        val exact = df.groupBy("k").agg(count(lit(1)).as("n"))
          .filter(col("n") >= 40)
          .orderBy("k").collect().map(r => (r.getLong(0), r.getLong(1)))
        assert(exact.nonEmpty, "fixture must have heavy hitters")
        assert(hh.toSeq == exact.toSeq)
      } finally df.unpersist()
    }
  }

  test("heavyHitters equals GROUP BY HAVING exactly (string keys)") {
    withFatalCodegen {
      val df = zipf(500).cache()
      try {
        val hh = Sketches.heavyHitters(df, "ks", minCount = 25)
          .orderBy("ks").collect().map(r => (r.getString(0), r.getLong(1)))
        val exact = df.groupBy("ks").agg(count(lit(1)).as("n"))
          .filter(col("n") >= 25)
          .orderBy("ks").collect().map(r => (r.getString(0), r.getLong(1)))
        assert(exact.nonEmpty)
        assert(hh.toSeq == exact.toSeq)
      } finally df.unpersist()
    }
  }

  test("cms probe never underestimates any present key (build/probe hash-compatible)") {
    withFatalCodegen {
      val df = zipf(300).cache()
      try {
        for (key <- Seq("k", "ks")) {
          val cms = df.stat.countMinSketch(col(key), 1e-3, 0.99, 7)
          // every row's estimate must be >= its key's true count: a single
          // hash mismatch between builder and probe would zero an estimate
          val bad = df.groupBy(key).agg(count(lit(1)).as("true_n"))
            .withColumn("est", SketchProbes.cmsEstimate(col(key), cms))
            .filter(col("est") < col("true_n"))
            .count()
          assert(bad == 0L, s"CMS underestimated $bad keys on column $key")
        }
      } finally df.unpersist()
    }
  }

  test("bloom probe has no false negatives; bloomSemiJoin equals plain semi join") {
    withFatalCodegen {
      val fact = zipf(400).cache()
      val dim = spark.range(1, 50, 3).toDF("d")
        .withColumn("ds", concat(lit("key_"), col("d"))).cache()
      try {
        // no false negatives: every dim key must probe true
        for ((fk, dk) <- Seq(("k", "d"), ("ks", "ds"))) {
          val bloom = dim.stat.bloomFilter(col(dk), 100, 0.03)
          val missed = dim.filter(
            !SketchProbes.bloomMightContain(col(dk), bloom)).count()
          assert(missed == 0L, s"bloom false negatives on $dk")

          val viaBloom = Sketches.bloomSemiJoin(fact, fk, dim, dk, 100, 0.03)
            .groupBy(fk).count().orderBy(fk)
            .collect().map(r => (r.get(0), r.getLong(1)))
          val plain = fact.join(dim.select(col(dk)),
              col(fk) === col(dk), "leftsemi")
            .groupBy(fk).count().orderBy(fk)
            .collect().map(r => (r.get(0), r.getLong(1)))
          assert(viaBloom.toSeq == plain.toSeq)
        }
      } finally { fact.unpersist(); dim.unpersist() }
    }
  }

  test("bloom pre-filter actually prunes non-matching fact rows") {
    // selectivity check: with dim = 3% of the key space at fpp 1%, the
    // pruned fact must be close to the true match count, far below the
    // full fact — the operator's scale story is this pre-shuffle cut
    val fact = zipf(1000).cache()
    val dim = spark.range(1, 1000, 33).toDF("d").cache() // ~31 keys
    try {
      val bloom = dim.stat.bloomFilter(col("d"), 100, 0.01)
      val total = fact.count()
      val kept = fact.filter(
        SketchProbes.bloomMightContain(col("k"), bloom)).count()
      val trueMatch = fact.join(dim, col("k") === col("d"), "leftsemi").count()
      assert(kept >= trueMatch, "bloom must keep every true match")
      // fpp 1% of the ~993 non-matching distinct keys; allow 5x slack
      assert(kept <= trueMatch + math.max(50L, (total - trueMatch) / 20),
        s"bloom pruned too little: kept $kept of $total, true $trueMatch")
    } finally { fact.unpersist(); dim.unpersist() }
  }

  test("sharded HLL union stays inside the error bound under any shard layout") {
    val base = zipf(800).withColumn("g", lit("all")).cache()
    try {
      // MEASURED while building this spec: the estimate is NOT a pure
      // function of the value set — Datasketches' HIP accumulator
      // advances per inserted coupon, so merge/insertion ORDER shifts
      // the estimate by a few counts (801/795/785 on this fixture for
      // 5-way/7-way/range sharding; exact 800). The operator contract
      // is therefore only the lgK error bound, which every layout must
      // satisfy; the gate query (q211) pins a single persisted estimate
      // so both engines judge the same numbers.
      val exact = base.select("k").distinct().count()
      val layouts = Seq(pmod(col("k"), lit(5)), pmod(col("k"), lit(7)),
        (col("k") > 100).cast("long"))
      for (shard <- layouts) {
        val est = Sketches.shardedDistinctCounts(
            base, Seq("g"), "k", shard, lgK = 12)
          .select("distinct_est").head().getLong(0)
        assert(math.abs(est - exact).toDouble / exact <= 0.05,
          s"HLL est $est vs exact $exact out of tolerance")
      }
    } finally base.unpersist()
  }

  test("heavyHittersByFraction resolves threshold from sketch totalCount") {
    val df = zipf(200).cache()
    try {
      val total = df.count()
      val (hh, thr) = Sketches.heavyHittersByFraction(df, "k", 0.01)
      assert(thr == math.max(2L, math.ceil(0.01 * total).toLong))
      val exact = df.groupBy("k").agg(count(lit(1)).as("n"))
        .filter(col("n") >= thr).count()
      assert(hh.count() == exact)
    } finally df.unpersist()
  }

  test("theta sketch set algebra is EXACT below nominal capacity") {
    import graft.functions.ThetaSketch
    // A = {0..599}, B = {300..899}: |A|=|B|=600, |A∩B|=300, |A\B|=300
    val df = spark.range(0, 600).toDF("v").withColumn("g", lit("A"))
      .unionAll(spark.range(300, 900).toDF("v").withColumn("g", lit("B")))
    val m = Sketches.groupOverlap(df, "g", "v", lgK = 12).head()
    assert((m.getAs[Long]("a_est"), m.getAs[Long]("b_est"),
      m.getAs[Long]("overlap_est"), m.getAs[Long]("only_a_est"))
      == ((600L, 600L, 300L, 300L)))
  }

  test("theta sketch estimates stay inside the published RSE above capacity") {
    import graft.functions.ThetaSketch
    // 40k distinct per group, 20k shared, lgK=10 (capacity 1024) => deep
    // estimation mode; RSE ~ 1/sqrt(1024) ~ 3.1%, allow 5 sigma
    val a = spark.range(0, 40000).toDF("v").withColumn("g", lit("A"))
    val b = spark.range(20000, 60000).toDF("v").withColumn("g", lit("B"))
    val m = Sketches.groupOverlap(a.unionAll(b), "g", "v", lgK = 10).head()
    def within(est: Long, exact: Long, tol: Double) =
      math.abs(est - exact).toDouble / exact <= tol
    assert(within(m.getAs[Long]("a_est"), 40000L, 0.16), m.toString)
    assert(within(m.getAs[Long]("b_est"), 40000L, 0.16), m.toString)
    // intersection error is relative to the union bound (60k), wider
    assert(within(m.getAs[Long]("overlap_est"), 20000L, 0.35), m.toString)
    assert(within(m.getAs[Long]("only_a_est"), 20000L, 0.35), m.toString)
  }

  test("theta sketch string and long updates hash canonically (merge across partitions)") {
    import graft.functions.ThetaSketch
    // the same logical set built in 1 partition vs 8 must estimate
    // identically (set property, no insertion-order state below capacity)
    val vals = (1 to 3000).map(i => s"user_$i")
    import spark.implicits._
    val one = vals.toDF("v").coalesce(1)
      .agg(ThetaSketch.estimate(ThetaSketch.sketchAgg(col("v"), 12)))
      .head().getLong(0)
    val many = spark.createDataset(vals).toDF("v").repartition(8)
      .agg(ThetaSketch.estimate(ThetaSketch.sketchAgg(col("v"), 12)))
      .head().getLong(0)
    assert(one == many && one == 3000L)
  }

  test("one-pass frequent items: no false negatives + true-count brackets " +
      "at any partitioning") {
    val df = zipf(400)
    for (parts <- Seq(1, 4, 13)) {
      val d = df.repartition(parts).cache()
      try {
        val thr = 30L
        val exact = d.groupBy("k").agg(count(lit(1)).as("n")).cache()
        val hh = exact.filter(col("n") >= thr)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
        assert(hh.nonEmpty)
        // maxMapSize must keep maxError (<= 3.5*N/M) under the threshold
        // or the guarantee is void — the operator REFUSES such configs:
        val ex = intercept[IllegalArgumentException] {
          Sketches.heavyHittersOnePass(d, "k", thr, maxMapSize = 64)
        }
        assert(ex.getMessage.contains("no-false-negative"))
        val cand = Sketches.heavyHittersOnePass(d, "k", thr, maxMapSize = 2048)
          .collect().map(r => (r.getLong(0),
            (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
        // NO_FALSE_NEGATIVES: every true heavy hitter is a candidate
        val missing = hh.keySet -- cand.keySet
        assert(missing.isEmpty, s"parts=$parts missed true HH: $missing")
        // brackets: lb <= n <= ub for every candidate with a true count
        val exactAll = exact.collect()
          .map(r => (r.getLong(0), r.getLong(1))).toMap
        cand.foreach { case (k, (est, lb, ub)) =>
          val n = exactAll(k)
          assert(lb <= n && n <= ub && lb <= est && est <= ub,
            s"parts=$parts k=$k n=$n brackets=($lb,$est,$ub)")
        }
        exact.unpersist()
      } finally d.unpersist()
    }
  }

  test("probe expressions reject unsupported key types loudly") {
    val df = zipf(10).withColumn("d", col("k").cast("double"))
    val cms = df.stat.countMinSketch(col("k"), 1e-3, 0.9, 1)
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      df.select(SketchProbes.cmsEstimate(col("d"), cms)).head()
    }
    assert(e.getMessage.toLowerCase.contains("cms_estimate"))
  }
}
