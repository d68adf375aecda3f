package graft

import graft.operators.{Dedup, Sampling}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Determinism and packing invariants for the sampling/sharding operators
  * — the properties that make hash sampling the right tool at 100 TB
  * (reproducible across reruns and partitionings; join-stable across
  * tables) and shard packing safe (no doc split, budget-bounded fill). */
class SamplingSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = GraftSession.builder(4).getOrCreate()

  private val dir = "/root/testdata/sf0.001"

  test("hash sampling is partition-independent and rate-monotone") {
    import spark.implicits._
    val d = Tables.load(spark, dir, "documents").select("doc_id")
    def ids(df: org.apache.spark.sql.DataFrame, rate: Int): Set[Long] =
      Sampling.sampleByHash(df, "doc_id", rate)
        .select("doc_id").as[Long].collect().toSet
    val at8k = ids(d, 8192)
    assert(ids(d.repartition(7), 8192) == at8k)
    assert(at8k.subsetOf(ids(d, 32768)), "lower rate must nest in higher")
    // ~1/8 of 500 docs, loose 3x band — deterministic, just not brittle
    assert(at8k.size > 20 && at8k.size < 180, s"size ${at8k.size}")
  }

  test("hash sampling is join-stable across tables sharing the key") {
    import spark.implicits._
    val d = Tables.load(spark, dir, "documents")
    val a = Sampling.sampleByHash(d.select("doc_id", "lang"), "doc_id", 16384)
    val b = Sampling.sampleByHash(d.select("doc_id", "n_chars"), "doc_id", 16384)
    assert(a.select("doc_id").as[Long].collect().toSet ==
      b.select("doc_id").as[Long].collect().toSet)
  }

  test("stratified sampling applies per-stratum thresholds exactly") {
    import spark.implicits._
    val d = Tables.load(spark, dir, "documents").select("doc_id", "lang")
    val kept = Sampling.stratifiedSample(d, "doc_id", "lang",
        rates16 = Seq("en" -> 32768, "de" -> 16384), default16 = 8192)
      .withColumn("h16", Sampling.hash16(col("doc_id")))
      .select("doc_id", "lang", "h16").as[(Long, String, Long)].collect()
    val all = d.withColumn("h16", Sampling.hash16(col("doc_id")))
      .select("doc_id", "lang", "h16").as[(Long, String, Long)].collect()
    def thr(lang: String): Long = lang match {
      case "en" => 32768L; case "de" => 16384L; case _ => 8192L
    }
    val expect = all.filter { case (_, l, h) => h < thr(l) }.map(_._1).toSet
    assert(kept.map(_._1).toSet == expect)
    assert(kept.forall { case (_, l, h) => h < thr(l) })
  }

  test("shard packing: recomputable shards, no split, monotone per bucket") {
    import spark.implicits._
    val budget = 1500L
    val packed = Sampling.packShards(
        Tables.load(spark, dir, "documents").select("doc_id", "n_chars"),
        "doc_id", ceil(col("n_chars") / 4.0).cast("long"),
        buckets = 4, budget = budget)
      .select("doc_id", "bucket", "tokens", "cum_tokens", "shard")
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(packed.length == 500)
    packed.foreach { case (_, _, tokens, cum, shard) =>
      assert(shard == math.floor((cum - tokens).toDouble / budget).toLong)
    }
    packed.groupBy(_._2).foreach { case (_, rows) =>
      val byOrder = rows.sortBy(_._4) // cum_tokens increases in pack order
      // running sum reconstructs, shards start at 0 and never decrease
      var run = 0L
      var lastShard = 0L
      assert(byOrder.head._5 == 0L)
      byOrder.foreach { case (_, _, tokens, cum, shard) =>
        run += tokens
        assert(cum == run, "cum_tokens must be the bucket running sum")
        assert(shard >= lastShard)
        assert(shard - lastShard <= math.max(1L, tokens / budget + 1))
        lastShard = shard
      }
      // a full shard's content stays within budget + one overshooting doc
      byOrder.groupBy(_._5).foreach { case (_, docs) =>
        val total = docs.map(_._3).sum
        val lastTokens = docs.maxBy(_._4)._3
        assert(total - lastTokens < budget,
          s"shard filled past budget before its last doc: $total")
      }
    }
  }

  test("fused shingle_md5 equals the composed transform(shingles, md5)") {
    import spark.implicits._
    val d = Tables.load(spark, dir, "documents")
      .filter(size(split(col("text"), " ")) >= 5).limit(200)
    val fused = d.select(col("doc_id"),
      graft.functions.ShingleMd5(col("text"), 5).as("hs"))
    val composed = d.select(col("doc_id"),
      transform(Dedup.shingles(col("text"), 5), s => md5(s)).as("hs"))
    val f = fused.as[(Long, Seq[String])].collect().sortBy(_._1)
    val c = composed.as[(Long, Seq[String])].collect().sortBy(_._1)
    assert(f.length == 200 && f.toSeq == c.toSeq)
  }

  test("LSH planning: S-curve math and threshold-closest factorization") {
    // probability is monotone in s and hits the exact closed form
    val p1 = Dedup.lshCandidateProbability(0.3, bands = 4, rowsPerBand = 4)
    val p2 = Dedup.lshCandidateProbability(0.8, bands = 4, rowsPerBand = 4)
    assert(p1 < p2)
    assert(math.abs(p2 - (1 - math.pow(1 - math.pow(0.8, 4), 4))) < 1e-12)
    // a high threshold wants long rows (steep curve), a low one many bands
    val (bHi, rHi) = Dedup.lshPlan(16, 0.9)
    val (bLo, rLo) = Dedup.lshPlan(16, 0.2)
    assert(rHi > rLo && bLo > bHi)
    // chosen midpoint is the closest achievable over EVERY b*r <= budget
    // (not just the maximal-b family) at several thresholds
    Seq(0.2, 0.5, 0.75, 0.88).foreach { t =>
      val (b, r) = Dedup.lshPlan(16, t)
      assert(b * r <= 16)
      val err = math.abs(math.pow(1.0 / b, 1.0 / r) - t)
      for (rr <- 1 to 16; bb <- 1 to 16 / rr)
        assert(err <= math.abs(math.pow(1.0 / bb, 1.0 / rr) - t) + 1e-12,
          s"(b=$b,r=$r) not closest for t=$t vs (b=$bb,r=$rr)")
    }
  }

  test("decontamination flags planted eval overlap and nothing else") {
    import spark.implicits._
    val d = Tables.load(spark, dir, "documents").select("doc_id", "text")
    // plant: eval doc 9001 copies doc 7's text; eval 9002 is novel
    val evalSet = d.filter(col("doc_id") === 7)
      .select(lit(9001L).as("doc_id"), col("text"))
      .unionAll(Seq((9002L, "zz yy xx ww vv uu tt ss rr qq"))
        .toDF("doc_id", "text"))
    val out = Dedup.contaminationCheck(d, evalSet, "text", "doc_id",
        n = 5, minOverlap = 2)
      .select("doc_id", "contaminated").as[(Long, Boolean)].collect().toMap
    assert(out(7L), "the copied doc must be flagged")
    // every flagged doc genuinely shares >=2 distinct 5-grams with doc 7's
    // text (the only eval content that exists in the corpus)
    val doc7 = d.filter(col("doc_id") === 7).select("text").as[String].head()
    val g7 = doc7.split(" ").sliding(5).map(_.mkString(" ")).toSet
    out.filter(_._2).keys.foreach { id =>
      val txt = d.filter(col("doc_id") === id).select("text").as[String].head()
      val shared = txt.split(" ").sliding(5).map(_.mkString(" ")).toSet
        .intersect(g7)
      assert(shared.size >= 2, s"doc $id flagged without shared 5-grams")
    }
  }
}
