package graft

import graft.operators.Similarity
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Product-quantization contract on the real driver embeddings table. The
  * oracle gate keeps the seed-codebook variant DuckDB can replay (q144);
  * this spec pins what SQL cannot: Lloyd's monotone quantization error,
  * determinism, partitioning-independence of the fixed-point ADC sums, and
  * that trained codebooks do not hurt recall against the exact L2 ground
  * truth. */
class PqSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = GraftSession.builder(4).getOrCreate()

  private val dir = "/root/testdata/sf0.001"
  private val dims = 64 // embeddings are 64-dim at every sf
  private val m = 8
  private val ksub = 16

  test("seed codebooks: a codebook member encodes to its own code") {
    val emb = Tables.load(spark, dir, "embeddings")
    val (books, costs) = Similarity.trainPqCodebooks(
      emb, "vec_id", "embedding", dims, m, ksub, iters = 0)
    assert(costs.isEmpty)
    assert(books.length == m && books.forall(_.length == ksub))
    import spark.implicits._
    val codes = Similarity.pqEncode(emb, "vec_id", "embedding", books)
      .filter(col("vec_id") < ksub)
      .select(col("vec_id"), col("codes"))
      .as[(Long, Seq[Int])].collect()
    // vector v < ksub IS codebook entry v in every subspace: distance 0
    codes.foreach { case (vid, cs) =>
      assert(cs.length == m)
      assert(cs.forall(_ == vid.toInt),
        s"vec $vid should self-encode, got $cs")
    }
  }

  test("training cost is non-increasing and deterministic") {
    val emb = Tables.load(spark, dir, "embeddings")
    def run() = Similarity.trainPqCodebooks(
      emb, "vec_id", "embedding", dims, m, ksub, iters = 3)
    val (_, costs) = run()
    assert(costs.length == 3)
    costs.sliding(2).foreach { case Seq(a, b) =>
      assert(b <= a + 1e-9, s"quantization error increased: $costs")
    }
    assert(run()._2 == costs)
  }

  test("ADC fixed-point sums are independent of input partitioning") {
    val emb = Tables.load(spark, dir, "embeddings")
    def run(df: org.apache.spark.sql.DataFrame) =
      Similarity.pqTopK(df, "vec_id", "embedding", dims, m, ksub, k = 5,
          queryFilter = col("vec_id") < 10)
        .orderBy("query_id", "rank").collect().toSeq
    assert(run(emb) == run(emb.repartition(7)))
  }

  /** Exact squared-L2 top-k ground truth, driver-side (test corpus only). */
  private def exactTopK(emb: org.apache.spark.sql.DataFrame,
      k: Int): Set[(Long, Long)] = {
    import spark.implicits._
    val vecs = emb.select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .as[(Long, Seq[Double])].collect().map { case (i, v) => (i, v.toArray) }
    vecs.filter(_._1 < 10).flatMap { case (qid, qv) =>
      vecs.filter(_._1 != qid)
        .map { case (nid, nv) =>
          var d = 0.0; var i = 0
          while (i < qv.length) { val x = qv(i) - nv(i); d += x * x; i += 1 }
          (qid, nid, d)
        }
        .sortBy { case (_, nid, d) => (d, nid) }
        .take(k).map { case (q, n, _) => (q, n) }
    }.toSet
  }

  // Lloyd's guarantees mean quantization error decreases (pinned above) —
  // but NOT per-query recall, so recall assertions pin the two levers that
  // do move it: codebook resolution and exact re-ranking.
  test("finer codebooks and exact re-ranking improve recall") {
    import spark.implicits._
    val emb = Tables.load(spark, dir, "embeddings")
    val k = 10
    val exact = exactTopK(emb, k)

    def recallOf(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.select("query_id", "neighbor_id")
        .as[(Long, Long)].collect().toSet
      got.intersect(exact).size.toDouble / exact.size
    }
    val coarse = recallOf(Similarity.pqTopK(emb, "vec_id", "embedding",
      dims, m = 2, ksub = 4, k = k, queryFilter = col("vec_id") < 10))
    val fine = recallOf(Similarity.pqTopK(emb, "vec_id", "embedding",
      dims, m = 8, ksub = 16, k = k, queryFilter = col("vec_id") < 10))
    assert(fine > coarse,
      s"8x16 codebooks recall $fine not above 2x4 recall $coarse")

    val refined = recallOf(Similarity.pqTopKRefined(emb, "vec_id",
      "embedding", dims, m = 8, ksub = 16, k = k, rerank = 5 * k,
      queryFilter = col("vec_id") < 10))
    assert(refined >= fine - 1e-9,
      s"rerank recall $refined below plain ADC recall $fine")
    assert(refined > 0.5, s"refined recall unexpectedly low: $refined")
  }

  test("IVF-PQ: partition-independent, probe-monotone, trained path runs") {
    import spark.implicits._
    val emb = Tables.load(spark, dir, "embeddings")
    def run(df: org.apache.spark.sql.DataFrame, nprobe: Int, pqIters: Int = 0) =
      Similarity.ivfPqTopK(df, "vec_id", "embedding", dims,
          nlist = 8, nprobe = nprobe, m = m, ksub = ksub, k = 10,
          queryFilter = col("vec_id") < 10, pqIters = pqIters)
        .orderBy("query_id", "rank").collect().toSeq
    assert(run(emb, 2) == run(emb.repartition(7), 2))

    val exact = exactTopK(emb, 10)
    def recallOf(rows: Seq[org.apache.spark.sql.Row]): Double = {
      val got = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
      got.intersect(exact).size.toDouble / exact.size
    }
    val narrow = recallOf(run(emb, 1))
    val full = recallOf(run(emb, 8)) // nprobe = nlist: every cell probed
    assert(full >= narrow - 1e-9,
      s"full-probe recall $full below 1-probe recall $narrow")
    // this synthetic corpus is uniform random — PQ's worst case (no
    // cluster structure for 32-bit codes to exploit), so the absolute
    // floor is a sanity bound, not a quality claim; the orderings above
    // are the real contract
    assert(full > 0.1, s"full-probe IVF-PQ recall unexpectedly low: $full")

    // residual-trained codebooks: still deterministic end to end
    assert(run(emb, 2, pqIters = 2) == run(emb, 2, pqIters = 2))
  }

  test("re-ranked distances equal the exact distances for returned rows") {
    import spark.implicits._
    val emb = Tables.load(spark, dir, "embeddings")
    val got = Similarity.pqTopKRefined(emb, "vec_id", "embedding", dims,
        m, ksub, k = 5, rerank = 25, queryFilter = col("vec_id") < 3)
      .select("query_id", "neighbor_id", "dist_fp")
      .as[(Long, Long, Long)].collect()
    val vecs = emb.select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .as[(Long, Seq[Double])].collect().map { case (i, v) => i -> v.toArray }
      .toMap
    got.foreach { case (q, n, fp) =>
      val (qv, nv) = (vecs(q), vecs(n))
      var d = 0.0; var i = 0
      while (i < qv.length) { val x = qv(i) - nv(i); d += x * x; i += 1 }
      assert(fp == math.floor(d * 1e6).toLong, s"($q,$n): $fp")
    }
  }
}
