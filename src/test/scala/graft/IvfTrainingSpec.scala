package graft

import graft.operators.Similarity
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Lloyd's-iteration contract for the IVF centroid trainer, on the real
  * driver embeddings table. The oracle gate (q94) keeps the deterministic
  * lowest-id centroids DuckDB can replay; this spec pins the properties of
  * TRAINED centroids that SQL cannot: monotone convergence, the fixed-point
  * shape of the update, and that training does not hurt recall against the
  * exact brute-force ground truth. */
class IvfTrainingSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = GraftSession.builder(4).getOrCreate()

  private val dir = "/root/testdata/sf0.001"
  private val dims = 32

  test("training cost is non-increasing across Lloyd iterations") {
    val emb = Tables.load(spark, dir, "embeddings")
    val (cents, costs) = Similarity.trainIvfCentroids(
      emb, "vec_id", "embedding", dims, nlist = 8, iters = 4)
    assert(costs.length == 4)
    costs.sliding(2).foreach { case Seq(a, b) =>
      assert(b <= a + 1e-9, s"cost increased: $costs")
    }
    assert(cents.count() == 8)
    // spherical k-means: centroids are unit vectors
    import spark.implicits._
    val norms = cents.select("cn").as[Double].collect()
    assert(norms.forall(n => math.abs(n - 1.0) < 1e-9))
  }

  test("training is deterministic given the data") {
    val emb = Tables.load(spark, dir, "embeddings")
    def run() = Similarity.trainIvfCentroids(
      emb, "vec_id", "embedding", dims, nlist = 4, iters = 2)._2
    assert(run() == run())
  }

  test("trained centroids plug into ivfTopK and do not hurt recall") {
    import spark.implicits._
    val emb = Tables.load(spark, dir, "embeddings")
    val queryFilter = col("vec_id") < 20
    val k = 10
    val exact = Similarity.bruteForceTopK(emb, emb.filter(queryFilter),
        "vec_id", "embedding", k)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet

    def recall(trained: Option[org.apache.spark.sql.DataFrame]): Double = {
      val got = Similarity.ivfTopK(emb, "vec_id", "embedding", dims,
          nlist = 8, nprobe = 4, k = k, queryFilter = queryFilter,
          trainedCentroids = trained)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      got.intersect(exact).size.toDouble / exact.size
    }

    val (cents, _) = Similarity.trainIvfCentroids(
      emb, "vec_id", "embedding", dims, nlist = 8, iters = 3)
    val seeded = recall(None)
    val trained = recall(Some(cents))
    // converged Voronoi cells must not be worse than arbitrary seed cells
    // at equal nprobe budget (they are usually strictly better)
    assert(trained >= seeded - 1e-9,
      s"trained recall $trained < seeded recall $seeded")
    assert(trained > 0.5, s"trained recall unexpectedly low: $trained")
  }
}
