package graft.tools

import graft.{GraftSession, Tables}
import graft.operators.Similarity
import org.apache.spark.sql.functions._

/** Measure the IVF quality-cost frontier: recall@k against the exact
  * brute-force top-k, and wall time, across nprobe settings — the curve
  * every ANN deployment tunes against (BASELINE.md cites the cost knob
  * curves; this adds the QUALITY axis, the q196 metric swept).
  *
  * Corpus modes: `raw` probes the driver's embeddings table as-is — its
  * 25x replication makes every true neighbor an exact clone in the same
  * cell, saturating recall at 1.0 (BASELINE.md round-8's honest note).
  * `blend` derives an overlapping-cluster mixture deterministically
  * (vec i = w·e_i + (1−w)·e_{(7i+13) mod N}, w = 0.3 + 0.05·(i mod 10)):
  * points sit BETWEEN cluster centers, true neighbors cross cell
  * boundaries, and the recall/nprobe frontier becomes real.
  *
  * Usage: runMain graft.tools.AnnRecallProbe <sfDir> [nlist] [k]
  *        [nprobe,nprobe,...] [raw|blend]
  */
object AnnRecallProbe {

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val nlist = args.lift(1).map(_.toInt).getOrElse(64)
    val k = args.lift(2).map(_.toInt).getOrElse(10)
    val nprobes = args.lift(3).getOrElse("1,2,4,8,16")
      .split(",").map(_.trim.toInt).toSeq
    val mode = args.lift(4).getOrElse("raw")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.builder(cpus)
      .config("spark.sql.adaptive.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val raw = Tables.load(spark, dir, "embeddings")
    val emb = (if (mode == "blend") Similarity.blendedCorpus(raw) else raw)
      .persist()
    emb.count()
    val qFilter = col("vec_id") < 50
    val exact = Similarity.bruteForceTopK(
      emb, emb.filter(qFilter), "vec_id", "embedding", k).persist()
    exact.count()
    nprobes.foreach { np =>
      val times = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        val approx = Similarity.ivfTopK(emb, "vec_id", "embedding",
          dims = 64, nlist = nlist, nprobe = np, k = k, queryFilter = qFilter)
        val recall = Similarity.annRecall(approx, exact, k)
          .agg(avg(col("recall_c4") / 10000.0)).as[Double].head()
        ((System.nanoTime() - t0) / 1e9, recall)
      }
      println(f"mode=$mode nlist=$nlist nprobe=$np%-3d " +
        f"recall@$k=${times.head._2}%.3f best=${times.map(_._1).min}%.2fs")
    }
    spark.stop()
  }
}
