package graft

import graft.operators.QualityModel
import graft.operators.TextAnalysis
import graft.tools.EngineMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Trained quality classifier contracts the SQL oracle cannot check:
  * the GD training loop actually learns (loss decreases, accuracy beats
  * the base rate), training is deterministic, and the fixed-point
  * scoring agrees with a driver-side replay. */
class QualityModelSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.builder(4).getOrCreate()

  private lazy val docs = Tables
    .load(spark, "/root/testdata/sf0.001", "documents")
    .select("doc_id", "text")

  private def label = TextAnalysis.qualityScore4(col("text")) >= 4950

  test("gradient descent learns: loss decreases and the distilled model " +
      "beats the base rate on its training labels") {
    val (model, losses) = QualityModel.train(
      docs, "text", "doc_id", label, dims = 64, iters = 40)
    assert(losses.length == 40)
    assert(losses.last < losses.head * 0.85,
      s"loss did not drop: ${losses.head} -> ${losses.last}")
    // accuracy against the heuristic it distills
    val scored = QualityModel.score(docs, "text", "doc_id", model, dims = 64)
    val joined = scored.join(
      docs.select(col("doc_id"), label.as("y")), Seq("doc_id"))
    val n = joined.count().toDouble
    val acc = joined.filter(col("keep") === col("y")).count() / n
    val baseRate = math.max(
      joined.filter(col("y")).count() / n,
      joined.filter(!col("y")).count() / n)
    assert(acc > baseRate + 0.1,
      f"model accuracy $acc%.3f does not beat the base rate $baseRate%.3f")
    assert(acc > 0.7, f"accuracy $acc%.3f too weak for a distilled rule")
  }

  test("training is deterministic; model shape carries dims weights + " +
      "intercept") {
    def weights() = QualityModel.train(
      docs, "text", "doc_id", label, dims = 32, iters = 5)._1
      .orderBy("idx").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val a = weights()
    assert(a.length == 33 && a.head._1 == -1L)
    assert(a == weights(), "re-training produced a different model")
  }

  test("training runs ONE fused aggregation job per iteration (gradW + " +
      "gradB + loss together, broadcast weights)") {
    def jobsFor(iters: Int): Int =
      EngineMetrics.during(spark) {
        QualityModel.train(docs, "text", "doc_id", label,
          dims = 32, iters = iters)
      }._2.jobs
    val base = jobsFor(1)
    val more = jobsFor(4)
    val perIter = (more - base) / 3.0
    // one collect per iteration; AQE materializes its shuffle stages as
    // sub-jobs of that single action, so allow the fixed stage fan-out —
    // the round-8 shape ran THREE actions/iter (loss, gradW, gradB),
    // each with its own stage cascade, landing far above this bound
    assert(perIter <= 8.0,
      f"expected <=8 jobs per training iteration, got $perIter%.1f " +
        s"(iters=1: $base, iters=4: $more)")
  }

  test("null labels are left out of training, not a task failure") {
    // every third doc unlabeled: the model equals one trained on the
    // labeled docs alone, and the loss is averaged over those docs
    val unlabeled = col("doc_id") % 3 === 0
    def weights(m: org.apache.spark.sql.DataFrame) =
      m.orderBy("idx").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val (withNulls, lossN) = QualityModel.train(docs, "text", "doc_id",
      when(!unlabeled, label), dims = 32, iters = 5)
    val (labeledOnly, lossL) = QualityModel.train(docs.filter(!unlabeled),
      "text", "doc_id", label, dims = 32, iters = 5)
    assert(weights(withNulls) == weights(labeledOnly))
    assert(lossN == lossL)
  }

  test("scoreColumn (streaming path) equals score (relational path) on " +
      "non-null text") {
    val (model, _) = QualityModel.train(
      docs, "text", "doc_id", label, dims = 32, iters = 5)
    val rel = QualityModel.score(docs, "text", "doc_id", model, dims = 32)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    val perRow = docs
      .select(col("doc_id"),
        QualityModel.scoreColumn(model, "text", dims = 32).as("score_c"))
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rel.nonEmpty && rel.sameElements(perRow))
  }

  test("fixed-point scoring replays exactly: intercept-only docs, and a " +
      "driver-side integer recompute agrees") {
    import spark.implicits._
    val tiny = Seq((1L, "alpha beta alpha"), (2L, ""), (3L, null))
      .toDF("doc_id", "text")
    val model = Seq((-1L, 100L)) ++ (0L until 16L).map(i => (i, (i + 1) * 10L))
    val modelDf = model.toDF("idx", "w_micro")
    val scored = QualityModel.score(tiny, "text", "doc_id", modelDf,
        dims = 16).orderBy("doc_id").collect()
    // driver replay: same md5-nibble index, integer arithmetic
    def idx(w: String): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(w.getBytes("UTF-8")).take(2).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(h, 16) % 16
    }
    val exp1 = 100L + "alpha beta alpha".split(" ")
      .map(w => (idx(w) + 1) * 10L).sum
    assert(scored(0).getLong(1) == exp1 && scored(0).getBoolean(2))
    // empty text: one empty-string token still maps to a feature
    val exp2 = 100L + (idx("") + 1) * 10L
    assert(scored(1).getLong(1) == exp2)
    // null text: intercept alone
    assert(scored(2).getLong(1) == 100L)
  }
}
