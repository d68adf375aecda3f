package graft

import graft.operators.Similarity
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The zero-shuffle cell assignment (NearestCells) must be
  * row-for-row identical to the crossJoin + row_number window formulation
  * it replaced (which the DuckDB oracles still use) — including the
  * (sim DESC, cent_id ASC) tie order and nprobe truncation. */
class NearestCellsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.builder(4)
    // make Janino failures in NearestCells.doGenCode FATAL instead of a
    // silent interpreted fallback — these tests then prove the generated
    // code compiles, not just that eval agrees with the window
    .config("spark.sql.codegen.fallback", "false")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"

  private def assignments(nlist: Int, nprobe: Int)
      : (Array[(Long, Long, Int)], Array[(Long, Long, Int)]) = {
    // getOrCreate may hand back another suite's session — force the
    // runtime conf so codegen failures stay fatal here regardless
    // (restored in the finally so other suites keep the default)
    val prevFallback = spark.conf.get("spark.sql.codegen.fallback", "true")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try doAssignments(nlist, nprobe)
    finally spark.conf.set("spark.sql.codegen.fallback", prevFallback)
  }

  private def doAssignments(nlist: Int, nprobe: Int)
      : (Array[(Long, Long, Int)], Array[(Long, Long, Int)]) = {
    val p = Similarity.prepared(
      Tables.load(spark, sf, "embeddings"), "embedding")
    val centroids = p.orderBy(col("vec_id")).limit(nlist)
      .select(col("vec_id").as("cent_id"), col("__vecd").as("cv"),
        col("__nrm").as("cn"))

    // reference formulation: the n×nlist window rank (oracle shape)
    val wAssign = org.apache.spark.sql.expressions.Window
      .partitionBy("vec_id").orderBy(col("__csim").desc, col("cent_id"))
    val expected = p.crossJoin(broadcast(centroids))
      .withColumn("__csim",
        Similarity.dot(col("__vecd"), col("cv")) / (col("__nrm") * col("cn")))
      .withColumn("__crank", row_number().over(wAssign))
      .filter(col("__crank") <= nprobe)
      .select(col("vec_id"), col("cent_id"), col("__crank"))

    // shipped formulation: per-row NearestCells top-nprobe
    val (cids, cvecs, cnorms, _) =
      Similarity.collectCentroidModel(centroids)
    val got = p.select(col("vec_id"), posexplode(graft.functions.NearestCells(
        col("__vecd"), col("__nrm"), cids, cvecs, cnorms, nprobe)))
      .select(col("vec_id"), col("col").as("cent_id"),
        (col("pos") + 1).as("__crank"))

    def toArr(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .sortBy(identity)
    (toArr(expected.select(col("vec_id"), col("cent_id").cast("long"),
        col("__crank"))),
      toArr(got.select(col("vec_id"), col("cent_id"),
        col("__crank").cast("int"))))
  }

  test("argmax (nprobe=1) matches the window formulation exactly") {
    val (exp, got) = assignments(nlist = 16, nprobe = 1)
    assert(exp.nonEmpty && exp.sameElements(got))
  }

  test("top-nprobe (nprobe=3) matches ranks 1..3 of the window") {
    val (exp, got) = assignments(nlist = 16, nprobe = 3)
    assert(exp.nonEmpty && exp.sameElements(got))
  }

  test("nprobe > nlist truncates to nlist, best-first") {
    val (exp, got) = assignments(nlist = 4, nprobe = 9)
    assert(exp.length == got.length && exp.sameElements(got))
  }
}
