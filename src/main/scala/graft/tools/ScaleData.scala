package graft.tools

import graft.{GraftSession, Tables}
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Derive a larger, better-laid-out copy of the test data for scaling
  * measurements: fact tables (lineitem / orders / events) are replicated
  * `factor`× with disjoint key offsets (joins stay consistent inside each
  * replica — every customer simply owns factor× orders), dimensions are
  * copied through. Output is written as multiple files with small parquet
  * row groups, so scans split — the driver-generated sf parquet is a
  * single row group per table, which caps scan parallelism at 1 task
  * regardless of cluster size (see BASELINE.md).
  *
  * Usage: runMain graft.tools.ScaleData <srcDir> <dstDir> [factor] [files]
  */
object ScaleData {
  private val KeyOffset = 10000000L

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val dst = args(1)
    val factor = if (args.length > 2) args(2).toInt else 5
    val files = if (args.length > 3) args(3).toInt else 8
    val spark = GraftSession
      .builder(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
      .config("spark.sql.shuffle.partitions", "32")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def replicated(name: String, keyCols: Seq[String],
        perReplica: (DataFrame, Int) => DataFrame = (df, _) => df): DataFrame = {
      val base = Tables.load(spark, src, name)
      (0 until factor).map { i =>
        perReplica(keyCols.foldLeft(base)((df, k) =>
          df.withColumn(k, col(k) + lit(i * KeyOffset))), i)
      }.reduce(_ unionByName _)
    }

    val grown = Set("lineitem", "orders", "events", "documents", "embeddings")
    val out: Map[String, DataFrame] = Map(
      "lineitem" -> replicated("lineitem", Seq("l_orderkey")),
      "orders" -> replicated("orders", Seq("o_orderkey")),
      "events" -> replicated("events", Seq("event_id")),
      // documents get a per-replica text salt so the dedup/similarity
      // workload keeps its shape (mostly-unique docs, same dup rate per
      // replica) instead of becoming factor-sized exact-duplicate groups
      "documents" -> replicated("documents", Seq("doc_id"),
        (df, i) => df.withColumn("text",
          concat(col("text"), lit(s" r$i")))),
      "embeddings" -> replicated("embeddings", Seq("vec_id")),
    ) ++ (Tables.all.toSet -- grown).map(t =>
      t -> Tables.load(spark, src, t)).toMap

    out.foreach { case (name, df) =>
      val n = if (grown(name)) files else 1
      df.repartition(n)
        .write.mode(SaveMode.Overwrite)
        // ~4MB row groups => several splittable units per file
        .option("parquet.block.size", (4 * 1024 * 1024).toString)
        .parquet(s"$dst/$name.parquet")
      println(s"[scaledata] $name -> $dst/$name.parquet ($n files)")
    }
    spark.stop()
  }
}
