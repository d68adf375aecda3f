package graft.tools

import graft.{Bench, GraftSession, SparkEntry, Tables}
import org.apache.spark.sql.execution.ExplainMode

/** Dump `.explain("formatted")` for every bench query (plus, optionally,
  * any named query) under the exact session config Bench runs with, so
  * committed plan files match what the driver measures.
  *
  * Usage: runMain graft.tools.PlanDump <outDir> [name1,name2,...]
  * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS (Bench's knobs apply).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val names: Option[Set[String]] =
      if (args.length > 1) Some(args(1).split(",").map(_.trim).toSet) else None
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val suffix = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", "before")
    val inputMB = Bench.inputMb(sfDir)
    val spark = GraftSession.builder(cpus, Some(sfDir)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val dataDir = Bench.ingestLayout(spark, sfDir, cpus)
    Tables.all.foreach(t => Tables.load(spark, dataDir, t).limit(1).collect())
    new java.io.File(outDir).mkdirs()
    val defs = SparkEntry.all
      .filter(d => names.map(_.contains(d.name)).getOrElse(d.bench))
    defs.foreach { d =>
      spark.sparkContext.setJobDescription(s"plandump: ${d.name}")
      val df = d.fn(spark, dataDir)
      val txt = df.queryExecution.explainString(
        ExplainMode.fromString("formatted"))
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$outDir/${d.name}_$suffix.txt"),
        s"== ${d.name} @ $sfDir (ingested layout, shuffle=" +
          s"${Bench.sizeDerivedShuffle(inputMB, cpus)}, aqe=" +
          s"${Bench.sizeDerivedAqe(inputMB)}) ==\n" + txt)
      println(s"[plandump] wrote ${d.name}_$suffix.txt")
    }
    spark.stop()
  }
}
