package graft.tools

import graft.{Bench, GraftSession, SparkEntry, Tables}

/** Where does a query's COLD time go? Splits the first run into
  * dataframe build (analysis), physical planning (optimizer + strategy),
  * and first execution (codegen + run), then times a hot run — the
  * q82-class diagnosis (VERDICT r17 #6: 2.8 s cold, 0.12 s hot).
  *
  * Usage: runMain graft.tools.ColdProfile <queryName> [reps]
  */
object ColdProfile {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val reps = if (args.length > 1) args(1).toInt else 3
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.builder(cpus, Some(sfDir)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000L).selectExpr("sum(id)").collect()
    val dataDir = Bench.ingestLayout(spark, sfDir, cpus)
    Tables.all.foreach(t => Tables.load(spark, dataDir, t).limit(1).collect())
    val d = SparkEntry.all.find(_.name == name)
      .getOrElse(sys.error(s"no query $name"))
    (1 to reps).foreach { r =>
      val t0 = System.nanoTime()
      val df = d.fn(spark, dataDir)
      val t1 = System.nanoTime()
      df.queryExecution.executedPlan // analysis + optimization + planning
      val t2 = System.nanoTime()
      df.collect()
      val t3 = System.nanoTime()
      val df2 = d.fn(spark, dataDir)
      val t4 = System.nanoTime()
      df2.collect()
      val t5 = System.nanoTime()
      println(f"[coldprofile] $name rep $r: build ${(t1 - t0) / 1e6}%8.1f ms, " +
        f"plan ${(t2 - t1) / 1e6}%8.1f ms, firstExec ${(t3 - t2) / 1e6}%8.1f ms, " +
        f"rebuild+exec ${(t5 - t3) / 1e6}%8.1f ms")
    }
    spark.stop()
  }
}
