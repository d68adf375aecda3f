package graft.tools

import graft.{GraftSession, PlanCache, SparkEntry, Tables}

/** Diagnostic: per-query hot-path phase breakdown — how much of a prepared
  * re-execution is optimizer, physical planning, and actual execution.
  * Informs how far a cached-optimized-plan fast path can go (the full
  * analogue of the reference's plan+emit caches, query.clj:305-328).
  *
  * Usage: java -cp ... graft.tools.PhaseProbe [sfDir]
  */
object PhaseProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession.builder(32)
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000L).selectExpr("sum(id)").collect()
    Tables.all.foreach(t => Tables.load(spark, sfDir, t).limit(1).collect())

    def nanos(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6
    }

    println(f"${"query"}%-28s ${"build"}%8s ${"optimize"}%9s " +
      f"${"physical"}%9s ${"execute"}%9s ${"total"}%8s  (ms, min of 5)")
    SparkEntry.all.filter(_.bench).foreach { d =>
      // warm: cold run + plan-cache fill
      d.fn(spark, sfDir).collect()
      PlanCache.prepared(spark, (sfDir, d.name))(d.fn(spark, sfDir)).collect()
      val samples = (1 to 5).map { _ =>
        var build = 0.0; var opt = 0.0; var phys = 0.0; var exec = 0.0
        val t0 = System.nanoTime()
        var df: org.apache.spark.sql.DataFrame = null
        build = nanos {
          df = PlanCache.prepared(spark, (sfDir, d.name))(d.fn(spark, sfDir))
        }
        val qe = df.queryExecution
        opt = nanos(qe.optimizedPlan)
        phys = nanos(qe.executedPlan)
        exec = nanos(df.collect())
        val total = (System.nanoTime() - t0) / 1e6
        (build, opt, phys, exec, total)
      }
      val best = samples.minBy(_._5)
      println(f"${d.name}%-28s ${best._1}%8.1f ${best._2}%9.1f " +
        f"${best._3}%9.1f ${best._4}%9.1f ${best._5}%8.1f")
    }
    spark.stop()
  }
}
