package graft.tools

import graft.{GraftSession, SparkEntry, Tables}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Per-query profiling harness: runs one named query repeatedly and breaks
  * hot time into analysis/optimization/physical-planning vs job execution,
  * with a job count from a listener — tells us whether the sf0.1 bench
  * floor is Catalyst planning or stage scheduling.
  *
  * Usage: runMain graft.tools.Profile <queryName> [runs]
  * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS (Bench's size-derived
  * execution policy applies).
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val runs = if (args.length > 1) args(1).toInt else 5
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.builder(cpus, Some(sfDir)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    @volatile var jobs = 0
    @volatile var jobMs = 0L
    val starts = scala.collection.concurrent.TrieMap.empty[Int, Long]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs += 1; starts(j.jobId) = j.time
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        starts.remove(j.jobId).foreach(t0 => jobMs += j.time - t0)
    })
    spark.range(1000000L).selectExpr("sum(id)").collect()
    Tables.all.foreach(t => Tables.load(spark, sfDir, t).limit(1).collect())
    val d = SparkEntry.all.find(_.name == name)
      .getOrElse(sys.error(s"no query $name"))
    d.fn(spark, sfDir).collect() // cold
    // prepared mode: wrap the cached analyzed plan per run (what Bench's
    // hot loop does) instead of rebuilding the chain
    val preparedMode = sys.env.get("SPARK_GRAFT_PREPARED").exists(_.toBoolean)
    for (i <- 1 to runs) {
      jobs = 0; jobMs = 0
      val t0 = System.nanoTime()
      val df =
        if (preparedMode)
          graft.PlanCache.prepared(spark, (sfDir, name))(d.fn(spark, sfDir))
        else d.fn(spark, sfDir)
      val t1 = System.nanoTime() // DataFrame construction (analysis lazy)
      df.queryExecution.executedPlan // force analyze+optimize+physical plan
      val t2 = System.nanoTime()
      df.collect()
      val t3 = System.nanoTime()
      Thread.sleep(50) // let listener events drain
      val j1 = jobs
      val jm1 = jobMs
      val t4 = System.nanoTime()
      df.collect() // re-collect same DataFrame: plan reuse + possible stage skip
      val t5 = System.nanoTime()
      Thread.sleep(50)
      println(f"run$i total=${(t3 - t0) / 1e6}%.0fms " +
        f"build=${(t1 - t0) / 1e6}%.0fms plan=${(t2 - t1) / 1e6}%.0fms " +
        f"exec=${(t3 - t2) / 1e6}%.0fms jobs=$j1 jobTime=${jm1}ms " +
        f"recollect=${(t5 - t4) / 1e6}%.0fms rejobs=${jobs - j1} rejobTime=${jobMs - jm1}ms")
      if (i == runs && sys.env.contains("SPARK_GRAFT_EXPLAIN"))
        println(graft.plans.Explain.report(df).render)
    }
    spark.stop()
  }
}
