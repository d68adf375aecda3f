package graft.tools

import graft.{GraftSession, PlanCache, SparkEntry, Tables}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Diagnostic: replicate Bench's ingested layout + hot loop for one query
  * and dump per-node SQL metrics (rows, time) from the executed plan, plus
  * the job count — pinpoints where the residual hot-run floor lives.
  *
  * Usage: runMain graft.tools.NodeTimes <queryName> [ingest=true]
  */
object NodeTimes {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val ingest = args.length < 2 || args(1).toBoolean
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    // mirror Bench's size-derived policy exactly (shared helpers)
    val spark = GraftSession.builder(cpus, Some(sfDir)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000L).selectExpr("sum(id)").collect()
    val dataDir =
      if (ingest) graft.Bench.ingestLayout(spark, sfDir, cpus)
      else sfDir
    Tables.all.foreach(t => Tables.load(spark, dataDir, t).limit(1).collect())
    @volatile var jobs = 0
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs += 1
      })
    val d = SparkEntry.all.find(_.name == name)
      .getOrElse(sys.error(s"no query $name"))
    d.fn(spark, dataDir).collect() // cold
    var best = Double.MaxValue
    var bestPlan: SparkPlan = null
    (1 to 5).foreach { _ =>
      val df = PlanCache.prepared(spark, (dataDir, name))(d.fn(spark, dataDir))
      jobs = 0
      val t0 = System.nanoTime()
      df.collect()
      val ms = (System.nanoTime() - t0) / 1e6
      println(f"run: $ms%8.1f ms, $jobs jobs")
      if (ms < best) { best = ms; bestPlan = df.queryExecution.executedPlan }
    }
    def walk(p: SparkPlan, depth: Int): Unit = {
      val m = p.metrics.map { case (k, v) => s"$k=${v.value}" }
        .filter(s => s.contains("time") || s.contains("rows") ||
          s.contains("Time"))
        .mkString(" ")
      println("  " * depth + p.nodeName + "  " + m)
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          Seq(q.plan)
        case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
          Seq(r.child)
        case _ => p.children
      }
      kids.foreach(walk(_, depth + 1))
      p.subqueries.foreach(walk(_, depth + 1))
    }
    println(f"== best $best%.1f ms ==")
    walk(bestPlan, 0)
    spark.stop()
  }
}
