package graft.tools

import graft.{GraftSession, SparkEntry}

/** Round-17 sweep: hot-time EVERY SparkEntry query at one SF (noop-style
  * full materialization via collect, best of N) and print a descending
  * table — the cheap way to spot a non-bench query whose constant is
  * anomalous before it matters at scale. Each row also carries the cold
  * run's planning time (Spark's analysis + optimization + planning
  * phases) and the Spark jobs it ran, so a slow cold run splits into
  * planning and execution without another tool.
  *
  * A query that throws gets no row: it is named on the last line and the
  * run exits 1 (the same contract as graft.Bench).
  *
  * Usage: runMain graft.tools.TimeAll [sfDir] [runs] [name1,name2,...]
  * (the optional third arg restricts to named queries — paired A/B on a
  * subset without paying the 20-minute full sweep)
  */
object TimeAll {
  private val PlanningPhases = Seq("analysis", "optimization", "planning")

  /** One query's sweep result: seconds, planning ms, Spark jobs. */
  private final case class Row(name: String, cold: Double, hot: Double,
      planMs: Long, jobs: Int)

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val runs = args.lift(1).map(_.toInt).getOrElse(2)
    val only: Option[Set[String]] =
      args.lift(2).map(_.split(",").map(_.trim).toSet)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16").toInt
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000000L).selectExpr("sum(id)").collect()
    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    val rows = SparkEntry.all
      .filter(d => only.forall(_.contains(d.name))).flatMap { d =>
      spark.sparkContext.setJobDescription(s"timeall: ${d.name}")
      try {
        val ((df, cold), activity) = EngineMetrics.during(spark) {
          val t0 = System.nanoTime()
          val df = d.fn(spark, sfDir)
          df.collect()
          (df, (System.nanoTime() - t0) / 1e9)
        }
        val phases = df.queryExecution.tracker.phases
        val planMs = PlanningPhases.flatMap(phases.get).map(_.durationMs).sum
        val hot = (1 to runs).map(_ => time(d.fn(spark, sfDir).collect())).min
        Some(Row(d.name, cold, hot, planMs, activity.jobs))
      } catch { case e: Throwable =>
        System.err.println(s"[timeall] ${d.name} FAILED: ${e.getMessage}")
        failed += d.name
        None
      } finally graft.operators.TextAnalysis.releasePostings()
    }
    println("== hot-desc ==")
    rows.sortBy(-_.hot).foreach { r =>
      println(f"${r.hot}%8.3f  (cold ${r.cold}%8.3f  plan ${r.planMs}%6d ms" +
        f"  ${r.jobs}%4d jobs)  ${r.name}")
    }
    println(f"TOTAL hot ${rows.map(_.hot).sum}%.2f cold " +
      f"${rows.map(_.cold).sum}%.2f over ${rows.size} queries")
    spark.stop()
    if (failed.nonEmpty) {
      println(s"FAILED ${failed.size}: ${failed.mkString(",")}")
      sys.exit(1)
    }
  }
}
