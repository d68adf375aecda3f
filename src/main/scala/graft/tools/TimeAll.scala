package graft.tools

import graft.{GraftSession, SparkEntry}

/** Round-17 sweep: hot-time EVERY SparkEntry query at one SF (noop-style
  * full materialization via collect, best of N) and print a descending
  * table — the cheap way to spot a non-bench query whose constant is
  * anomalous before it matters at scale.
  *
  * Usage: runMain graft.tools.TimeAll [sfDir] [runs] [name1,name2,...]
  * (the optional third arg restricts to named queries — paired A/B on a
  * subset without paying the 20-minute full sweep)
  */
object TimeAll {
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
    val rows = SparkEntry.all
      .filter(d => only.forall(_.contains(d.name))).map { d =>
      spark.sparkContext.setJobDescription(s"timeall: ${d.name}")
      val r =
        try {
          val cold = time(d.fn(spark, sfDir).collect())
          val hot = (1 to runs).map(_ => time(d.fn(spark, sfDir).collect())).min
          (d.name, cold, hot)
        } catch { case e: Throwable =>
          System.err.println(s"[timeall] ${d.name} FAILED: ${e.getMessage}")
          (d.name, -1.0, -1.0)
        } finally graft.operators.TextAnalysis.releasePostings()
      r
    }
    println("== hot-desc ==")
    rows.sortBy(-_._3).foreach { case (n, c, h) =>
      println(f"$h%8.3f  (cold $c%8.3f)  $n")
    }
    println(f"TOTAL hot ${rows.map(_._3).filter(_ > 0).sum}%.2f cold " +
      f"${rows.map(_._2).filter(_ > 0).sum}%.2f over ${rows.size} queries")
    spark.stop()
  }
}
