package graft.slt

import graft.GraftSession

/** CLI: run SLT files against the engine.
  * Usage: runMain graft.slt.SltMain <file-or-dir-or-@listfile> [maxQueriesPerFile]
  * `@path` reads one .test path per line — the sharded-sweep input, so a
  * parallel full-corpus soak runs one JVM per balanced shard instead of
  * one per file. */
object SltMain {
  def main(args: Array[String]): Unit = {
    val target = args.headOption
      .getOrElse("/root/reference/sqlite-test/select1.test")
    val maxQ = args.lift(1).map(_.toInt).getOrElse(Int.MaxValue)
    val files =
      if (target.startsWith("@"))
        scala.io.Source.fromFile(target.drop(1)).getLines()
          .map(_.trim).filter(_.nonEmpty).toSeq
      else if (new java.io.File(target).isDirectory) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(java.nio.file.Paths.get(target)).iterator()
          .asScala.map(_.toString).filter(_.endsWith(".test")).toSeq.sorted
      } else Seq(target)
    val spark = GraftSession
      .builder(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    var totPass = 0L; var totFail = 0L
    files.foreach { path =>
      val r = SltRunner.runFile(spark, path, maxQ)
      totPass += r.passed; totFail += r.failed
      println(s"SLT ${r.file}: ${r.passed}/${r.total} passed" +
        (if (r.skipped > 0) s" (${r.skipped} skipped)" else ""))
      r.failures.take(20).foreach(f => println(s"  FAIL: $f"))
    }
    println(s"SLT TOTAL: $totPass passed, $totFail failed")
    spark.stop()
  }
}
