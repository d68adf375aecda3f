package graft

import org.apache.spark.sql.SparkSession

/** The one place a `SparkSession` is built: local master over `cpus`
  * cores, one shuffle partition per core, UTC session time, no UI, no
  * locality wait, and [[GraftExtensions]] (function catalog + optimizer
  * rules) installed at build time. Callers add their own `.config` on the
  * returned builder before `getOrCreate()`.
  *
  * Given the directory of the input tables, the execution policy is
  * derived from their on-disk size instead (`Bench.sizeDerivedShuffle` /
  * `Bench.sizeDerivedAqe`), as the benchmark runs it.
  */
object GraftSession {
  def builder(cpus: Int, sfDir: Option[String] = None): SparkSession.Builder = {
    val inputMB = sfDir.map(Bench.inputMb)
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions",
        inputMB.fold(cpus)(Bench.sizeDerivedShuffle(_, cpus)).toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.locality.wait", "0")
      .withExtensions(new GraftExtensions)
    inputMB.fold(b)(mb =>
      b.config("spark.sql.adaptive.enabled", Bench.sizeDerivedAqe(mb)))
  }
}
