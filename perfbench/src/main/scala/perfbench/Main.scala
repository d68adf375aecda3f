package perfbench

import org.apache.spark.sql.SparkSession

/** What a workload needs from the harness. `trace` is set on a traced run. */
final case class Ctx(spark: SparkSession, cpus: Int, seed: Long,
    seconds: Double, work: java.io.File, recorder: Recorder,
    trace: Option[Trace]) {
  def traced: Boolean = trace.isDefined
}

/** What a workload measured. `samples` are the timed-window ops; `layers`
  * holds the per-layer metrics of a traced run. The latency metrics take
  * the median of each `latencyGroup` and average the medians; by default
  * every op is in one group. */
final case class Outcome(setupS: Seq[Double], windowS: Double,
    samples: Seq[Sample], coldTotalS: Double, layers: Map[String, Double],
    detail: Map[String, Double], latencyGroup: Sample => String = _ => "")

/** Entry point: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work <dir>`. Prints one detail line and then, as the last line, the
  * result object; exits 1 when any output check failed. */
object Main {

  val Workloads: Map[String, Ctx => Outcome] = Map(
    "olap_tpch" -> Olap.run,
    "txn_pgwire" -> TxnPgwire.run)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = opt("workload")
    val run = Workloads.getOrElse(workload, sys.error(s"unknown workload $workload"))
    val work = new java.io.File(opt("work")).getAbsoluteFile
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = session(cpus, work)
    val steal0 = Proc.stealTicks
    val load0 = Proc.loadAvg1
    val recorder = new Recorder
    val traced = opt("trace") == "1"
    val out = try {
      val ctx = Ctx(spark, cpus, opt("seed").toLong, opt("seconds").toDouble,
        work, recorder, if (traced) Some(new Trace(spark)) else None)
      run(ctx)
    } finally spark.stop()
    val metrics =
      if (traced) Layers.report(out)
      else EndToEnd.report(out)
    val attempted = recorder.attempted.get
    val failed = recorder.failed.get
    val correct = failed == 0 && attempted > 0
    val detail = out.detail ++ EndToEnd.detail(out) ++ Map(
      "steal_ticks" -> (Proc.stealTicks - steal0).toDouble,
      "loadavg_1m_start" -> load0, "loadavg_1m_end" -> Proc.loadAvg1,
      "samples" -> out.samples.size.toDouble,
      "window_s" -> out.windowS,
      "jvm_uptime_s" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0)
    println(Json.obj("detail" -> Json.obj(detail.toSeq.sortBy(_._1).map {
      case (k, v) => k -> Json.num(v) }: _*),
      "failures" -> Json.arr(recorder.failureMessages.map(Json.str): _*)))
    println(Json.obj("correct" -> correct.toString,
      "attempted" -> attempted.toString, "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (name, (v, unit)) =>
        name -> Json.obj("value" -> Json.num(v), "unit" -> Json.str(unit)) }: _*)))
    System.out.flush()
    if (!correct) sys.exit(1)
  }

  /** The session `graft.Bench` builds, with the engine's extensions
    * installed the way a deployment installs them, and every scratch
    * directory under `work`. Shuffle width and adaptive execution are set
    * per workload from its input size, as `Bench` derives them. */
  def session(cpus: Int, work: java.io.File): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64MB")
      .config("spark.locality.wait", "0")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new java.io.File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new java.io.File(work, "warehouse").getPath)
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** `Bench`'s size-derived execution policy for `inputMB` of input. */
  def sizePolicy(ctx: Ctx, inputMB: Long): Unit = {
    ctx.spark.conf.set("spark.sql.shuffle.partitions",
      graft.Bench.sizeDerivedShuffle(inputMB, ctx.cpus).toString)
    ctx.spark.conf.set("spark.sql.adaptive.enabled",
      graft.Bench.sizeDerivedAqe(inputMB).toString)
  }
}

/** The end-to-end metrics of an untraced run. Every workload reports each
  * of them; an "op" is one query (`olap_tpch`) or one statement or
  * transaction (`txn_pgwire`). */
object EndToEnd {
  /** The client an op belongs to: its label up to the first '/'. */
  private def client(s: Sample): String = s.kind.takeWhile(_ != '/')

  /** Completed ops per second of client time: each closed-loop client's
    * ops divided by the time it spent waiting on them, summed over the
    * clients. Unlike ops per window, it does not jump by a whole op when
    * the window ends while ops are in flight. */
  def throughput(samples: Seq[Sample]): Double =
    samples.groupBy(client).values.map(s => s.size / (s.map(_.ms).sum / 1000)).sum

  /** The median latency of each latency group, averaged over the groups.
    * A run whose ops all failed reads 0. */
  def latencyMs(samples: Seq[Sample], group: Sample => String): Double = {
    val medians = samples.groupBy(group).values.map(s => Stats.median(s.map(_.ms)))
    if (medians.isEmpty) 0.0 else medians.sum / medians.size
  }

  def report(o: Outcome): Seq[(String, (Double, String))] = Seq(
    "setup_s" -> (Stats.median(o.setupS), "s"),
    "throughput_ops_s" -> (throughput(o.samples), "1/s"),
    "op_p50_ms" -> (latencyMs(o.samples, o.latencyGroup), "ms"),
    "read_p50_ms" -> (latencyMs(o.samples.filter(_.read), o.latencyGroup), "ms"),
    "cold_total_s" -> (o.coldTotalS, "s"),
    "peak_rss_mb" -> (Proc.peakRssMb, "MiB"))

  /** Per-kind medians and counts, and the one tail percentile the sample
    * count supports (if any), for the detail line. */
  def detail(o: Outcome): Map[String, Double] = {
    val byKind = o.samples.groupBy(_.kind)
    byKind.map { case (k, s) => s"$k.p50_ms" -> Stats.median(s.map(_.ms)) } ++
      byKind.map { case (k, s) => s"$k.n" -> s.size.toDouble } ++
      Stats.supportedTail(o.samples.size).map(p =>
        s"tail_p${p}_ms" -> Stats.percentile(o.samples.map(_.ms), p)) ++
      o.setupS.zipWithIndex.map { case (v, i) => s"setup_${i + 1}_s" -> v }
  }
}
