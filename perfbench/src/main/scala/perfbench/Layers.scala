package perfbench

/** The per-layer metrics of a traced run, named `<layer>.<metric>` after the
  * repo's modules. Every workload reports every name; a layer the workload
  * does not touch reads 0. Span times are means per traced op that called
  * into the layer; [[Totals]] are counts over the run; counter metrics are
  * deltas over the measured phase divided by its ops.
  */
object Layers {

  val Units: Seq[(String, String)] = Seq(
    "sql.parse_ms" -> "ms", "sql.engine_ms" -> "ms", "sql.calls" -> "count",
    "plans.build_ms" -> "ms", "plans.analysis_ms" -> "ms",
    "plans.optimization_ms" -> "ms", "plans.planning_ms" -> "ms") ++
    Trace.GraftRules.map(r => s"plans.rule_ms.$r" -> "ms") ++ Seq(
    "exec.collect_ms" -> "ms", "exec.jobs_per_op" -> "count",
    "exec.tasks_per_op" -> "count", "exec.shuffle_read_bytes" -> "bytes",
    "exec.shuffle_write_bytes" -> "bytes", "exec.executor_run_ms" -> "ms",
    "exec.codegen_compile_ms" -> "ms", "exec.codegen_classes" -> "count",
    "bitemporal.submit_ms" -> "ms", "bitemporal.jobs_per_tx" -> "count",
    "bitemporal.compactions" -> "count", "bitemporal.compaction_tx_ms" -> "ms",
    "bitemporal.backlog_files" -> "count",
    "storage.manifest_reads_per_op" -> "count",
    "storage.manifest_hit_ratio" -> "ratio", "storage.files" -> "count",
    "storage.bytes" -> "bytes", "storage.space_amp" -> "ratio",
    "storage.write_bytes_per_user_byte" -> "ratio",
    "plancache.hit_ratio" -> "ratio",
    "pgwire.connect_ms" -> "ms", "pgwire.bytes_in_per_op" -> "bytes",
    "pgwire.bytes_out_per_op" -> "bytes",
    "jvm.gc_ms" -> "ms", "jvm.gc_count" -> "count", "jvm.heap_peak_mb" -> "MiB",
    "trace.span_coverage" -> "ratio", "trace.overhead_ms" -> "ms")

  /** Readings the trace reports as totals rather than means. */
  val Totals = Set("sql.calls", "bitemporal.compactions")

  /** Trace readings plus the counters every workload shares, over a phase
    * that began at `c0` and ran `ops` operations. */
  def common(tr: Trace, c0: Counters, ops: Long): Map[String, Double] = {
    val d = tr.counters() - c0
    val n = math.max(1L, ops).toDouble
    val readings = Units.flatMap { case (name, _) =>
      if (Totals(name)) Some(name -> tr.sum(name)) else tr.mean(name).map(name -> _)
    }.toMap
    readings ++ Map(
      "exec.jobs_per_op" -> d.jobs / n,
      "exec.tasks_per_op" -> d.tasks / n,
      "exec.shuffle_read_bytes" -> d.shuffleRead / n,
      "exec.shuffle_write_bytes" -> d.shuffleWrite / n,
      "exec.executor_run_ms" -> d.executorRunMs / n,
      "exec.codegen_compile_ms" -> d.codegenNs / 1e6 / n,
      "exec.codegen_classes" -> d.codegenClasses / n,
      "storage.manifest_reads_per_op" -> d.manifestReads / n,
      "storage.manifest_hit_ratio" ->
        (if (d.manifestReads > 0) d.manifestHits.toDouble / d.manifestReads else 0.0),
      "plancache.hit_ratio" -> (if (d.planHits + d.planMisses > 0)
        d.planHits.toDouble / (d.planHits + d.planMisses) else 0.0),
      "jvm.gc_ms" -> d.gcMs.toDouble,
      "jvm.gc_count" -> d.gcCount.toDouble,
      "jvm.heap_peak_mb" -> Proc.heapPeakMb,
      "trace.span_coverage" -> tr.coverage)
  }

  /** Mean, over op kinds run both ways, of the traced minus the untraced
    * median latency. */
  def overheadMs(samples: Seq[Sample]): Double = {
    val diffs = samples.groupBy(_.kind).values.flatMap { s =>
      val (t, u) = s.partition(_.traced)
      if (t.nonEmpty && u.nonEmpty)
        Some(Stats.median(t.map(_.ms)) - Stats.median(u.map(_.ms)))
      else None
    }
    if (diffs.isEmpty) 0.0 else diffs.sum / diffs.size
  }

  def report(o: Outcome): Seq[(String, (Double, String))] = {
    val values = o.layers + ("trace.overhead_ms" -> overheadMs(o.samples))
    Units.map { case (name, unit) => name -> (values.getOrElse(name, 0.0), unit) }
  }
}
