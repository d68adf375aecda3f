package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.metrics.source.CodegenMetrics

/** Node-wide counters the engine and Spark already keep, read before and
  * after a span of work. */
final case class Counters(jobs: Long, tasks: Long, shuffleRead: Long,
    shuffleWrite: Long, executorRunMs: Long, codegenNs: Long,
    codegenClasses: Long, manifestReads: Long, manifestHits: Long,
    planHits: Long, planMisses: Long, gcCount: Long, gcMs: Long,
    writeBytes: Long) {
  def -(o: Counters): Counters = Counters(jobs - o.jobs, tasks - o.tasks,
    shuffleRead - o.shuffleRead, shuffleWrite - o.shuffleWrite,
    executorRunMs - o.executorRunMs, codegenNs - o.codegenNs,
    codegenClasses - o.codegenClasses, manifestReads - o.manifestReads,
    manifestHits - o.manifestHits, planHits - o.planHits,
    planMisses - o.planMisses, gcCount - o.gcCount, gcMs - o.gcMs,
    writeBytes - o.writeBytes)
}

/** The per-layer decomposition of a traced run. Spans are recorded from the
  * benchmark's side of each layer boundary: the call that hands a plan to
  * Spark (`XtSqlEngine.sql`, `PlanCache.prepared` or a query builder), then
  * each Catalyst phase forced on its own, then execution. Each reading is
  * kept as a sum and a count, so a layer's time is its mean per op that
  * called into it.
  */
final class Trace(spark: SparkSession) {
  private val listener = graft.tools.EngineMetrics.install(spark)

  def counters(): Counters = {
    val (gcCount, gcMs) = Proc.gc
    Counters(listener.jobs.get, listener.tasks.get,
      listener.shuffleReadBytes.get, listener.shuffleWriteBytes.get,
      listener.executorRunMs.get, CodeGenerator.compileTime,
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      graft.tools.EngineMetrics.manifestReads.get,
      graft.tools.EngineMetrics.manifestCacheHits.get,
      graft.PlanCache.hits, graft.PlanCache.misses, gcCount, gcMs,
      Proc.writeBytes)
  }

  /** Counters at the start of a measured phase; also restarts the heap
    * peak. */
  def begin(): Counters = { Proc.resetHeapPeak(); counters() }

  private val sums = scala.collection.mutable.HashMap.empty[String, (Double, Long)]
  private var wallMs = 0.0
  private var spannedMs = 0.0

  /** Add one reading of `name`. */
  def add(name: String, v: Double): Unit = synchronized {
    val (s, n) = sums.getOrElse(name, (0.0, 0L))
    sums(name) = (s + v, n + 1)
  }
  def sum(name: String): Double = synchronized(sums.get(name).fold(0.0)(_._1))
  /** Mean of the readings of `name`, if there are any. */
  def mean(name: String): Option[Double] =
    synchronized(sums.get(name).map { case (s, n) => s / n })

  /** Time `body` as the span `name`; its time counts towards coverage. */
  def span[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally {
      val ms = (System.nanoTime() - t0) / 1e6
      add(name, ms)
      synchronized(spannedMs += ms)
    }
  }

  /** Close one traced op of `ms` wall time. */
  def opDone(ms: Double): Unit = synchronized(wallMs += ms)

  /** Build, phase by phase, and execute a query. `front` is the layer call
    * that returns the DataFrame; `frontSpan` names its span. */
  def query(frontSpan: String)(front: => DataFrame): Array[Row] = {
    val df = span(frontSpan)(front)
    val qe = df.queryExecution
    span("plans.force_analysis")(qe.analyzed)
    span("plans.force_optimization")(qe.optimizedPlan)
    span("plans.force_planning")(qe.executedPlan)
    val rows = span("exec.collect_ms")(df.collect())
    val phases = qe.tracker.phases
    for (p <- Seq("analysis", "optimization", "planning"); ph <- phases.get(p))
      add(s"plans.${p}_ms", ph.durationMs.toDouble)
    for ((rule, s) <- qe.tracker.rules; short <- Trace.GraftRules
         if rule.contains(short))
      add(s"plans.rule_ms.$short", s.totalTimeNs / 1e6)
    rows
  }

  /** Share of traced wall time the recorded spans cover. */
  def coverage: Double = synchronized(if (wallMs > 0) spannedMs / wallMs else 0.0)
}

object Trace {
  val GraftRules = Seq("GraftJoinReorder", "GraftIntervalJoin", "IidBucketPruning")
}
