package graft.tools

import graft.bitemporal.XtDb
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, GraftColumnBridge, SparkSession}

import scala.jdk.CollectionConverters._

/** Engine metrics surface (the reference ships a `monitoring/` module with
  * Prometheus/Grafana counters over tx + query activity; here the same
  * counters come from a SparkListener plus the XtDb tx log, queryable as
  * the `xt_metrics` system table through the SQL engine).
  *
  * One listener per SparkContext (shared across engine sessions — the
  * counters are node-wide, like the reference's registry).
  */
object EngineMetrics {

  final class Counters extends SparkListener {
    val jobs = new java.util.concurrent.atomic.AtomicLong
    val tasks = new java.util.concurrent.atomic.AtomicLong
    val shuffleReadBytes = new java.util.concurrent.atomic.AtomicLong
    val shuffleWriteBytes = new java.util.concurrent.atomic.AtomicLong
    val inputRecords = new java.util.concurrent.atomic.AtomicLong
    val executorRunMs = new java.util.concurrent.atomic.AtomicLong

    override def onJobStart(j: SparkListenerJobStart): Unit =
      jobs.incrementAndGet()

    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = t.taskMetrics
      if (m != null) {
        shuffleReadBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        inputRecords.addAndGet(m.inputMetrics.recordsRead)
        executorRunMs.addAndGet(m.executorRunTime)
      }
    }
  }

  /** Manifest-metadata RPC accounting (round 14): total manifest reads
    * vs reads served by the version-revalidated cache — the
    * before/after measure for the object-store metadata saving. */
  val manifestReads = new java.util.concurrent.atomic.AtomicLong
  val manifestCacheHits = new java.util.concurrent.atomic.AtomicLong

  /** Snapshot-fold input accounting (round 15): the file names the last
    * fold handed to its RESOLVE relation after the changed-iid bucket
    * prune, and the live file count it pruned from — the spec pin that
    * the fold's scanned files stay a subset of the changed buckets
    * (fold input O(delta buckets), never O(event log)). */
  @volatile var lastFoldResolveFiles: Seq[String] = Nil
  @volatile var lastFoldLiveFileCount: Int = 0

  /** Erase-purge addressing accounting (round 15): whether the last
    * purge took the manifest-recorded bucket path (no discovery scan),
    * and the bucket files it actually merged. */
  @volatile var lastPurgeUsedManifest: Boolean = false
  @volatile var lastPurgeScannedFiles: Seq[String] = Nil

  /** Snapshot-fold driver-job accounting (round 17, VERDICT r16 #2):
    * folds whose changed-id bucket histogram RODE the fold's single
    * delta-aggregate job vs folds that had to run the separate
    * changed-count job (boundary-crossing ids in play). */
  val foldChangedFromDelta = new java.util.concurrent.atomic.AtomicLong
  val foldChangedRecomputes = new java.util.concurrent.atomic.AtomicLong

  /** What ran on the cluster while one [[during]] body ran: the jobs
    * started, and each finished task's input-record and shuffle-read-record
    * counts (one entry per task, in completion order). */
  final case class Activity(jobs: Int, taskInputRecords: Seq[Long],
      taskShuffleReadRecords: Seq[Long]) {
    def inputRecords: Long = taskInputRecords.sum
    def shuffleReadRecords: Long = taskShuffleReadRecords.sum
  }

  /** Run `body` and return what it ran on the cluster. The listener bus is
    * drained before the counting listener is added (events of earlier work
    * are not counted) and again before the counts are read (every event
    * `body` caused has been delivered); the listener is removed afterwards.
    * The counts are context-wide, so this is for single-threaded callers:
    * a job another thread runs on the same SparkContext meanwhile is
    * counted too. */
  def during[A](spark: SparkSession)(body: => A): (A, Activity) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val tasks = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        Option(t.taskMetrics).foreach(m => tasks.add(
          (m.inputMetrics.recordsRead, m.shuffleReadMetrics.recordsRead)))
    }
    GraftColumnBridge.drainListenerBus(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      GraftColumnBridge.drainListenerBus(sc)
      val perTask = tasks.asScala.toSeq
      (out, Activity(jobs.get, perTask.map(_._1), perTask.map(_._2)))
    } finally sc.removeSparkListener(listener)
  }

  private val installed =
    scala.collection.concurrent.TrieMap.empty[org.apache.spark.SparkContext, Counters]

  /** Install (once per context) and return the shared counters. */
  def install(spark: SparkSession): Counters =
    installed.getOrElseUpdate(spark.sparkContext, {
      val c = new Counters
      spark.sparkContext.addSparkListener(c)
      c
    })

  /** Current metrics as a (metric, value) relation: cluster-side counters
    * plus the store's tx-log tallies. Built fresh on every call — the
    * engine rebuilds it for every statement that names `xt_metrics`, so
    * `SELECT * FROM xt_metrics` always reads the live values. */
  def snapshot(spark: SparkSession, db: Option[XtDb]): DataFrame = {
    import spark.implicits._
    val c = install(spark)
    val txRows: Seq[(String, Long)] = db.map { d =>
      // `txs` is empty before the first tx; an unreadable log throws
      val rows = d.txs.groupBy("committed").count().collect()
      def n(flag: Boolean) = rows.find(_.getBoolean(0) == flag)
        .map(_.getLong(1)).getOrElse(0L)
      val (committed, aborted) = (n(true), n(false))
      // storage-maintenance gauges (round 13): uncompacted backlog files,
      // live level dirs and bucketed-base tables across the store — the
      // operator-facing face of the incremental-compaction machinery
      // (metadata-only listings, same measures the policy itself reads).
      // A damaged store fails the snapshot, never reads as an idle one.
      val (backlog, levels, bucketedTables) =
        d.tables.map(d.storageStats).foldLeft((0L, 0L, 0L)) {
          case ((b, l, n), (lag, lv, _, buckets)) =>
            (b + lag, l + lv, n + (if (buckets > 0) 1L else 0L))
        }
      // the GDPR clock: tables carrying an unpurged erase (the purge
      // fires at spark.graft.erasePurge.maxCycles — this should read 0
      // in steady state; a stuck nonzero means maintenance is not
      // running)
      val erasePending =
        d.tables.count(t => d.erasePendingCycles(t) > 0).toLong
      Seq("txs_committed" -> committed, "txs_aborted" -> aborted,
        "tables" -> d.tables.length.toLong,
        "event_backlog_files" -> backlog,
        "event_level_dirs" -> levels,
        "tables_bucketed" -> bucketedTables,
        "tables_erase_pending" -> erasePending)
    }.getOrElse(Seq.empty)
    (Seq(
      "jobs" -> c.jobs.get, "tasks" -> c.tasks.get,
      "shuffle_read_bytes" -> c.shuffleReadBytes.get,
      "shuffle_write_bytes" -> c.shuffleWriteBytes.get,
      "input_records" -> c.inputRecords.get,
      "executor_run_ms" -> c.executorRunMs.get,
      "manifest_reads" -> manifestReads.get,
      "manifest_cache_hits" -> manifestCacheHits.get) ++ txRows)
      .toDF("metric", "value")
  }

  /** The `snapshot` metrics that only ever grow since the process (or the
    * store) started; every other metric is a level that can go down. */
  private val monotonic: Set[String] = Set("jobs", "tasks", "shuffle_read_bytes",
    "shuffle_write_bytes", "input_records", "executor_run_ms",
    "manifest_reads", "manifest_cache_hits", "txs_committed", "txs_aborted")

  /** The Prometheus scrape body — shared by [[serveHttp]] and the
    * healthz surface ([[Healthz]]). A monotonic metric is a `counter`
    * named `graft_<metric>_total`; the rest are `gauge`s named
    * `graft_<metric>`. */
  def prometheusBody(spark: SparkSession, db: Option[XtDb]): String =
    try {
      snapshot(spark, db).collect().map { r =>
        val metric = r.getString(0)
        val (name, kind) =
          if (monotonic(metric)) (s"graft_${metric}_total", "counter")
          else (s"graft_$metric", "gauge")
        s"# TYPE $name $kind\n$name ${r.getLong(1)}"
      }.mkString("", "\n", "\n")
    } catch { case e: Exception => s"# scrape failed: ${e.getMessage}\n" }

  /** HTTP scrape endpoint in the Prometheus text exposition format
    * (reference monitoring module: modules/kafka/.../prometheus.yml scrapes
    * an HTTP target; the format spec is public Prometheus documentation).
    * JDK-built-in httpserver — no extra dependency; the body is
    * [[prometheusBody]], rendered per scrape. Returns the server for
    * `stop()`; port 0 binds an ephemeral port (`getAddress.getPort`). */
  def serveHttp(spark: SparkSession, db: Option[XtDb], port: Int = 0)
      : com.sun.net.httpserver.HttpServer = {
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress(port), 0)
    server.createContext("/metrics",
      (exchange: com.sun.net.httpserver.HttpExchange) => {
        val body = prometheusBody(spark, db)
        val bytes = body.getBytes("UTF-8")
        exchange.getResponseHeaders.set("Content-Type",
          "text/plain; version=0.0.4; charset=utf-8")
        exchange.sendResponseHeaders(200, bytes.length)
        val os = exchange.getResponseBody
        os.write(bytes); os.close()
      })
    server.setExecutor(null) // serial scrapes — a scrape is a tiny query
    server.start()
    server
  }
}
