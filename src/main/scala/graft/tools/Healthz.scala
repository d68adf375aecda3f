package graft.tools

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.bitemporal.XtDb
import org.apache.spark.sql.SparkSession

/** Healthz + metrics HTTP surface, mirroring the reference's healthz
  * module (`core/src/main/clojure/xtdb/healthz.clj:1-211`) endpoint for
  * endpoint, with each probe backed by REAL engine state rather than
  * stub booleans:
  *
  *  - `GET /`                → index page
  *  - `GET /metrics`         → Prometheus text exposition (EngineMetrics)
  *  - `GET /healthz/started` → 503 with `X-Graft-Databases-Catching-Up`
  *    while a commit on this instance is in flight (the repo's
  *    synchronous analog of "latest processed < latest submitted msg
  *    id"); 200 "Started." once none is
  *  - `GET /healthz/alive`   → per-table block lag = physical files
  *    beyond one per storage bucket (the uncompacted backlog the
  *    reference reads from its BlockCatalog); lag > 5 → 503
  *    "Unhealthy: <table> (block lag: n)" with
  *    `X-Graft-Databases-Checked` / `X-Graft-Databases-Unhealthy`
  *    headers, else 200 "Alive."
  *  - `GET /healthz/ready`   → 200 "Ready."
  *  - `POST /system/finish-block[?table=t]` → runs compaction (the
  *    repo's block-finish) on one or all tables, like the reference's
  *    FlushBlock log message
  *
  * JDK-built-in httpserver, no extra dependency; `port = 0` binds an
  * ephemeral port (read it back via `getAddress.getPort`). */
object Healthz {

  /** Reference healthz.clj's block-lag health threshold. */
  val BlockLagHealthy = 5

  private val indexHtml =
    """<!DOCTYPE html>
      |<html>
      |<head><title>Graft Healthz API</title></head>
      |<body>
      |  <h1>Graft Healthz API</h1>
      |  <p>/metrics, /healthz/started, /healthz/alive, /healthz/ready,
      |  POST /system/finish-block</p>
      |</body>
      |</html>""".stripMargin

  /** Uncompacted backlog per table — delegates to the engine's own
    * measure ([[XtDb.blockLag]]), which the auto-compaction trigger
    * (`XtDb.compactIfLagged`) shares. */
  def blockLag(db: XtDb, table: String): Long = db.blockLag(table)

  def serve(spark: SparkSession, db: Option[XtDb], port: Int = 0)
      : HttpServer = {
    val server = HttpServer.create(new java.net.InetSocketAddress(port), 0)

    def respond(ex: HttpExchange, status: Int, body: String,
        headers: Seq[(String, String)] = Nil,
        contentType: String = "text/plain; charset=utf-8"): Unit = {
      val bytes = body.getBytes("UTF-8")
      headers.foreach { case (k, v) => ex.getResponseHeaders.set(k, v) }
      ex.getResponseHeaders.set("Content-Type", contentType)
      ex.sendResponseHeaders(status, bytes.length)
      val os = ex.getResponseBody
      os.write(bytes); os.close()
    }

    server.createContext("/", (ex: HttpExchange) =>
      if (ex.getRequestURI.getPath == "/")
        respond(ex, 200, indexHtml,
          contentType = "text/html; charset=utf-8")
      else respond(ex, 404, "Not found"))

    server.createContext("/metrics", (ex: HttpExchange) =>
      respond(ex, 200, EngineMetrics.prometheusBody(spark, db),
        contentType = "text/plain; version=0.0.4; charset=utf-8"))

    server.createContext("/healthz/started", (ex: HttpExchange) =>
      try {
        val catching = db.exists(_.commitInFlight)
        if (catching)
          respond(ex, 503, "Catching up: transactions in flight",
            Seq("X-Graft-Databases-Catching-Up" -> "1"))
        else respond(ex, 200, "Started.")
      } catch {
        case e: Exception => respond(ex, 500, s"probe failed: ${e.getMessage}")
      })

    server.createContext("/healthz/alive", (ex: HttpExchange) =>
      try {
        val tables = db.map(_.tables).getOrElse(Nil)
        val problems = db.toSeq.flatMap { d =>
          tables.flatMap { t =>
            val lag = blockLag(d, t)
            if (lag > BlockLagHealthy) Some(t -> lag) else None
          }
        }
        val hdrs = Seq(
          "X-Graft-Databases-Checked" -> tables.size.toString,
          "X-Graft-Databases-Unhealthy" -> problems.size.toString)
        if (problems.nonEmpty)
          respond(ex, 503, "Unhealthy: " + problems
            .map { case (t, lag) => s"$t (block lag: $lag)" }
            .mkString(", "), hdrs)
        else respond(ex, 200, "Alive.", hdrs)
      } catch {
        case e: Exception => respond(ex, 500, s"probe failed: ${e.getMessage}")
      })

    server.createContext("/healthz/ready", (ex: HttpExchange) =>
      respond(ex, 200, "Ready."))

    server.createContext("/system/finish-block", (ex: HttpExchange) =>
      if (ex.getRequestMethod != "POST")
        respond(ex, 405, "POST required")
      else
        try {
          val q = Option(ex.getRequestURI.getQuery).getOrElse("")
          val wanted = q.split("&").collectFirst {
            case kv if kv.startsWith("table=") => kv.substring(6)
          }
          val unknown = for {
            d <- db; t <- wanted if !d.tables.contains(t)
          } yield t
          unknown match {
            case Some(t) =>
              // a client naming a missing table is a 404, not a server
              // fault — and no 'requirement failed:' prefix coupling
              respond(ex, 404, s"Unknown table: $t")
            case None =>
              val targets = db.map { d =>
                wanted.map(Seq(_)).getOrElse(d.tables)
              }.getOrElse(Nil)
              db.foreach(d => targets.foreach(d.compact))
              respond(ex, 200,
                s"Compaction run on ${targets.size} table(s).")
          }
        } catch {
          case e: Exception => respond(ex, 500,
            s"Error finishing block: ${e.getMessage}")
        })

    server.setExecutor(null) // probes are tiny metadata reads
    server.start()
    server
  }
}
