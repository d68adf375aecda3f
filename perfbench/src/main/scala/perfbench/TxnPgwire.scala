package perfbench

import graft.pgwire.PgServer
import graft.sql.XtSqlEngine

/** `txn_pgwire`: the serving side. The seeded bitemporal store is served
  * to three closed-loop clients at once: one in-process [[TxnClient]]
  * (write-heavy, uniform keys, texts that never repeat) and two
  * [[WireClient]]s on their own `PgServer` connections (read-heavy, Zipf
  * keys over small hot sets, texts that repeat). They share the session,
  * the Spark scheduler and the single-writer commit path.
  */
object TxnPgwire {

  val Sf = 0.02
  val SetupRepeats = 3
  val WireClients = 2
  val HotKeys = 32

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val rec = ctx.recorder
    val trace = ctx.trace
    val (store, setups) = Store.seed(ctx, Sf, SetupRepeats)
    val rngs = (0 to WireClients).map(i => new scala.util.Random(ctx.seed * 1000003L + i))
    // each wire client's hot set: HotKeys consecutive orders in its own
    // slice of the id space
    val slice = store.orderCount / WireClients
    val hots = (0 until WireClients).map { c =>
      val base = c * slice + rngs(c + 1).nextLong(slice - HotKeys)
      base until base + HotKeys
    }
    val txn = new TxnClient(store, new XtSqlEngine(spark, store.db), rec, rngs(0),
      id => hots.exists(_.contains(id)))
    val server = new PgServer(spark, store.db).start()
    val conns = scala.collection.mutable.ArrayBuffer.empty[PgClient]
    try {
      val connectMs = hots.map { _ =>
        val t0 = System.nanoTime()
        conns += new PgClient("127.0.0.1", server.boundPort, "xtdb")
        (System.nanoTime() - t0) / 1e6
      }
      val wires = hots.indices.map(c => new WireClient(store, conns(c), rec, rngs(c + 1), hots(c)))
      val c0 = trace.map(_.begin())
      val in0 = conns.map(_.bytesIn.get).sum
      val out0 = conns.map(_.bytesOut.get).sum

      // cold: each statement shape's first execution in the JVM, alone and
      // in seeded order; the wire clients send the same shapes
      rngs(0).shuffle(TxnClient.Mix.map(_._1)).foreach(k => txn.step(k, s"cold/$k", trace))

      // warm: every client runs rounds of its mix until the deadline; a
      // traced run alternates traced and untraced ops on each client
      val t0 = System.nanoTime()
      val deadline = t0 + (ctx.seconds * 1e9).toLong
      def loop(name: String, mix: Seq[(String, Int)], rng: scala.util.Random)(
          step: (String, String, Option[Trace]) => Unit): Thread =
        new Thread(() => {
          val kinds = TxnClient.rounds(rng, mix)
          var i = 0L
          try while (System.nanoTime() < deadline) {
            val k = kinds.next()
            step(k, s"$name/$k", trace.filter(_ => i % 2 == 1))
            i += 1
          } catch { case e: Exception =>
            rec.failed.incrementAndGet()
            rec.fail(s"$name client stopped: $e")
          }
        }, s"perfbench-$name")
      val threads = loop("txn", TxnClient.Mix, rngs(0))(txn.step) +:
        wires.zipWithIndex.map { case (w, c) => loop(s"wire$c", WireClient.Mix, rngs(c + 1))(w.step) }
      threads.foreach(_.start())
      threads.foreach(_.join())
      val windowS = (System.nanoTime() - t0) / 1e9

      val (cold, samples) = rec.all.partition(_.kind.startsWith("cold/"))
      val wireOps = math.max(1L, samples.count(_.kind.startsWith("wire"))).toDouble
      val (files, bytes) = Proc.du(store.root)
      val userBytes = store.seededUserBytes + txn.userBytes + wires.map(_.userBytes).sum
      val layers = Map("storage.space_amp" -> bytes.toDouble / userBytes) ++ trace.map { tr =>
        val d = tr.counters() - c0.get
        Layers.common(tr, c0.get, (cold.size + samples.size).toLong) ++ Map(
          "bitemporal.backlog_files" ->
            Seq("orders", "customer").map(store.db.storageStats(_)._1).sum.toDouble,
          "storage.files" -> files.toDouble, "storage.bytes" -> bytes.toDouble,
          "storage.write_bytes_per_user_byte" ->
            d.writeBytes.toDouble / math.max(1L, userBytes - store.seededUserBytes),
          "pgwire.connect_ms" -> connectMs.sum / connectMs.size,
          "pgwire.bytes_in_per_op" -> (conns.map(_.bytesIn.get).sum - in0) / wireOps,
          "pgwire.bytes_out_per_op" -> (conns.map(_.bytesOut.get).sum - out0) / wireOps)
      }.getOrElse(Map.empty)
      Outcome(setups, windowS, samples, coldTotalS = cold.map(_.ms).sum / 1000,
        layers = layers, detail = Map("orders_seeded" -> store.orderCount.toDouble))
    } finally {
      conns.foreach(c => try c.close() catch { case _: java.io.IOException => () })
      server.stop()
    }
  }
}
