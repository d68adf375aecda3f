package perfbench

/** A pgwire client of the serving workload: a read-heavy mix over one
  * connection, keys Zipf-skewed over a small hot set of orders that this
  * client alone writes, so the model knows every current value exactly.
  * As-of reads pin the seeding time, so statement texts repeat and the
  * working set fits the caches.
  */
final class WireClient(store: Store, conn: PgClient, rec: Recorder,
    rng: scala.util.Random, val hot: Seq[Long]) {
  import WireClient._

  private val cdf = zipfCdf(hot.size, ZipfExponent)
  private val asOf = Model.literal(store.seedMicros)
  private var writes = 0L
  /** User bytes of every version this client wrote. */
  var userBytes = 0L

  /** Run one op of `kind`, recorded under `label`. */
  def step(kind: String, label: String, tr: Option[Trace]): Unit = {
    val id = hot(zipf(rng, cdf))
    val price = Store.price(rng)
    val text = kind match {
      case "read" => s"SELECT ${Store.OrderCols} FROM orders WHERE _id = $id"
      case "read_asof" =>
        s"SELECT ${Store.OrderCols} FROM orders FOR SYSTEM_TIME AS OF $asOf WHERE _id = $id"
      case "update" =>
        s"UPDATE orders SET o_totalprice = ${Store.sqlDouble(price)} WHERE _id = $id"
    }
    // the server parses the same text; this copy, outside the timed op,
    // prices that step
    tr.foreach { t =>
      val t0 = System.nanoTime()
      graft.sql.XtSqlParser.parse(text)
      t.add("sql.parse_ms", (System.nanoTime() - t0) / 1e6)
      t.add("sql.calls", 1)
    }
    rec.op(label, read = kind != "update", traced = tr.isDefined) {
      tr.fold(conn.query(text))(_.span("pgwire.request_ms")(conn.query(text)))
    } { res =>
      if (kind == "update") {
        if (res.tag.startsWith("UPDATE")) None
        else Some(s"update $id: command tag '${res.tag}'")
      } else {
        val want = if (kind == "read") store.orders.current(id)
          else store.orders.asOf(id, store.seedMicros)
        Model.diff(s"$kind $id", res.rows.map(renderRow), want.toSeq, Store.renderOrder(id, _))
      }
    }.foreach { case (_, ms) =>
      tr.foreach(_.opDone(ms))
      if (kind == "update") store.orders.current(id).foreach { o =>
        // the wire does not return the commit's system time; as-of reads
        // pin the seeding time, so any later stamp orders the version
        writes += 1
        val n = o.copy(price = price)
        store.orders.put(id, store.seedMicros + writes, Some(n))
        userBytes += Store.userBytes(Store.renderOrder(id, n))
      }
    }
  }
}

object WireClient {

  val ZipfExponent = 1.1

  /** One round of op kinds with their counts: 85% reads. */
  val Mix: Seq[(String, Int)] = Seq("read" -> 4, "read_asof" -> 2, "update" -> 1)

  /** Cumulative Zipf weights over ranks 0 until n. */
  def zipfCdf(n: Int, s: Double): Array[Double] = {
    val w = (1 to n).map(k => 1.0 / math.pow(k, s))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }

  def zipf(rng: scala.util.Random, cdf: Array[Double]): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
    math.min(cdf.length - 1, if (i >= 0) i else -i - 1)
  }

  /** A text-format `orders` row, rendered as the model renders it. */
  def renderRow(row: Seq[Option[String]]): String = row match {
    case Seq(Some(id), Some(cust), Some(st), Some(price), Some(prio)) =>
      s"$id|$cust|$st|${java.lang.Double.toString(price.toDouble)}|$prio"
    case other => other.map(_.getOrElse("NULL")).mkString("|")
  }
}
