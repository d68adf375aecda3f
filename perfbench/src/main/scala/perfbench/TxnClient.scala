package perfbench

import graft.sql.{XtSqlEngine, XtSqlParser}
import org.apache.spark.sql.Row

/** The in-process transactional client: a write-heavy mix of SQL texts
  * sent through `XtSqlEngine`. Keys are uniform over the ids it owns, so
  * statement texts almost never repeat and no statement-level cache holds
  * the working set. Every read is checked against the [[Model]];
  * `foreign` marks the ids other clients write, which it neither writes
  * nor reads.
  */
final class TxnClient(store: Store, eng: XtSqlEngine, rec: Recorder,
    rng: scala.util.Random, foreign: Long => Boolean) {
  import TxnClient._

  private val db = store.db
  private val commits = scala.collection.mutable.ArrayBuffer(store.seedMicros)
  private val written = scala.collection.mutable.ArrayBuffer.empty[Long]
  private var nextOrder = store.orderCount
  /** User bytes of every version this client wrote. */
  var userBytes = 0L

  private def anyOrder(): Long =
    Iterator.continually(rng.nextLong(nextOrder)).find(!foreign(_)).get
  private def asOfKey(): Long =
    if (written.nonEmpty && rng.nextBoolean()) written(rng.nextInt(written.size))
    else anyOrder()
  private def pastCommit(): Long = commits(rng.nextInt(commits.size))

  /** Run one op of `kind`, recorded under `label`. */
  def step(kind: String, label: String, tr: Option[Trace]): Unit = kind match {
    case "update" | "insert" | "delete" | "multi" =>
      val w = write(kind)
      val before = tr.map(_ => w.tables.map(db.storageStats))
      rec.op(label, read = false, traced = tr.isDefined)(
        submit(w.texts, tr))(_ => None).foreach { case (ts, ms) =>
        val at = Model.micros(ts)
        commits += at
        w.apply(at).foreach { case (id, bytes) => written += id; userBytes += bytes }
        tr.foreach { t =>
          t.opDone(ms)
          // a compaction starts a new generation or shrinks the backlog
          val after = w.tables.map(db.storageStats)
          if (before.get.zip(after).exists { case (b, a) => a._3 != b._3 || a._1 < b._1 }) {
            t.add("bitemporal.compactions", 1)
            t.add("bitemporal.compaction_tx_ms", ms)
          }
        }
      }
    case "agg_asof" =>
      val lo = Iterator.continually(anyOrder()).find(l => !(l until l + 100).exists(foreign)).get
      val at = pastCommit()
      read(label, tr, s"SELECT count(*) AS n, sum(o_totalprice) AS total FROM orders " +
          s"FOR SYSTEM_TIME AS OF ${Model.literal(at)} WHERE _id >= $lo AND _id < ${lo + 100}") {
        rows =>
          val docs = (lo until lo + 100).flatMap(store.orders.asOf(_, at))
          checkAgg(s"orders [$lo, ${lo + 100}) as of $at", rows, docs)
      }
    case "read" if rng.nextInt(4) == 0 =>
      val id = rng.nextLong(store.customerCount)
      read(label, tr, s"SELECT ${Store.CustomerCols} FROM customer WHERE _id = $id") { rows =>
        Model.diff(s"customer $id", rows.map(renderCustomerRow),
          store.customers.current(id).toSeq, Store.renderCustomer(id, _))
      }
    case "read" | "read_asof" =>
      val id = if (kind == "read") anyOrder() else asOfKey()
      val at = if (kind == "read") None else Some(pastCommit())
      val axis = if (rng.nextBoolean()) "SYSTEM_TIME" else "VALID_TIME"
      val clause = at.fold("")(t => s" FOR $axis AS OF ${Model.literal(t)}")
      read(label, tr, s"SELECT ${Store.OrderCols} FROM orders$clause WHERE _id = $id") { rows =>
        Model.diff(s"order $id${at.fold("")(t => s" $axis as of $t")}",
          rows.map(renderOrderRow),
          at.fold(store.orders.current(id))(store.orders.asOf(id, _)).toSeq,
          Store.renderOrder(id, _))
      }
  }

  private def read(label: String, tr: Option[Trace], text: String)(
      check: Array[Row] => Option[String]): Unit =
    rec.op(label, read = true, traced = tr.isDefined) {
      tr match {
        case None => eng.sql(text).collect()
        case Some(t) =>
          t.span("sql.parse_ms")(XtSqlParser.parse(text))
          t.add("sql.calls", 1)
          t.query("sql.engine_ms")(eng.sql(text))
      }
    }(check).foreach { case (_, ms) => tr.foreach(_.opDone(ms)) }

  /** Commit `texts` as one transaction; returns its system time. A traced
    * commit runs the engine's own steps one by one: parse, plan the tx
    * ops, submit. */
  private def submit(texts: Seq[String], tr: Option[Trace]): java.sql.Timestamp = tr match {
    case None =>
      if (texts.size == 1) eng.sql(texts.head).collect().head.getTimestamp(0)
      else eng.submitTxSql(texts)
    case Some(t) =>
      val stmts = texts.map(s => t.span("sql.parse_ms")(XtSqlParser.parse(s)))
      val ops = t.span("sql.engine_ms")(stmts.map(eng.toTxOp))
      val c = t.counters()
      val ts = t.span("bitemporal.submit_ms")(db.submitTx(ops))
      t.add("bitemporal.jobs_per_tx", (t.counters() - c).jobs.toDouble)
      t.add("sql.calls", texts.size.toDouble)
      ts
  }

  /** A write: its statement texts, the tables they touch, and how the model
    * changes once the engine returns the commit's system time (yielding
    * each written id with the user bytes of its new version). */
  private final case class Write(texts: Seq[String], tables: Seq[String],
      apply: Long => Seq[(Long, Long)])

  private def updateOrder(id: Long, at: Long, f: Order => Order): Seq[(Long, Long)] =
    store.orders.current(id).toSeq.map { o =>
      val n = f(o)
      store.orders.put(id, at, Some(n))
      id -> Store.userBytes(Store.renderOrder(id, n))
    }

  private def write(kind: String): Write = kind match {
    case "update" =>
      val id = anyOrder()
      val p = Store.price(rng)
      val st = Statuses(rng.nextInt(Statuses.size))
      Write(Seq(s"UPDATE orders SET o_totalprice = ${Store.sqlDouble(p)}, " +
        s"o_orderstatus = '$st' WHERE _id = $id"), Seq("orders"),
        at => updateOrder(id, at, _.copy(price = p, status = st)))
    case "insert" =>
      val id = nextOrder
      nextOrder += 1
      val o = Order(rng.nextLong(store.customerCount), Statuses(rng.nextInt(Statuses.size)),
        Store.price(rng), Priorities(rng.nextInt(Priorities.size)))
      Write(Seq("INSERT INTO orders (_id, o_custkey, o_orderstatus, o_totalprice, " +
        s"o_orderdate, o_orderpriority) VALUES (CAST($id AS BIGINT), " +
        s"CAST(${o.custkey} AS BIGINT), '${o.status}', ${Store.sqlDouble(o.price)}, " +
        s"TIMESTAMP '2001-01-01 00:00:00', '${o.priority}')"), Seq("orders"),
        at => {
          store.orders.put(id, at, Some(o))
          Seq(id -> Store.userBytes(Store.renderOrder(id, o)))
        })
    case "delete" =>
      val id = anyOrder()
      Write(Seq(s"DELETE FROM orders WHERE _id = $id"), Seq("orders"),
        at => store.orders.current(id).toSeq.map { _ =>
          store.orders.put(id, at, None)
          id -> 0L
        })
    case "multi" =>
      val cid = rng.nextLong(store.customerCount)
      val oid = anyOrder()
      val bal = Store.price(rng) / 50
      val prio = Priorities(rng.nextInt(Priorities.size))
      Write(Seq(
        s"UPDATE customer SET c_acctbal = ${Store.sqlDouble(bal)} WHERE _id = $cid",
        s"UPDATE orders SET o_orderpriority = '$prio' WHERE _id = $oid"),
        Seq("customer", "orders"),
        at => store.customers.current(cid).toSeq.map { c =>
          val n = c.copy(acctbal = bal)
          store.customers.put(cid, at, Some(n))
          cid -> Store.userBytes(Store.renderCustomer(cid, n))
        } ++ updateOrder(oid, at, _.copy(priority = prio)))
  }
}

object TxnClient {

  /** One round of op kinds with their counts; half the mix writes. */
  val Mix: Seq[(String, Int)] = Seq(
    "update" -> 2, "insert" -> 1, "delete" -> 1, "multi" -> 1,
    "read" -> 2, "read_asof" -> 2, "agg_asof" -> 1)

  private val Statuses = Seq("F", "O", "P")
  private val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  /** Op kinds in rounds: each round holds every kind of `mix` as often as
    * its count says, in an order the seed shuffles, so every window runs
    * the same mix. */
  def rounds(rng: scala.util.Random, mix: Seq[(String, Int)]): Iterator[String] =
    Iterator.continually(rng.shuffle(mix.flatMap { case (k, n) => Seq.fill(n)(k) }))
      .flatten

  def renderOrderRow(r: Row): String =
    s"${r.getLong(0)}|${r.getLong(1)}|${r.getString(2)}|" +
      s"${java.lang.Double.toString(r.getDouble(3))}|${r.getString(4)}"

  def renderCustomerRow(r: Row): String =
    s"${r.getLong(0)}|${r.getInt(1)}|${java.lang.Double.toString(r.getDouble(2))}|" +
      r.getString(3)

  /** Check an as-of `count(*), sum(o_totalprice)`; the sum is compared
    * with a relative tolerance, since summation order is the engine's. */
  def checkAgg(what: String, rows: Array[Row], docs: Seq[Order]): Option[String] = {
    val n = if (rows.length == 1) rows(0).getLong(0) else -1L
    val total = if (rows.length == 1 && !rows(0).isNullAt(1)) rows(0).getDouble(1) else 0.0
    val want = docs.map(_.price).sum
    if (n == docs.size && math.abs(total - want) <= 1e-9 * math.max(1.0, math.abs(want))) None
    else Some(s"$what: got count $n sum $total want count ${docs.size} sum $want")
  }
}
