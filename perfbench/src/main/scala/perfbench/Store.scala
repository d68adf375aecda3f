package perfbench

import graft.bitemporal.XtDb
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** One `orders` document as the benchmark writes and reads it. */
final case class Order(custkey: Long, status: String, price: Double,
    priority: String)

/** One `customer` document as the benchmark writes and reads it. */
final case class Customer(nation: Int, acctbal: Double, segment: String)

/** The seeded bitemporal store the transactional workloads share: the
  * generated `customer` and `orders` tables put as documents (`_id` = the
  * table key) into an `XtDb`, then compacted once, which also opts both
  * tables into auto-compaction. The model starts from the same rows.
  */
final class Store(val db: XtDb, val root: java.io.File,
    val orders: Model[Order], val customers: Model[Customer],
    val orderCount: Long, val customerCount: Long, val seedMicros: Long,
    val seededUserBytes: Long)

object Store {

  val OrderCols = "_id, o_custkey, o_orderstatus, o_totalprice, o_orderpriority"
  val CustomerCols = "_id, c_nationkey, c_acctbal, c_mktsegment"

  def renderOrder(id: Long, o: Order): String =
    s"$id|${o.custkey}|${o.status}|${java.lang.Double.toString(o.price)}|${o.priority}"
  def renderCustomer(id: Long, c: Customer): String =
    s"$id|${c.nation}|${java.lang.Double.toString(c.acctbal)}|${c.segment}"

  /** Bytes of user data one document version carries, as the model
    * renders it. */
  def userBytes(rendered: String): Long = rendered.getBytes("UTF-8").length.toLong

  /** Generate the input documents once, then seed `repeats` stores from
    * them, timing each seeding (put both tables, compact both). The last
    * store is kept and the others are deleted. */
  def seed(ctx: Ctx, sf: Double, repeats: Int): (Store, Seq[Double]) = {
    val spark = ctx.spark
    val seed = ctx.seed
    val work = ctx.work
    val s = Gen.Sizes(sf)
    val input = new java.io.File(work, "docs").getPath
    Gen.customer(spark, seed, s).withColumnRenamed("c_custkey", "_id")
      .drop("c_name").write.parquet(s"$input/customer")
    Gen.orders(spark, seed, s).withColumnRenamed("o_orderkey", "_id")
      .write.parquet(s"$input/orders")
    val cust = spark.read.parquet(s"$input/customer")
    val ord = spark.read.parquet(s"$input/orders")
    Main.sizePolicy(ctx, Proc.du(new java.io.File(input))._2 / (1024 * 1024))

    val seeded = (1 to repeats).map { i =>
      val root = new java.io.File(work, s"store$i")
      val t0 = System.nanoTime()
      val db = new XtDb(spark, root.getPath)
      db.putDocs("customer", cust)
      val at = db.putDocs("orders", ord)
      db.compact("customer")
      db.compact("orders")
      (db, root, Model.micros(at), (System.nanoTime() - t0) / 1e9)
    }
    seeded.init.foreach { case (_, root, _, _) => Proc.rmTree(root) }
    val (db, root, seedMicros, _) = seeded.last

    val orders = new Model[Order]
    val customers = new Model[Customer]
    var bytes = 0L
    ord.select(col("_id"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderpriority")).collect().foreach { r =>
      val o = Order(r.getLong(1), r.getString(2), r.getDouble(3), r.getString(4))
      orders.put(r.getLong(0), seedMicros, Some(o))
      bytes += userBytes(renderOrder(r.getLong(0), o))
    }
    // customers commit just before the orders; reads of customers are
    // current-time reads only, so the seeding time stands in for theirs
    cust.select(col("_id"), col("c_nationkey"), col("c_acctbal"),
        col("c_mktsegment")).collect().foreach { r =>
      val c = Customer(r.getInt(1), r.getDouble(2), r.getString(3))
      customers.put(r.getLong(0), seedMicros, Some(c))
      bytes += userBytes(renderCustomer(r.getLong(0), c))
    }
    (new Store(db, root, orders, customers, s.orders, s.customers, seedMicros,
      bytes), seeded.map(_._4))
  }

  def price(rng: scala.util.Random): Double = (100000 + rng.nextInt(49900000)) / 100.0
  def sqlDouble(v: Double): String = s"CAST(${java.lang.Double.toString(v)} AS DOUBLE)"
}
