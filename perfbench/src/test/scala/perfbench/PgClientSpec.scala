package perfbench

import graft.bitemporal.XtDb
import graft.pgwire.PgServer
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's wire client against the engine's own `PgServer`, and the
  * wire op path's output check flagging a wrong model value. */
class PgClientSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]").appName("perfbench-pgclient-spec")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val root = java.nio.file.Files.createTempDirectory("perfbench_pg").toFile
  private var server: PgServer = _

  override def beforeAll(): Unit =
    server = new PgServer(spark, new XtDb(spark, root.getPath)).start()

  override def afterAll(): Unit = {
    if (server != null) server.stop()
    Proc.rmTree(root)
  }

  private def client() = new PgClient("127.0.0.1", server.boundPort, "xtdb")

  test("simple queries round-trip rows, tags and errors; bytes are counted") {
    val c = client()
    try {
      assert(c.query("INSERT INTO orders (_id, o_custkey, o_orderstatus, o_totalprice, " +
        "o_orderpriority) VALUES (CAST(1 AS BIGINT), CAST(7 AS BIGINT), 'O', " +
        "CAST(10.5 AS DOUBLE), '1-URGENT')").tag.startsWith("INSERT"))
      val r = c.query(s"SELECT ${Store.OrderCols} FROM orders WHERE _id = 1")
      assert(r.columns == Seq("_id", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderpriority"))
      assert(r.rows.map(WireClient.renderRow) == Seq("1|7|O|10.5|1-URGENT"))
      assert(c.query("SELECT _id FROM orders WHERE _id = 2").rows.isEmpty)
      assertThrows[PgError](c.query("SELECT FROM WHERE"))
      // the connection stays usable after an error
      assert(c.query("SELECT _id FROM orders WHERE _id = 1").rows == Seq(Seq(Some("1"))))
      assert(c.bytesIn.get > 0 && c.bytesOut.get > 0)
    } finally c.close()
  }

  test("a wire read that disagrees with the model is a failed op") {
    val c = client()
    try {
      c.query("INSERT INTO orders (_id, o_custkey, o_orderstatus, o_totalprice, " +
        "o_orderpriority) VALUES (CAST(5 AS BIGINT), CAST(3 AS BIGINT), 'F', " +
        "CAST(2.25 AS DOUBLE), '5-LOW')")
      val orders = new Model[Order]
      val store = new Store(null, root, orders, new Model[Customer], 10, 10, 0L, 0L)
      val rec = new Recorder
      val wire = new WireClient(store, c, rec, new scala.util.Random(1), Seq(5L))
      orders.put(5, 1, Some(Order(3, "F", 2.25, "5-LOW")))
      wire.step("read", "read", None)
      assert(rec.failed.get == 0 && rec.all.size == 1)
      orders.put(5, 2, Some(Order(3, "F", 2.26, "5-LOW")))
      wire.step("read", "read", None)
      assert(rec.failed.get == 1 && rec.all.size == 1)
      assert(rec.failureMessages.exists(_.contains("2.26")))
    } finally c.close()
  }
}
