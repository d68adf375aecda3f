package graft

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets

import graft.bitemporal.XtDb
import graft.sources.PgOutputCdc
import graft.sources.PgOutputCdc._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** CDC ingest over the pgoutput logical-replication protocol: the specs
  * hand-encode the exact bytes a `START_REPLICATION` session ships
  * (postgresql.org protocol-logicalrep-message-formats) and replay them
  * through parse → transactions → applyTx (reference
  * modules/postgres-source: PgOutputMessage.kt parse symmetry,
  * DirectMirror/PgIndexer apply semantics). */
class CdcSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.builder(4).getOrCreate()

  // ---- wire-format encoder (what a real PG server sends) ----------------

  private def cstr(s: String): Array[Byte] =
    s.getBytes(StandardCharsets.UTF_8) :+ 0.toByte

  private def buf(size: Int = 1024)(f: ByteBuffer => Unit): Array[Byte] = {
    val b = ByteBuffer.allocate(size); f(b)
    java.util.Arrays.copyOf(b.array(), b.position())
  }

  private def relation(relId: Int, schema: String, table: String,
      cols: Seq[(String, Int, Boolean)], replident: Char = 'd') =
    buf() { b =>
      b.put('R'.toByte).putInt(relId).put(cstr(schema)).put(cstr(table))
        .put(replident.toByte).putShort(cols.size.toShort)
      cols.foreach { case (name, oid, isKey) =>
        b.put((if (isKey) 1 else 0).toByte).put(cstr(name))
          .putInt(oid).putInt(-1)
      }
    }

  private def tuple(b: ByteBuffer, cells: Seq[Option[String]],
      unchanged: Set[Int] = Set.empty): Unit = {
    b.putShort(cells.size.toShort)
    cells.zipWithIndex.foreach {
      case (_, i) if unchanged(i) => b.put('u'.toByte)
      case (None, _) => b.put('n'.toByte)
      case (Some(t), _) =>
        val bytes = t.getBytes(StandardCharsets.UTF_8)
        b.put('t'.toByte).putInt(bytes.length).put(bytes)
    }
  }

  private def begin(xid: Int, commitMicros: Long) = buf() { b =>
    b.put('B'.toByte).putLong(123L).putLong(commitMicros).putInt(xid)
  }
  private def commit(commitMicros: Long) = buf() { b =>
    b.put('C'.toByte).put(0.toByte).putLong(123L).putLong(124L)
      .putLong(commitMicros)
  }
  private def insert(relId: Int, cells: Seq[Option[String]]) = buf() { b =>
    b.put('I'.toByte).putInt(relId).put('N'.toByte); tuple(b, cells)
  }
  private def update(relId: Int, cells: Seq[Option[String]],
      old: Option[(Char, Seq[Option[String]])] = None,
      unchanged: Set[Int] = Set.empty) = buf() { b =>
    b.put('U'.toByte).putInt(relId)
    old.foreach { case (kind, oc) => b.put(kind.toByte); tuple(b, oc) }
    b.put('N'.toByte); tuple(b, cells, unchanged)
  }
  private def delete(relId: Int, old: Seq[Option[String]],
      kind: Char = 'K') = buf() { b =>
    b.put('D'.toByte).putInt(relId).put(kind.toByte); tuple(b, old)
  }
  private def typeMsg(oid: Int, ns: String, name: String) = buf() { b =>
    b.put('Y'.toByte).putInt(oid).put(cstr(ns)).put(cstr(name))
  }

  // µs since PG epoch for a wall-clock far beyond any test log head
  private def pgMicros(unixSeconds: Long): Long =
    unixSeconds * 1000000L - 946684800000000L

  private val t0 = 4102444800L // 2100-01-01, beyond nextSystemTime()

  // the replayed system times sit in 2100 (they must land after the fresh
  // log head), so snapshots read as-of AFTER the last commit, not now()
  private def stateAt(db: XtDb, table: String, unixSec: Long) = {
    val ts = java.sql.Timestamp.from(
      java.time.Instant.ofEpochSecond(unixSec))
    db.asOf(table, Some(lit(ts)), Some(lit(ts)))
  }

  test("parse round-trips every message type; unknown type throws") {
    val rel = PgOutputCdc.parse(relation(7, "public", "accounts",
      Seq(("id", 20, true), ("name", 25, false))))
    assert(rel == Relation(7, "public", "accounts", 'd',
      Seq(RelColumn("id", 20, true), RelColumn("name", 25, false))))
    assert(PgOutputCdc.parse(typeMsg(60000, "public", "mood")) ==
      TypeMsg(60000, "public", "mood"))
    assert(PgOutputCdc.parse(begin(42, 1000L)) == Begin(123L, 1000L, 42))
    assert(PgOutputCdc.parse(commit(1000L)) == Commit(123L, 124L, 1000L))
    assert(PgOutputCdc.parse(insert(7, Seq(Some("1"), None))) ==
      Insert(7, Seq(CdcText("1"), CdcNull)))
    assert(PgOutputCdc.parse(
      update(7, Seq(Some("1"), Some("x")), unchanged = Set(1))) ==
      Update(7, None, None, Seq(CdcText("1"), CdcUnchanged)))
    assert(PgOutputCdc.parse(
      update(7, Seq(Some("2"), Some("x")),
        old = Some(('K', Seq(Some("1"), None))))) ==
      Update(7, Some('K'), Some(Seq(CdcText("1"), CdcNull)),
        Seq(CdcText("2"), CdcText("x"))))
    assert(PgOutputCdc.parse(delete(7, Seq(Some("1"), None))) ==
      Delete(7, 'K', Seq(CdcText("1"), CdcNull)))
    intercept[UnsupportedOperationException] {
      PgOutputCdc.parse(Array('Z'.toByte, 0, 0))
    }
  }

  test("replay: inserts, full update, TOAST patch, delete — atomic per tx") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("cdc1").toString
    val db = new XtDb(spark, root)
    val rel = relation(1, "public", "accounts",
      Seq(("id", 20, true), ("name", 25, false), ("balance", 701, false)))

    val log: Seq[Array[Byte]] = Seq(
      rel,
      begin(10, pgMicros(t0)),
      insert(1, Seq(Some("1"), Some("alice"), Some("10.5"))),
      insert(1, Seq(Some("2"), Some("bob"), Some("20.0"))),
      insert(1, Seq(Some("3"), Some("carol"), None)),
      commit(pgMicros(t0)),
      begin(11, pgMicros(t0 + 60)),
      // full-row update (replica identity unchanged -> no old tuple)
      update(1, Seq(Some("1"), Some("alice2"), Some("11.0"))),
      // TOASTed column 'name' unchanged -> PATCH keeps stored value
      update(1, Seq(Some("2"), Some("ignored"), Some("22.0")),
        unchanged = Set(1)),
      delete(1, Seq(Some("3"), None, None)),
      commit(pgMicros(t0 + 60)))

    val applied = PgOutputCdc.applyLog(db, spark, log.iterator)
    assert(applied == 2)

    val state = stateAt(db, "accounts", t0 + 3600)
      .select("_id", "name", "balance")
      .as[(Long, String, Option[Double])].collect().toSet
    assert(state == Set(
      (1L, "alice2", Some(11.0)),
      (2L, "bob", Some(22.0)))) // name survived the TOAST-unchanged update

    // system time = SOURCE commit time; tx1's state visible as-of tx1
    val ts1 = java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(t0))
    val atTx1 = db.asOf("accounts", Some(lit(ts1)), Some(lit(ts1)))
      .select("_id").as[Long].collect().toSet
    assert(atTx1 == Set(1L, 2L, 3L))
    // both txs atomic: exactly 2 committed entries in the log
    assert(db.txs.filter(col("committed")).count() == 2)
  }

  test("key-changing update deletes the old identity") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("cdc2").toString
    val db = new XtDb(spark, root)
    val rel = relation(2, "public", "kv",
      Seq(("k", 25, true), ("v", 23, false)))
    val log = Seq(
      rel,
      begin(20, pgMicros(t0)),
      insert(2, Seq(Some("a"), Some("1"))),
      commit(pgMicros(t0)),
      begin(21, pgMicros(t0 + 1)),
      update(2, Seq(Some("b"), Some("2")),
        old = Some(('K', Seq(Some("a"), None)))),
      commit(pgMicros(t0 + 1)))
    PgOutputCdc.applyLog(db, spark, log.iterator)
    val state = stateAt(db, "kv", t0 + 3600).select("_id", "v")
      .as[(String, Int)].collect().toSet
    assert(state == Set(("b", 2)))
  }

  test("composite keys join as text; indexer can reroute, mask and drop") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("cdc3").toString
    val db = new XtDb(spark, root)
    val rel = relation(3, "public", "line_items",
      Seq(("order_id", 20, true), ("line_no", 23, true),
        ("sku", 25, false), ("ssn", 25, false)))
    val log = Seq(
      rel,
      begin(30, pgMicros(t0)),
      insert(3, Seq(Some("7"), Some("1"), Some("widget"), Some("123-45"))),
      insert(3, Seq(Some("7"), Some("2"), Some("gadget"), Some("678-90"))),
      insert(3, Seq(Some("8"), Some("1"), Some("DROPME"), None)),
      commit(pgMicros(t0)))

    // reroute to a different table, mask ssn, drop order 8 entirely —
    // the reference PgIndexer contract (PgIndexer.kt doc)
    val indexer = new CdcIndexer {
      override def targetTable(op: RowChange) = "items_masked"
      override def route(op: RowChange): Option[RowChange] =
        if (op.row.get("order_id").contains(8L)) None
        else Some(op.copy(row = op.row.updated("ssn", "****")))
    }
    PgOutputCdc.applyLog(db, spark, log.iterator, indexer)

    val rows = stateAt(db, "items_masked", t0 + 3600)
      .select("_id", "sku", "ssn")
      .as[(String, String, String)].collect().toSet
    assert(rows == Set(("7|1", "widget", "****"), ("7|2", "gadget", "****")))
  }

  test("colliding source commit times bump monotonically, order preserved") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("cdc4").toString
    val db = new XtDb(spark, root)
    val rel = relation(4, "public", "t", Seq(("id", 23, true),
      ("v", 23, false)))
    // two txs with the SAME µs commit time: second must not abort and
    // must supersede the first
    val log = Seq(
      rel,
      begin(40, pgMicros(t0)),
      insert(4, Seq(Some("1"), Some("10"))),
      commit(pgMicros(t0)),
      begin(41, pgMicros(t0)),
      update(4, Seq(Some("1"), Some("20"))),
      commit(pgMicros(t0)))
    PgOutputCdc.applyLog(db, spark, log.iterator)
    val v = stateAt(db, "t", t0 + 3600).select("v").as[Int].collect().toSeq
    assert(v == Seq(20))
    assert(db.history("t").filter(col("_id") === 1).count() >= 2)
  }
}
