package graft

import graft.bitemporal.XtDb
import graft.sql.{Adbc, XtSqlEngine}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** ADBC-shape surface (reference adbc.clj): SQL string in → Arrow IPC
  * batches out, with positional binds and a DML path — verified by
  * reading the produced bytes back through BOTH a raw Arrow reader and
  * the repo's own `:arrow` source. */
class AdbcSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.builder(4).getOrCreate()

  private lazy val conn: Adbc.Connection = {
    val db = new XtDb(spark,
      java.nio.file.Files.createTempDirectory("graft_adbc").toString)
    new Adbc.Connection(new XtSqlEngine(spark, db))
  }

  test("query returns Arrow batches a raw Arrow reader consumes; the " +
      ":arrow source round-trips them") {
    conn.execute("INSERT INTO at RECORDS " +
      "{_id: 1, name: 'a', score: 2.5}, {_id: 2, name: 'b', score: 1.0}, " +
      "{_id: 3, name: 'c', score: 4.25}")
    val bytes = conn.query(
      "SELECT _id, name, score FROM at ORDER BY _id")

    // raw Arrow: schema + values
    val alloc = new org.apache.arrow.memory.RootAllocator()
    val reader = new org.apache.arrow.vector.ipc.ArrowFileReader(
      new org.apache.arrow.vector.util.ByteArrayReadableSeekableByteChannel(
        bytes), alloc)
    try {
      val root = reader.getVectorSchemaRoot
      assert(root.getSchema.getFields.size == 3)
      assert(reader.loadNextBatch())
      assert(root.getRowCount == 3)
      val ids = root.getVector("_id")
      val names = root.getVector("name")
        .asInstanceOf[org.apache.arrow.vector.VarCharVector]
      assert((0 until 3).map(i =>
        ids.getObject(i).asInstanceOf[Number].longValue) == Seq(1L, 2L, 3L))
      assert(new String(names.get(2), "UTF-8") == "c")
      // the decimal column survives with its precision/scale
      val scores = root.getVector("score")
        .asInstanceOf[org.apache.arrow.vector.DecimalVector]
      assert(scores.getObject(2).toPlainString == "4.25")
    } finally { reader.close(); alloc.close() }

    // the engine's own :arrow source reads the result relation back
    val back = graft.sources.ArrowSource.readBytes(spark, bytes, streaming = false)
    val got = back.orderBy("_id").collect().map { r =>
      (r.get(0).asInstanceOf[Number].longValue, r.getString(1),
        r.getDecimal(2).doubleValue)
    }.toSeq
    assert(got == Seq((1L, "a", 2.5), (2L, "b", 1.0), (3L, "c", 4.25)))
  }

  test("positional binds render by ordinal; literals with quotes stay " +
      "literal") {
    conn.execute("INSERT INTO bt RECORDS " +
      "{_id: 10, tag: 'x''y'}, {_id: 11, tag: 'plain'}")
    val out = conn.createStatement(
        "SELECT _id FROM bt WHERE tag = ? AND _id >= ?")
      .bind("x'y", 5L).executeDataFrame()
    assert(out.collect()
      .map(_.get(0).asInstanceOf[Number].longValue).toSeq == Seq(10L))
    // a ? inside a string literal is NOT a placeholder
    val lit = conn.createStatement("SELECT count(*) AS n FROM bt " +
        "WHERE tag <> '?'").executeDataFrame()
    assert(lit.collect().head.getLong(0) == 2L)
    // arity mismatches fail loudly in both directions
    intercept[IllegalArgumentException](conn.createStatement(
      "SELECT 1 WHERE 1 = ?").boundSql)
    intercept[IllegalArgumentException](conn.createStatement(
      "SELECT 1").bind(1, 2).boundSql)
  }

  test("batchSize splits the result into multiple record batches; " +
      "zero-row results keep the schema") {
    conn.execute("INSERT INTO ct RECORDS " + (1 to 10)
      .map(i => s"{_id: $i, v: $i}").mkString(", "))
    val bytes = conn.createStatement("SELECT _id, v FROM ct ORDER BY _id")
      .executeQuery(batchSize = 4)
    val alloc = new org.apache.arrow.memory.RootAllocator()
    val reader = new org.apache.arrow.vector.ipc.ArrowFileReader(
      new org.apache.arrow.vector.util.ByteArrayReadableSeekableByteChannel(
        bytes), alloc)
    try {
      assert(reader.getRecordBlocks.size == 3) // 4 + 4 + 2
      var total = 0
      while (reader.loadNextBatch())
        total += reader.getVectorSchemaRoot.getRowCount
      assert(total == 10)
    } finally { reader.close(); alloc.close() }

    val empty = conn.query("SELECT _id FROM ct WHERE _id < 0")
    val back = graft.sources.ArrowSource.readBytes(spark, empty, streaming = false)
    assert(back.schema.fieldNames.toSeq == Seq("_id"))
    assert(back.count() == 0)
  }

  test("binds are injection-safe under backslashes; non-finite floats " +
      "render as typed casts; ? after an escaped quote stays live") {
    conn.execute("INSERT INTO et RECORDS " +
      "{_id: 1, tag: 'safe'}, {_id: 2, tag: 'x'}")
    // a trailing backslash must not swallow the closing quote, and a
    // crafted `\' OR 1=1 --` suffix must stay INSIDE the literal
    val evil = conn.createStatement("SELECT count(*) AS n FROM et " +
        "WHERE tag = ?").bind("x\\' OR 1=1 --").executeDataFrame()
    assert(evil.collect().head.getLong(0) == 0L)
    val trailing = conn.createStatement("SELECT count(*) AS n FROM et " +
        "WHERE tag = ?").bind("x\\").executeDataFrame()
    assert(trailing.collect().head.getLong(0) == 0L)
    // the scanner honors \' inside SQL-text literals: the ? that follows
    // is a real placeholder, not string-interior
    val after = conn.createStatement("SELECT count(*) AS n FROM et " +
        "WHERE tag <> 'it\\'s' AND _id = ?").bind(1L).executeDataFrame()
    assert(after.collect().head.getLong(0) == 1L)
    // non-finite doubles parse and compare as real NaN/Infinity values
    val nan = conn.createStatement("SELECT isnan(?) AS a, ? = " +
        "double('Infinity') AS b")
      .bind(Double.NaN, Double.PositiveInfinity).executeDataFrame()
    val r = nan.collect().head
    assert(r.getBoolean(0) && r.getBoolean(1))
  }

  test("executeUpdate returns the committed row count and rejects " +
      "queries") {
    val n = conn.execute("INSERT INTO ut RECORDS " +
      "{_id: 1, v: 1}, {_id: 2, v: 2}, {_id: 3, v: 3}")
    assert(n == 3L)
    val upd = conn.createStatement("UPDATE ut SET v = v + 10 WHERE _id <= 2")
      .executeUpdate()
    assert(upd == 2L)
    intercept[Exception](
      conn.createStatement("SELECT * FROM ut").executeUpdate())
  }
}
