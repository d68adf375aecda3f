package graft

import graft.bitemporal.XtDb
import graft.sql.{Adbc, XtSqlEngine}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Cross-implementation Arrow interop (the PsqlInteropSpec pattern
  * applied to the Arrow surface): the container ships pyarrow 16 — an
  * Arrow implementation this repo did not author — so both directions
  * are exercised for real: ADBC result bytes parsed by pyarrow, and a
  * pyarrow-written IPC file read back through the `:arrow` source. */
class PyArrowInteropSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.builder(4).getOrCreate()

  private def havePyarrow: Boolean =
    try {
      new ProcessBuilder("python3", "-c", "import pyarrow").start()
        .waitFor() == 0
    } catch { case _: Exception => false }

  private def python(script: String): (Int, String) = {
    val f = java.nio.file.Files.createTempFile("pyarrow_interop", ".py")
    java.nio.file.Files.writeString(f, script)
    val p = new ProcessBuilder("python3", f.toString)
      .redirectErrorStream(true).start()
    val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
    (p.waitFor(), out)
  }

  test("pyarrow parses ADBC result bytes: schema, batching, values") {
    assume(havePyarrow, "pyarrow not available")
    val db = new XtDb(spark,
      java.nio.file.Files.createTempDirectory("graft_pyarrow").toString)
    val conn = new Adbc.Connection(new XtSqlEngine(spark, db))
    conn.execute("INSERT INTO pt RECORDS " + (1 to 7)
      .map(i => s"{_id: $i, name: 'n$i', score: $i.5}").mkString(", "))
    val bytes = conn.createStatement(
        "SELECT _id, name, score FROM pt ORDER BY _id")
      .executeQuery(batchSize = 3)
    val ipc = java.nio.file.Files.createTempFile("graft_adbc", ".arrow")
    java.nio.file.Files.write(ipc, bytes)
    val (rc, out) = python(
      s"""
         |import pyarrow.ipc as ipc
         |r = ipc.open_file("$ipc")
         |t = r.read_all()
         |print("BATCHES", r.num_record_batches)
         |print("COLS", ",".join(t.schema.names))
         |print("IDS", ",".join(str(v.as_py()) for v in t.column("_id")))
         |print("NAME3", t.column("name")[2].as_py())
         |print("SCORE7", t.column("score")[6].as_py())
         |""".stripMargin)
    assert(rc == 0, s"pyarrow failed:\n$out")
    assert(out.contains("BATCHES 3")) // 3 + 3 + 1
    assert(out.contains("COLS _id,name,score"))
    assert(out.contains("IDS 1,2,3,4,5,6,7"))
    assert(out.contains("NAME3 n3"))
    assert(out.contains("SCORE7 7.5"))
  }

  test("the :arrow source reads a pyarrow-written IPC file") {
    assume(havePyarrow, "pyarrow not available")
    val ipc = java.nio.file.Files.createTempFile("pyarrow_made", ".arrow")
    val (rc, out) = python(
      s"""
         |import pyarrow as pa
         |t = pa.table({
         |  "id": pa.array([1, 2, 3], type=pa.int64()),
         |  "tag": pa.array(["a", None, "c"], type=pa.string()),
         |  "x": pa.array([1.5, 2.25, None], type=pa.float64()),
         |  "ok": pa.array([True, False, None], type=pa.bool_()),
         |})
         |with pa.ipc.new_file("$ipc", t.schema) as w:
         |    w.write_table(t)
         |print("WROTE", t.num_rows)
         |""".stripMargin)
    assert(rc == 0 && out.contains("WROTE 3"), s"pyarrow failed:\n$out")
    val back = graft.sources.ArrowSource.read(spark, ipc.toString)
    assert(back.schema.fieldNames.toSeq == Seq("id", "tag", "x", "ok"))
    val rows = back.orderBy("id").collect().map(_.toSeq).toSeq
    assert(rows == Seq(
      Seq(1L, "a", 1.5, true),
      Seq(2L, null, 2.25, false),
      Seq(3L, "c", null, null)))
  }
}
