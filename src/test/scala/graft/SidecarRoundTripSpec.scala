package graft

import graft.bitemporal.XtDb
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Every field a sidecar writer writes reads back as written: the event
  * manifest and the snapshot manifest, each with every field set away
  * from its default. */
class SidecarRoundTripSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.builder(4).getOrCreate()

  private def newDb(tag: String): XtDb = {
    val root = java.nio.file.Files.createTempDirectory(tag)
    java.nio.file.Files.createDirectories(root.resolve("t"))
    new XtDb(spark, root.toString)
  }

  test("event manifest round-trips every field") {
    val db = newDb("rt-evmeta")
    val m = db.EvMeta(gen = 3, buckets = 32, levels = Seq("_lv1_ab", "_lv2_cd"),
      consumed = Set("part-1.parquet", "part-2.parquet"),
      retired = Seq("_lv0_ef"), lvseq = 7, eraseCycles = 2,
      sweepDirs = Seq("g2_aa"))
    db.writeEvMeta("t", m)
    val written = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"${db.root}/t/_evmeta.json")), "UTF-8")
    assert(written.startsWith("{\"v\":4,"), written)
    assert(db.readEvMeta("t") === Some(m))
  }

  test("snapshot manifest round-trips every field, per-bucket mins " +
      "included") {
    val db = newDb("rt-snapmeta")
    val m = db.SnapMeta2(gen = 2, lvseq = 5, watermark = 1700000000000001L,
      expires = 1800000000000000L, key = "k", buckets = 4, seq = 3,
      files = Seq("_cs3/part-0_00000.parquet|123",
        "_cs3/part-0_00002.parquet|456"),
      retired = Seq("_cs2/part-0_00000.parquet"), bfan = 16,
      bmins = Map(0 -> 1800000000000000L, 9 -> 1900000000000000L))
    db.writeSnapMeta2("t", m)
    assert(db.readSnapMeta2("t") === Some(m))
  }
}
