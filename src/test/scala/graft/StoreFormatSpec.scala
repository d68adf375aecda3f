package graft

import graft.bitemporal.XtDb
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}

/** The store has one on-disk format. A store file in any other format —
  * here the layouts earlier versions wrote — or a missing schema registry
  * fails loudly and names the file, instead of being served through a
  * compatibility branch. And a store whose tx log is unreadable refuses
  * to assign system time. Uses only the public store API. */
class StoreFormatSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.builder(4).getOrCreate()

  private def newDb(tag: String): XtDb = {
    spark.conf.set("spark.graft.autoCompact.maxLag", "-1")
    new XtDb(spark, Files.createTempDirectory(tag).toString)
  }

  /** Overwrite a store file behind Hadoop's back (dropping its local
    * checksum sidecar, which would otherwise reject the new bytes). */
  private def overwrite(p: Path, text: String): Unit = {
    Files.deleteIfExists(p.resolveSibling(s".${p.getFileName}.crc"))
    Files.write(p, text.getBytes("UTF-8"))
  }

  private def put(db: XtDb, t: String, from: Long, to: Long): Unit =
    db.putDocs(t, spark.range(from, to)
      .selectExpr("id AS _id", "CAST(id % 10 AS INT) AS k", "id AS v"))

  private def assertNames(file: String)(read: => Any): Unit = {
    val e = intercept[IllegalStateException](read)
    assert(e.getMessage.contains(file), s"error must name $file: $e")
  }

  test("a v1 snapshot manifest (fingerprint + dir) is refused, naming " +
      "_snapmeta.json") {
    val db = newDb("fmt-snapv1")
    db.declareLayout("t", "k", 4)
    put(db, "t", 1, 101)
    db.compact("t")
    assert(db.currentSnapshotIfValid("t").isDefined)
    // the v1 manifest, valid for this generation: the event-file
    // fingerprint (count, max mtime) of the visible data files and the
    // snapshot's file dir
    val data = Paths.get(db.dataDir("t"))
    val parts = Files.walk(data).toArray.map(_.asInstanceOf[Path])
      .filter(p => p.getFileName.toString.endsWith(".parquet") &&
        !data.relativize(p).toString.split('/').exists(n =>
          n.startsWith("_") || n.startsWith(".")))
    val mtime = parts.map(p => new java.io.File(p.toString).lastModified).max
    val snapDir = Files.list(data).toArray.map(_.asInstanceOf[Path])
      .find(_.getFileName.toString.startsWith("_cs")).get
    val gen = new String(Files.readAllBytes(Paths.get(s"${db.root}/t/_gen")),
      "UTF-8").trim.takeWhile(_ != ':')
    overwrite(Paths.get(s"${db.root}/t/_snapmeta.json"),
      s"""{"gen":$gen,"files":${parts.length},"mtime":$mtime,""" +
        s""""expires":${Long.MaxValue},"key":"k","buckets":4,""" +
        s""""dir":"$snapDir"}""")
    assertNames("_snapmeta.json")(
      new XtDb(spark, db.root).currentSnapshotIfValid("t"))
  }

  test("an event manifest with no format version is refused, naming " +
      "_evmeta.json") {
    val db = newDb("fmt-evmeta")
    put(db, "t", 1, 101)
    db.compact("t")
    overwrite(Paths.get(s"${db.root}/t/_evmeta.json"),
      """{"gen":1,"buckets":16}""")
    assertNames("_evmeta.json")(db.asOf("t").count())
  }

  /** The `_evmeta.json` a fresh compaction of `t` writes: `"v":4`. */
  private def compactedEvMeta(db: XtDb): (Path, String) = {
    put(db, "t", 1, 101)
    db.compact("t")
    val p = Paths.get(s"${db.root}/t/_evmeta.json")
    val v4 = new String(Files.readAllBytes(p), "UTF-8").trim
    assert(v4.startsWith("{\"v\":4,") && v4.endsWith("}"), v4)
    (p, v4.stripPrefix("{\"v\":4,").stripSuffix("}"))
  }

  test("a v2 event manifest (aligned bases in chunk dirs behind a " +
      "`chunks` read fence) is refused, naming _evmeta.json") {
    val db = newDb("fmt-evmeta-v2")
    val (p, fields) = compactedEvMeta(db)
    overwrite(p, "{\"v\":2," + fields + ",\"chunks\":[\"c0.0a1b2c3d\"]}")
    assertNames("_evmeta.json")(new XtDb(spark, db.root).asOf("t").count())
  }

  test("a v3 event manifest (bucket-local purge files in an `excl` " +
      "list) is refused, naming _evmeta.json") {
    val db = newDb("fmt-evmeta-v3")
    val (p, fields) = compactedEvMeta(db)
    // read as v4, the purge-superseded file would be served again
    overwrite(p, "{\"v\":3," + fields +
      ",\"excl\":[\"part-0_00003.c000.snappy.parquet\"]," +
      "\"ebk\":[3],\"emsf\":0}")
    assertNames("_evmeta.json")(new XtDb(spark, db.root).asOf("t").count())
  }

  test("a generation pointer holding only the number is refused, naming " +
      "_gen") {
    val db = newDb("fmt-gen")
    put(db, "t", 1, 101)
    (1 to 3).foreach(_ => db.compact("t"))
    // the older pointer shape: `<n>`, resolving to the dir `g<n>`
    val tdir = Paths.get(s"${db.root}/t")
    val live = Paths.get(db.dataDir("t"))
    assert(live.getFileName.toString.startsWith("g3_"))
    Files.move(live, tdir.resolve("g3"))
    overwrite(tdir.resolve("_gen"), "3")
    assertNames("_gen")(db.asOf("t").count())
  }

  test("a compacted table whose schema registry is gone is refused, " +
      "naming the registry file") {
    val db = newDb("fmt-registry")
    put(db, "t", 1, 101)
    db.compact("t")
    val registry = Paths.get(s"${db.root}/_schemas/t.json")
    Files.delete(registry)
    Files.deleteIfExists(registry.resolveSibling(".t.json.crc"))
    // the registry is the schema: no read guesses it from file footers
    assertNames("_schemas/t.json")(db.asOf("t").count())
  }

  test("a store whose tx log is unreadable refuses to hand out a " +
      "snapshot token instead of falling back to the wall clock") {
    val db = newDb("fmt-txs")
    put(db, "t", 1, 11)
    Files.write(Paths.get(s"${db.root}/_txs/damaged.parquet"),
      "not parquet".getBytes("UTF-8"))
    intercept[Exception](new XtDb(spark, db.root).snapshotToken())
  }
}
