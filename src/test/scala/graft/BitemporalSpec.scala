package graft

import graft.bitemporal.{Bitemporal, XtDb}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end bitemporal scenario from FIXTURES.md §5 (patterned on the
  * reference's as_of_test.clj / temporal_test.clj): insert, update, delete,
  * explicit valid-time portion, erase, patch — asserted through the XtDb
  * storage + resolve stack. */
class BitemporalSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.builder(4).getOrCreate()

  private def freshDb(): XtDb = {
    val dir = java.nio.file.Files.createTempDirectory("xtdb-spec").toString
    new XtDb(spark, dir)
  }

  test("insert / update / as-of / delete lifecycle") {
    val db = freshDb()
    import spark.implicits._
    val t0 = db.putDocs("docs", Seq((1L, 0L)).toDF("_id", "version"))
    val t1 = db.putDocs("docs", Seq((1L, 1L)).toDF("_id", "version"))

    // current sees version 1
    assert(db.asOf("docs").select("version").as[Long].collect().toSeq == Seq(1L))
    // system-time as-of t0 sees version 0
    assert(db.asOf("docs", systemAt = Some(lit(t0)))
      .select("version").as[Long].collect().toSeq == Seq(0L))

    db.deleteDocs("docs", Seq(Tuple1(1L)).toDF("_id"))
    assert(db.asOf("docs").count() == 0)
    // but system-time travel still sees it
    assert(db.asOf("docs", systemAt = Some(lit(t1)))
      .select("version").as[Long].collect().toSeq == Seq(1L))
  }

  test("explicit valid-time portion") {
    val db = freshDb()
    import spark.implicits._
    db.putDocs("docs", Seq((7L, "ranged")).toDF("_id", "note"),
      validFrom = Some(lit("2020-01-01 00:00:00")),
      validTo = Some(lit("2021-01-01 00:00:00")))

    def at(v: String) =
      db.asOf("docs", validAt = Some(lit(v))).count()
    assert(at("2020-06-01 00:00:00") == 1)
    assert(at("2019-06-01 00:00:00") == 0)
    assert(at("2021-06-01 00:00:00") == 0) // half-open [from, to)
    assert(at("2020-01-01 00:00:00") == 1) // inclusive lower bound
  }

  test("history reconstructs rectangles with derived _valid_to/_system_to") {
    val db = freshDb()
    import spark.implicits._
    val t0 = db.putDocs("docs", Seq((1L, 0L)).toDF("_id", "version"))
    val t1 = db.putDocs("docs", Seq((1L, 1L)).toDF("_id", "version"))

    val h = db.history("docs")
      .select("version", Bitemporal.VF, Bitemporal.VT, Bitemporal.SF, Bitemporal.ST)
      .orderBy("version", Bitemporal.VF)
      .collect()
    // v0: [t0,t1) valid slice closed at t1 (vt==t1's valid_from) then
    //     [t1,inf) slice closed in system time; v1: open rectangle
    assert(h.length == 3)
    val v0a = h(0); val v0b = h(1); val v1 = h(2)
    assert(v0a.getLong(0) == 0L && v0a.getTimestamp(1) == t0 && v0a.getTimestamp(2) == t1 && v0a.isNullAt(4))
    assert(v0b.getLong(0) == 0L && v0b.getTimestamp(1) == t1 && v0b.isNullAt(2) && v0b.getTimestamp(4) == t1)
    assert(v1.getLong(0) == 1L && v1.getTimestamp(1) == t1 && v1.isNullAt(2) && v1.isNullAt(4))
  }

  test("erase removes all history; other ids untouched") {
    val db = freshDb()
    import spark.implicits._
    db.putDocs("docs", Seq((1L, "a"), (2L, "b")).toDF("_id", "val"))
    db.putDocs("docs", Seq((1L, "a2")).toDF("_id", "val"))
    db.eraseDocs("docs", Seq(Tuple1(1L)).toDF("_id"))

    assert(db.asOf("docs").select("val").as[String].collect().toSeq == Seq("b"))
    assert(db.history("docs").filter(col("_id") === 1L).count() == 0)
  }

  test("an erase masks every system time, including times before it; a " +
      "re-insert after it is visible from its own system time on") {
    val db = freshDb()
    import spark.implicits._
    val tPut = db.putDocs("docs", Seq((1L, "a"), (2L, "b")).toDF("_id", "val"))
    val tErase = db.eraseDocs("docs", Seq(Tuple1(1L)).toDF("_id"))
    db.putDocs("docs", Seq((1L, "a2")).toDF("_id", "val"))
    def at(t: Option[java.sql.Timestamp]): Seq[(Long, String)] =
      db.asOf("docs", systemAt = t.map(lit(_))).select("_id", "val")
        .as[(Long, String)].collect().toSeq.sorted

    assert(at(Some(tPut)) == Seq((2L, "b")), "as of before the erase")
    assert(at(Some(tErase)) == Seq((2L, "b")), "between erase and re-insert")
    assert(at(None) == Seq((1L, "a2"), (2L, "b")), "after the re-insert")
  }

  test("patch merges fields onto current version") {
    val db = freshDb()
    import spark.implicits._
    db.putDocs("docs", Seq((1L, "alice", 30L)).toDF("_id", "name", "age"))
    db.patchDocs("docs", Seq((1L, 31L)).toDF("_id", "age"))

    val cur = db.asOf("docs").select("name", "age").collect().head
    assert(cur.getString(0) == "alice" && cur.getLong(1) == 31L)

    // patch of a new id inserts (upsert semantics)
    db.patchDocs("docs", Seq((2L, 99L)).toDF("_id", "age"))
    val row2 = db.asOf("docs").filter(col("_id") === 2L)
      .select("name", "age").collect().head
    assert(row2.isNullAt(0) && row2.getLong(1) == 99L)
  }
}
