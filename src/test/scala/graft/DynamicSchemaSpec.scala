package graft

import graft.bitemporal.XtDb
import graft.functions.DynamicSchema
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Dynamic schema: LUB widening + tagged-union columns through the XtDb
  * write path (reference merge-types / DenseUnionVector semantics,
  * types.clj:142-146, 236-239). */
class DynamicSchemaSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.builder(4).getOrCreate()

  private def freshDb(): XtDb = new XtDb(spark,
    java.nio.file.Files.createTempDirectory("xtdyn").toString)

  test("numeric widening: int then double merges to double") {
    val db = freshDb()
    import spark.implicits._
    db.putDocs("m", Seq((1L, 10)).toDF("_id", "v"))      // v: int
    db.putDocs("m", Seq((2L, 2.5)).toDF("_id", "v"))     // v: double
    val cur = db.asOf("m").select("_id", "v").as[(Long, Double)]
      .collect().toMap
    assert(cur == Map(1L -> 10.0, 2L -> 2.5))
  }

  test("widening append is O(batch): existing files are not rewritten") {
    val root = java.nio.file.Files.createTempDirectory("xtdyn").toString
    val db = new XtDb(spark, root)
    import spark.implicits._
    db.putDocs("big", Seq((1L, 10)).toDF("_id", "v")) // v: int
    def dataFiles() = {
      def walk(f: java.io.File): Iterator[java.io.File] =
        if (f.isDirectory) f.listFiles.iterator.flatMap(walk) else Iterator(f)
      walk(new java.io.File(s"$root/big"))
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getPath -> f.lastModified).toMap
    }
    val before = dataFiles()
    db.putDocs("big", Seq((2L, 2.5)).toDF("_id", "v")) // widen to double
    val after = dataFiles()
    // original narrow file untouched — widening happened in the schema
    // registry only, the reader promotes at scan
    assert(before.forall { case (p, m) => after.get(p).contains(m) })
    assert(after.size > before.size)
    val cur = db.asOf("big").select("_id", "v").as[(Long, Double)]
      .collect().toMap
    assert(cur == Map(1L -> 10.0, 2L -> 2.5))

    // compaction completes the physical migration; results unchanged
    db.compact("big")
    assert(db.asOf("big").select("_id", "v").as[(Long, Double)]
      .collect().toMap == cur)
  }

  test("mixed scalar types become a tagged union column") {
    val db = freshDb()
    import spark.implicits._
    db.putDocs("u", Seq((1L, 42L)).toDF("_id", "v"))       // long
    db.putDocs("u", Seq((2L, "hello")).toDF("_id", "v"))   // string
    db.putDocs("u", Seq((3L, 1.5)).toDF("_id", "v"))       // double

    val cur = db.asOf("u")
    assert(DynamicSchema.isUnion(cur.schema("v").dataType))
    val rendered = cur
      .select(col("_id"), DynamicSchema.unionRender(col("v")).as("r"))
      .as[(Long, String)].collect().toMap
    assert(rendered == Map(1L -> "42", 2L -> "hello", 3L -> "1.5"))

    // legs are typed, not stringly: numeric leg filter
    val numeric = cur.filter(col("v.leg").isin("i64", "f64"))
      .select("_id").as[Long].collect().toSet
    assert(numeric == Set(1L, 3L))

    // cross-type total order: bool < numbers < strings
    val ordered = cur
      .orderBy(DynamicSchema.unionSortKey(col("v")), col("_id"))
      .select("_id").as[Long].collect().toSeq
    assert(ordered == Seq(3L, 1L, 2L)) // 1.5 < 42 < "hello"
  }

  // reference duv_promotion_test.clj: a struct FIELD holding an int in one
  // doc and a string in another promotes within the struct — `data` stays
  // a struct, `data.utf8` becomes the union — both within one tx and
  // across txs/restarts
  test("struct-field promotion within one tx (duv_promotion 5714)") {
    val db = freshDb()
    import spark.implicits._
    val a = Seq((0L, 1L)).toDF("_id", "n")
      .select(col("_id"), struct(col("n").as("utf8")).as("data"))
    val b = Seq((1L, "x")).toDF("_id", "s")
      .select(col("_id"), struct(col("s").as("utf8")).as("data"))
    db.submitTx(Seq(bitemporal.TxOp.Put("t", a), bitemporal.TxOp.Put("t", b)))
    val cur = db.asOf("t")
    assert(cur.schema("data").dataType.isInstanceOf[
      org.apache.spark.sql.types.StructType])
    val rendered = cur.select(col("_id"),
        DynamicSchema.unionRender(col("data.utf8")).as("r"))
      .as[(Long, String)].collect().toMap
    assert(rendered == Map(0L -> "1", 1L -> "x"))
  }

  test("cross-tx struct-field promotion survives reopen (duv_promotion 5714)") {
    val root = java.nio.file.Files.createTempDirectory("xtdyn").toString
    import spark.implicits._
    def doc(id: Long, c: org.apache.spark.sql.Column) =
      Seq(id).toDF("_id").select(col("_id"), struct(c.as("utf8")).as("data"))
    locally {
      val db = new XtDb(spark, root)
      db.putDocs("t", doc(1L, lit(1L)))
      db.putDocs("t", doc(2L, lit("x"))) // promotes data.utf8 to union
      val rendered = db.asOf("t").select(col("_id"),
          DynamicSchema.unionRender(col("data.utf8")).as("r"))
        .as[(Long, String)].collect().toMap
      assert(rendered == Map(1L -> "1", 2L -> "x"))
    }
    // a fresh instance over the same storage sees the promoted schema
    val reopened = new XtDb(spark, root)
    val rendered = reopened.asOf("t").select(col("_id"),
        DynamicSchema.unionRender(col("data.utf8")).as("r"))
      .as[(Long, String)].collect().toMap
    assert(rendered == Map(1L -> "1", 2L -> "x"))
  }

  test("nested numeric widening stays registry-only; struct flip rewrites") {
    import org.apache.spark.sql.types._
    // parquet-read-promotable: nested int->long, added nested field
    assert(DynamicSchema.readPromotable(
      StructType(Seq(StructField("d", StructType(Seq(
        StructField("n", IntegerType)))))),
      StructType(Seq(StructField("d", StructType(Seq(
        StructField("n", LongType), StructField("extra", StringType))))))))
    // not promotable: nested scalar -> union struct
    assert(!DynamicSchema.readPromotable(
      StructType(Seq(StructField("d", StructType(Seq(
        StructField("n", IntegerType)))))),
      StructType(Seq(StructField("d", StructType(Seq(
        StructField("n", DynamicSchema.unionType))))))))
  }

  test("new columns appear with nulls for old rows") {
    val db = freshDb()
    import spark.implicits._
    db.putDocs("w", Seq((1L, "a")).toDF("_id", "x"))
    db.putDocs("w", Seq((2L, "b", 99L)).toDF("_id", "x", "y"))
    val cur = db.asOf("w").select("_id", "y").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toMap
    assert(cur == Map(1L -> None, 2L -> Some(99L)))
  }
}
