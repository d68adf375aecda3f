package graft

import graft.bitemporal.{TxOp, XtDb}
import graft.sources.PgCatalog
import graft.sql.XtSqlEngine
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** pg_catalog system views (reference information_schema.clj:81-168):
  * populated views derive from the engine catalog; empty probe targets
  * (pg_views, pg_constraint, …) answer with the right schema and zero rows,
  * which is what BI tools need during schema sync. */
class PgCatalogSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.builder(4).getOrCreate()

  private def fresh(): (XtDb, XtSqlEngine) = {
    val db = new XtDb(spark,
      java.nio.file.Files.createTempDirectory("pgcatalog").toString)
    (db, new XtSqlEngine(spark, db))
  }

  test("pg_tables / pg_class / pg_namespace reflect the store catalog") {
    val (db, eng) = fresh()
    import spark.implicits._
    db.submitTx(Seq(
      TxOp.Put("trades", Seq((1L, 10.0)).toDF("_id", "px")),
      TxOp.Put("users", Seq((1L, "ada")).toDF("_id", "name"))))

    val names = eng.sql("SELECT tablename FROM pg_tables ORDER BY tablename")
      .as[String].collect().toSeq
    assert(names == Seq("trades", "users"))

    // the BI-tool probe: relations joined to their namespace
    val rel = eng.sql(
      """SELECT c.relname, n.nspname, c.relkind
         FROM pg_class c JOIN pg_namespace n ON c.relnamespace = n.oid
         ORDER BY c.relname""").collect()
    assert(rel.map(_.getString(0)).toSeq == Seq("trades", "users"))
    assert(rel.forall(_.getString(1) == "public"))
    assert(rel.forall(_.getString(2) == "r"))
  }

  test("pg_attribute carries typed columns resolvable through pg_type") {
    val (db, eng) = fresh()
    import spark.implicits._
    db.submitTx(Seq(TxOp.Put("trades",
      Seq((1L, 10.5, "ACME")).toDF("_id", "px", "sym"))))

    val cols = eng.sql(
      """SELECT a.attname, t.typname
         FROM pg_attribute a
         JOIN pg_class c ON a.attrelid = c.oid
         JOIN pg_type t ON a.atttypid = t.oid
         WHERE c.relname = 'trades'
         ORDER BY a.attnum""")
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(cols("_id") == "int8")
    assert(cols("px") == "float8")
    assert(cols("sym") == "text")
    // bitemporal meta columns are part of the merged schema
    assert(cols(graft.bitemporal.Bitemporal.VF) == "timestamptz")
  }

  test("empty probe targets answer with schema and zero rows") {
    val (db, eng) = fresh()
    import spark.implicits._
    db.submitTx(Seq(TxOp.Put("t", Seq((1L, 1L)).toDF("_id", "v"))))
    for (probe <- Seq("pg_views", "pg_matviews", "pg_description", "pg_enum",
        "pg_constraint", "pg_extension", "pg_attrdef", "pg_index",
        "pg_auth_members")) {
      assert(eng.sql(s"SELECT * FROM $probe").count() == 0L, probe)
    }
    // fixed-row views a driver probes at connect time
    assert(eng.sql("SELECT setting FROM pg_settings WHERE name = 'TimeZone'")
      .as[String].collect().toSeq == Seq("UTC"))
    assert(eng.sql("SELECT datname FROM pg_database").as[String]
      .collect().toSeq == Seq("graft"))
    assert(eng.sql("SELECT amname FROM pg_am ORDER BY oid").as[String]
      .collect().toSeq == Seq("heap", "btree", "hash"))
    assert(eng.sql("SELECT usename FROM pg_user").as[String]
      .collect().toSeq == Seq("xtdb"))
  }

  test("array columns resolve to array pg types via typelem") {
    val schemas = Seq("emb" -> org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("vec",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType)))))
    val att = PgCatalog.pgAttribute(spark, PgCatalog.colRows(schemas))
    val typ = PgCatalog.pgType(spark)
    val rows = att.join(typ, att("atttypid") === typ("oid"))
      .select("attname", "typname", "typelem").collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getInt(2))).toMap
    assert(rows("vec") == ("_float4", 700))
    // and the element type is resolvable back through pg_type
    val elems = typ.where(typ("oid") === 700).select("typname")
      .collect().map(_.getString(0)).toSeq
    assert(elems == Seq("float4"))
  }
}
