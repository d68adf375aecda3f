package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** pg_catalog system views (reference:
  * core/src/main/clojure/xtdb/information_schema.clj:81-168, 200-360).
  *
  * The reference materializes a Postgres-shaped catalog so BI tools probing
  * over pgwire can schema-sync: `pg_tables`, `pg_class`, `pg_namespace`,
  * `pg_attribute`, `pg_type` carry real rows derived from the table catalog;
  * `pg_views`/`pg_enum`/`pg_constraint`/… exist but are empty (tools probe
  * them, contents unmodeled — information_schema.clj:127-139). This mirrors
  * that split: populated views are tiny in-memory DataFrames built from
  * parquet footers / XtDb merged schemas (catalog metadata, not data — a few
  * hundred rows regardless of data scale), empties carry the right schema.
  *
  * OIDs: stable name hashes (reference `name->oid` = abs(hash(name)),
  * information_schema.clj:29-30) for relations/namespaces; genuine Postgres
  * OIDs for entries in `pg_type`/`pg_am` where tools match on well-known
  * numbers (16 = bool, 25 = text, 1184 = timestamptz, …).
  */
object PgCatalog {

  /** abs(hash(name)) like the reference; murmur3 so it is stable across JVM
    * runs and not correlated with String.hashCode collisions. */
  def nameOid(s: String): Int =
    math.abs(scala.util.hashing.MurmurHash3.stringHash(s, 42))

  /** (oid, typname, typcategory, typelem, typarray, typlen) — genuine
    * Postgres numeric OIDs (pg_type.dat), subset the engine can produce. */
  final case class PgTypeRow(oid: Int, typname: String, typcategory: String,
      typelem: Int, typarray: Int, typlen: Int)

  val pgTypes: Seq[PgTypeRow] = Seq(
    PgTypeRow(16, "bool", "B", 0, 1000, 1),
    PgTypeRow(17, "bytea", "U", 0, 1001, -1),
    PgTypeRow(20, "int8", "N", 0, 1016, 8),
    PgTypeRow(21, "int2", "N", 0, 1005, 2),
    PgTypeRow(23, "int4", "N", 0, 1007, 4),
    PgTypeRow(25, "text", "S", 0, 1009, -1),
    PgTypeRow(114, "json", "U", 0, 199, -1),
    PgTypeRow(700, "float4", "N", 0, 1021, 4),
    PgTypeRow(701, "float8", "N", 0, 1022, 8),
    PgTypeRow(1043, "varchar", "S", 0, 1015, -1),
    PgTypeRow(1082, "date", "D", 0, 1182, 4),
    PgTypeRow(1114, "timestamp", "D", 0, 1115, 8),
    PgTypeRow(1184, "timestamptz", "D", 0, 1185, 8),
    PgTypeRow(1186, "interval", "T", 0, 1187, 16),
    PgTypeRow(1700, "numeric", "N", 0, 1231, -1),
    PgTypeRow(2950, "uuid", "U", 0, 2951, 16),
    // array types (typelem points back at the element)
    PgTypeRow(1000, "_bool", "A", 16, 0, -1),
    PgTypeRow(1001, "_bytea", "A", 17, 0, -1),
    PgTypeRow(1016, "_int8", "A", 20, 0, -1),
    PgTypeRow(1005, "_int2", "A", 21, 0, -1),
    PgTypeRow(1007, "_int4", "A", 23, 0, -1),
    PgTypeRow(1009, "_text", "A", 25, 0, -1),
    PgTypeRow(199, "_json", "A", 114, 0, -1),
    PgTypeRow(1021, "_float4", "A", 700, 0, -1),
    PgTypeRow(1022, "_float8", "A", 701, 0, -1),
    PgTypeRow(1015, "_varchar", "A", 1043, 0, -1),
    PgTypeRow(1182, "_date", "A", 1082, 0, -1),
    PgTypeRow(1115, "_timestamp", "A", 1114, 0, -1),
    PgTypeRow(1185, "_timestamptz", "A", 1184, 0, -1))

  private val typeByName: Map[String, PgTypeRow] =
    pgTypes.map(t => t.typname -> t).toMap

  /** Spark catalog type → pg_type row (reference PgType.fromVectorType;
    * anything without a wire-native pg type degrades to json, matching
    * information_schema.clj:326-327). */
  def pgTypeOf(dt: DataType): PgTypeRow = dt match {
    case BooleanType => typeByName("bool")
    case ByteType | ShortType => typeByName("int2")
    case IntegerType => typeByName("int4")
    case LongType => typeByName("int8")
    case FloatType => typeByName("float4")
    case DoubleType => typeByName("float8")
    case StringType => typeByName("text")
    case BinaryType => typeByName("bytea")
    case DateType => typeByName("date")
    case _: TimestampNTZType => typeByName("timestamp")
    case _: TimestampType => typeByName("timestamptz")
    case _: DecimalType => typeByName("numeric")
    case _: DayTimeIntervalType | _: YearMonthIntervalType =>
      typeByName("interval")
    case a: ArrayType =>
      val elem = pgTypeOf(a.elementType)
      if (elem.typarray != 0) pgTypes.find(_.oid == elem.typarray).get
      else typeByName("_json")
    case _ => typeByName("json")
  }

  /** One column of one catalog table, as the views need it. */
  final case class ColRow(schema: String, table: String, name: String,
      ordinal: Int, dataType: DataType)

  /** Flatten a (table → StructType) catalog into column rows. */
  def colRows(schemas: Seq[(String, StructType)],
      schemaName: String = "public"): Seq[ColRow] =
    schemas.flatMap { case (t, st) =>
      st.fields.zipWithIndex.map { case (f, i) =>
        ColRow(schemaName, t, f.name, i + 1, f.dataType)
      }
    }

  val internalSchemas: Seq[String] =
    Seq("information_schema", "pg_catalog", "xt")

  // ---- populated views ------------------------------------------------------

  def pgNamespace(spark: SparkSession): DataFrame = {
    import spark.implicits._
    (internalSchemas :+ "public").sorted
      .map(n => (nameOid(n), n, nameOid("xtdb")))
      .toDF("oid", "nspname", "nspowner")
  }

  def pgTables(spark: SparkSession, tables: Seq[(String, String)]): DataFrame = {
    import spark.implicits._
    tables.map { case (sch, t) => (sch, t, "xtdb") }
      .toDF("schemaname", "tablename", "tableowner")
  }

  def pgClass(spark: SparkSession, tables: Seq[(String, String)]): DataFrame = {
    import spark.implicits._
    tables.map { case (sch, t) =>
      (nameOid(s"$sch/$t"), t, nameOid(sch), nameOid("xtdb"), "r", 2, "p")
    }.toDF("oid", "relname", "relnamespace", "relowner", "relkind", "relam",
      "relpersistence")
  }

  def pgAttribute(spark: SparkSession, cols: Seq[ColRow]): DataFrame = {
    import spark.implicits._
    cols.map { c =>
      val t = pgTypeOf(c.dataType)
      (nameOid(s"${c.schema}/${c.table}"), c.name, t.oid, t.typlen, c.ordinal,
        false, -1)
    }.toDF("attrelid", "attname", "atttypid", "attlen", "attnum",
      "attisdropped", "atttypmod")
  }

  def pgType(spark: SparkSession): DataFrame = {
    import spark.implicits._
    pgTypes.map(t => (t.oid, t.typname, nameOid("pg_catalog"),
        nameOid("xtdb"), "b", t.typcategory, t.typelem, t.typarray, t.typlen))
      .toDF("oid", "typname", "typnamespace", "typowner", "typtype",
        "typcategory", "typelem", "typarray", "typlen")
  }

  def pgAm(spark: SparkSession): DataFrame = {
    import spark.implicits._
    // information_schema.clj:348-353 — fixed access-method rows
    Seq((2, "heap", "heap_tableam_handler", "t"),
      (403, "btree", "bthandler", "i"),
      (405, "hash", "hashhandler", "i"))
      .toDF("oid", "amname", "amhandler", "amtype")
  }

  def pgRange(spark: SparkSession): DataFrame = {
    import spark.implicits._
    // information_schema.clj:289-297 — tstz-range only
    Seq((3910, 1184, 4534, 0, 3127, "", "tstzrange_subdiff"))
      .toDF("rngtypid", "rngsubtype", "rngmultitypid", "rngcollation",
        "rngsubopc", "rngcanonical", "rngsubdiff")
  }

  def pgDatabase(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq((nameOid("graft"), "graft", true, false))
      .toDF("oid", "datname", "datallowconn", "datistemplate")
  }

  def pgSettings(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(("max_index_keys", "32"), ("server_version", "16"),
      ("server_encoding", "UTF8"), ("client_encoding", "UTF8"),
      ("DateStyle", "ISO"), ("TimeZone", "UTC"), ("integer_datetimes", "on"))
      .toDF("name", "setting")
  }

  def pgUser(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(("xtdb", true, Option.empty[String]))
      .toDF("usename", "usesuper", "passwd")
  }

  /** pg_roles from the membership set (reference pgwire.authz-test
    * semantics): member users can log in, granted roles cannot, `xtdb` is
    * the superuser; a name that is both a user and a role appears once,
    * as a login user. */
  def pgRoles(spark: SparkSession,
      membership: Seq[(String, String)] = Nil): DataFrame = {
    import spark.implicits._
    val users = membership.map(_._2).toSet
    val roles = membership.map(_._1).toSet -- users - "xtdb"
    val rows = Seq(("xtdb", true, true)) ++
      (users - "xtdb").toSeq.sorted.map(u => (u, false, true)) ++
      roles.toSeq.sorted.map(r => (r, false, false))
    rows.map { case (n, sup, login) => (nameOid(n), n, sup, login) }
      .toDF("oid", "rolname", "rolsuper", "rolcanlogin")
  }

  def pgProc(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq((nameOid("array_in"), "array_in", nameOid("pg_catalog")))
      .toDF("oid", "proname", "pronamespace")
  }

  def pgStatUserTables(spark: SparkSession,
      tables: Seq[(String, String)]): DataFrame = {
    import spark.implicits._
    // n_live_tup = 0 like the reference until stats are computed
    // (xtdb's value comes from trie metadata; ours would come from
    // XtDb.tableStats — kept 0 here so the view is metadata-only, no scan)
    tables.map { case (sch, t) => (nameOid(s"$sch/$t"), sch, t, 0L) }
      .toDF("relid", "schemaname", "relname", "n_live_tup")
  }

  // ---- empty probe targets (schema only, zero rows) ------------------------

  private def empty(spark: SparkSession, st: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], st)

  def pgViews(spark: SparkSession): DataFrame = empty(spark, StructType(Seq(
    StructField("schemaname", StringType), StructField("viewname", StringType),
    StructField("viewowner", StringType))))

  def pgMatviews(spark: SparkSession): DataFrame = empty(spark, StructType(Seq(
    StructField("schemaname", StringType),
    StructField("matviewname", StringType),
    StructField("matviewowner", StringType))))

  def pgDescription(spark: SparkSession): DataFrame = empty(spark,
    StructType(Seq(StructField("objoid", IntegerType),
      StructField("classoid", IntegerType),
      StructField("objsubid", ShortType),
      StructField("description", StringType))))

  def pgEnum(spark: SparkSession): DataFrame = empty(spark, StructType(Seq(
    StructField("oid", IntegerType), StructField("enumtypid", IntegerType),
    StructField("enumsortorder", DoubleType),
    StructField("enumlabel", StringType))))

  def pgConstraint(spark: SparkSession): DataFrame = empty(spark,
    StructType(Seq(StructField("oid", IntegerType),
      StructField("conname", StringType),
      StructField("connamespace", IntegerType),
      StructField("contype", StringType))))

  def pgExtension(spark: SparkSession): DataFrame = empty(spark,
    StructType(Seq(StructField("oid", IntegerType),
      StructField("extname", StringType),
      StructField("extowner", IntegerType),
      StructField("extnamespace", IntegerType))))

  def pgAttrdef(spark: SparkSession): DataFrame = empty(spark, StructType(Seq(
    StructField("oid", IntegerType), StructField("adrelid", IntegerType),
    StructField("adnum", IntegerType), StructField("adbin", StringType))))

  def pgIndex(spark: SparkSession): DataFrame = empty(spark, StructType(Seq(
    StructField("indexrelid", IntegerType),
    StructField("indrelid", IntegerType),
    StructField("indnatts", IntegerType),
    StructField("indnkeyatts", IntegerType))))

  /** pg_auth_members: one row per (role, member-user), OID-linked into
    * pg_roles (reference surfaces GRANT membership here). */
  def pgAuthMembers(spark: SparkSession,
      membership: Seq[(String, String)] = Nil): DataFrame = {
    import spark.implicits._
    if (membership.isEmpty) empty(spark,
      StructType(Seq(StructField("roleid", IntegerType),
        StructField("member", IntegerType),
        StructField("grantor", IntegerType),
        StructField("admin_option", BooleanType))))
    else membership.map { case (role, member) =>
      (nameOid(role), nameOid(member), nameOid("xtdb"), false)
    }.toDF("roleid", "member", "grantor", "admin_option")
  }

  /** Every pg_catalog view as (bare name → builder). pg_catalog is on the
    * default search path in the reference, so unqualified `pg_tables`
    * resolves (information_schema.clj:204); the SQL engine registers a
    * view as a temp view, per statement, only when the statement names
    * it, so a `pg_class` query never builds `pg_proc`. `schemas` (column
    * catalog, for `pg_attribute`) and `membership` (role grants) are read
    * only by the builders that need them. */
  def views(spark: SparkSession, tables: Seq[String],
      schemas: => Seq[(String, StructType)],
      membership: => Seq[(String, String)])
      : Seq[(String, () => DataFrame)] = {
    val pub = tables.map(t => ("public", t))
    Seq(
      "pg_namespace" -> (() => pgNamespace(spark)),
      "pg_tables" -> (() => pgTables(spark, pub)),
      "pg_class" -> (() => pgClass(spark, pub)),
      "pg_attribute" -> (() => pgAttribute(spark, colRows(schemas))),
      "pg_type" -> (() => pgType(spark)),
      "pg_am" -> (() => pgAm(spark)),
      "pg_range" -> (() => pgRange(spark)),
      "pg_database" -> (() => pgDatabase(spark)),
      "pg_settings" -> (() => pgSettings(spark)),
      "pg_user" -> (() => pgUser(spark)),
      "pg_roles" -> (() => pgRoles(spark, membership)),
      "pg_proc" -> (() => pgProc(spark)),
      "pg_stat_user_tables" -> (() => pgStatUserTables(spark, pub)),
      "pg_views" -> (() => pgViews(spark)),
      "pg_matviews" -> (() => pgMatviews(spark)),
      "pg_description" -> (() => pgDescription(spark)),
      "pg_enum" -> (() => pgEnum(spark)),
      "pg_constraint" -> (() => pgConstraint(spark)),
      "pg_extension" -> (() => pgExtension(spark)),
      "pg_attrdef" -> (() => pgAttrdef(spark)),
      "pg_index" -> (() => pgIndex(spark)),
      "pg_auth_members" -> (() => pgAuthMembers(spark, membership)))
  }
}
