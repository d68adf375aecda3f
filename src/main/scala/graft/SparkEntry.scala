package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Query inventory lives in `graft.queries.*`, one object per SURVEY §2 area;
  * each `QueryDef` pairs a DataFrame implementation with a DuckDB oracle
  * using identical column names and deterministic ordering.
  */
object SparkEntry {

  val all: Seq[QueryDef] =
    _root_.graft.queries.Relational.defs ++
    _root_.graft.queries.Tpch.defs ++
    _root_.graft.queries.Aggregates.defs ++
    _root_.graft.queries.WindowSortSet.defs ++
    _root_.graft.queries.Expressions.defs ++
    _root_.graft.queries.Bitemp.defs ++
    _root_.graft.queries.SqlDialect.defs ++
    _root_.graft.queries.Pipeline.defs ++
    _root_.graft.queries.Meta.defs ++
    _root_.graft.queries.Extra.defs ++
    _root_.graft.queries.Infra.defs ++
    _root_.graft.queries.Sketch.defs

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q01_pricing_summary")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = {
    // a duplicate name would silently shrink the correctness gate
    val dups = all.groupBy(_.name).filter(_._2.length > 1).keys
    require(dups.isEmpty, s"duplicate query names: ${dups.mkString(", ")}")
    all.map(d => d.name -> d.fn).toMap
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    all.flatMap(d => d.oracle.map(o => d.name -> o.trim)).toMap
}
