package graft

import graft.queries.Meta
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the driver-generated testdata (TESTDATA.md) to the golden catalog in
  * `Meta.expected` — the single source of truth behind the q95/q99 oracle
  * literals. When the driver regenerates `/root/testdata` with a different
  * logical shape (as happened 2026-08-13: events.ts nanos-INT64 → plain µs
  * NTZ), this fails with a readable per-column diff instead of surfacing as
  * a distant correctness-hash mismatch plus an unrelated streaming failure.
  */
class TestdataContractSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.builder(4).getOrCreate()

  private val dir = "/root/testdata/sf0.001"

  /** Golden SQL-ish type → the Spark type `Tables.load` must yield. TIMESTAMP
    * pins to NTZ: the 2026-08-13 testdata carries isAdjustedToUTC=false µs
    * timestamps, and the q99 golden maps them to pg `timestamp` accordingly.
    * If this assertion starts failing on a timestamp column, Meta.pgTypname
    * must move in lockstep (NTZ → `timestamp`, LTZ → `timestamptz`). */
  private def sparkTypeOf(golden: String): DataType = golden match {
    case "INTEGER" => IntegerType
    case "BIGINT" => LongType
    case "DOUBLE" => DoubleType
    case "VARCHAR" => StringType
    case "TIMESTAMP" => TimestampNTZType
    case "FLOAT[]" => ArrayType(FloatType, containsNull = true)
    case other => fail(s"unmapped golden type $other")
  }

  test("loaded table schemas match the golden catalog (column names, order, types)") {
    val golden = Meta.expected.groupBy(_._1).view
      .mapValues(_.map { case (_, c, t) => (c, sparkTypeOf(t)) }).toMap
    val diffs = Tables.all.flatMap { table =>
      val actual = Tables.load(spark, dir, table).schema.fields.toSeq
        .map(f => (f.name, f.dataType))
      val expected = golden.getOrElse(table, fail(s"table $table missing from golden"))
      if (actual == expected) Nil
      else Seq(s"$table:\n  expected ${expected.mkString(", ")}\n  actual   ${actual.mkString(", ")}")
    }
    assert(diffs.isEmpty,
      s"\nTestdata drifted from the golden catalog (Meta.expected / q95+q99 " +
        s"oracles). Update Meta.expected AND Meta.pgTypname together.\n" +
        diffs.mkString("\n"))
  }

  test("every golden table exists on disk at every generated SF") {
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1"); t <- Tables.all)
      assert(new java.io.File(s"/root/testdata/$sf/$t.parquet").exists(),
        s"missing /root/testdata/$sf/$t.parquet")
  }
}
