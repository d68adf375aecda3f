package graft

import graft.operators.Joins
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-18 bucket-width derivation: symmetric literal-width periods
  * bucket at 4× the period length (the top of the round-17 "2-5× the
  * typical period" guidance, where the round-18 25× paired probes sit);
  * asymmetric or data-dependent periods keep the caller's width. Rows
  * must be identical under any width (the canonical-bucket emission is
  * width-independent) — pinned here by running the same join at the
  * derived and the pinned width. */
class IntervalWidthSpec extends AnyFunSuite {

  private lazy val spark = GraftSession.builder(4).getOrCreate()

  private def side(idAs: String, f: String, t: String, mins: Int,
      n: Int, stepSec: Int) = {
    import spark.implicits._
    spark.range(n).select(
        col("id").as(idAs),
        (lit("2024-01-01 00:00:00").cast("timestamp") +
          expr(s"make_interval(0,0,0,0,0,0,${stepSec})") * col("id")).as(f))
      .withColumn(t, col(f) + expr(s"INTERVAL $mins MINUTES"))
  }

  test("symmetric literal periods derive width = 4x period") {
    val l = side("lid", "lf", "lt", 2, 50, 37)
    val r = side("rid", "rf", "rt", 2, 50, 53)
    assert(Joins.derivedBucketSeconds(l, r, "lf", "lt", "rf", "rt", 300L) == 480L)
  }

  test("asymmetric literal periods keep the caller width") {
    val l = side("lid", "lf", "lt", 10, 50, 37)
    val r = side("rid", "rf", "rt", 1, 50, 53)
    assert(Joins.derivedBucketSeconds(l, r, "lf", "lt", "rf", "rt", 600L) == 600L)
  }

  test("data-dependent periods keep the caller width") {
    import spark.implicits._
    val l = side("lid", "lf", "lt0", 2, 50, 37)
      .withColumn("lt", col("lt0") + expr("make_interval(0,0,0,0,0,0,1)") *
        col("lid"))
      .drop("lt0")
    val r = side("rid", "rf", "rt", 2, 50, 53)
    assert(Joins.derivedBucketSeconds(l, r, "lf", "lt", "rf", "rt", 300L) == 300L)
  }

  test("a literal period on another column keeps the caller width") {
    // lt = other_ts + INTERVAL: a literal offset, but from a column that
    // is not the join's `from`, so the period lt - lf is data-dependent
    val l = side("lid", "lf", "lt0", 2, 50, 37)
      .withColumn("other_ts", col("lf") - expr("INTERVAL 1 HOUR") *
        (col("lid") % 5))
      .withColumn("lt", col("other_ts") + expr("INTERVAL 2 HOURS"))
      .drop("lt0")
    val r = side("rid", "rf", "rt", 120, 50, 53)
    assert(Joins.derivedBucketSeconds(l, r, "lf", "lt", "rf", "rt", 300L) ==
      300L)
    // the same frames joined: the caller's width holds every row's cover
    val cond = Joins.overlapsCond(col("lf"), col("lt"), col("rf"), col("rt"))
    def rows(derive: Boolean) = Joins.intervalJoin(
        l.filter(col("lt") > col("lf")), r, "lf", "lt", "rf", "rt", cond,
        bucketSeconds = 300, strategy = "bucket", deriveWidth = derive)
      .select("lid", "rid").orderBy("lid", "rid")
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSeq
    assert(rows(derive = true) == rows(derive = false))
  }

  test("derived width returns identical rows to the pinned width") {
    val l = side("lid", "lf", "lt", 2, 120, 37)
    val r = side("rid", "rf", "rt", 2, 120, 53)
    val cond = Joins.overlapsCond(col("lf"), col("lt"), col("rf"), col("rt"))
    def rows(derive: Boolean) = Joins.intervalJoin(
        l, r, "lf", "lt", "rf", "rt", cond,
        bucketSeconds = 300, strategy = "bucket", deriveWidth = derive)
      .select("lid", "rid").orderBy("lid", "rid")
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSeq
    val derived = rows(derive = true)
    val pinned = rows(derive = false)
    assert(derived.nonEmpty, "fixture must produce overlapping pairs")
    assert(derived == pinned)
  }
}
