package graft

import graft.operators.Layout
import graft.tools.EngineMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Z-order layout: the Morton math (decode roundtrip, monotonicity) and
  * the claim that pays for it — a z-ordered layout prunes scans on BOTH
  * interleaved dimensions (records-actually-read, not plan text), where
  * a single-column sort layout prunes one and reads everything for the
  * other. */
class ZOrderSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.builder(4).getOrCreate()

  private val sf = "/root/testdata/sf0.01"

  test("zvalue2 decode roundtrip + per-dimension monotonicity") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    val pairs = Seq.fill(300)((rnd.nextInt(65536).toLong,
      rnd.nextInt(65536).toLong)) :+ ((0L, 0L)) :+ ((65535L, 65535L))
    val got = pairs.toDF("a", "b")
      .select(col("a"), col("b"), Layout.zvalue2(col("a"), col("b")).as("z"))
      .collect()
    def compact(z: Long, shift: Int): Long = {
      var v = (z >> shift) & 0x5555555555555555L
      v = (v | (v >> 1)) & 0x3333333333333333L
      v = (v | (v >> 2)) & 0x0F0F0F0F0F0F0F0FL
      v = (v | (v >> 4)) & 0x00FF00FF00FF00FFL
      v = (v | (v >> 8)) & 0x0000FFFF0000FFFFL
      v
    }
    got.foreach { r =>
      val (a, b, z) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(compact(z, 0) == a && compact(z, 1) == b,
        s"decode($z) != ($a, $b)")
    }
    // fixing one dimension, z is strictly monotone in the other
    val fixedB = pairs.head._2
    val monot = Seq(1L, 5L, 100L, 30000L, 65000L)
      .map(a => spark.range(1).select(
        Layout.zvalue2(lit(a), lit(fixedB))).head().getLong(0))
    assert(monot == monot.sorted && monot.distinct.size == monot.size)
  }

  test("zvalue3 decode roundtrip across the 21-bit domain") {
    import spark.implicits._
    val rnd = new scala.util.Random(67)
    val triples = Seq.fill(200)((rnd.nextInt(1 << 21).toLong,
      rnd.nextInt(1 << 21).toLong, rnd.nextInt(1 << 21).toLong)) :+
      ((0L, 0L, 0L)) :+ (((1L << 21) - 1, (1L << 21) - 1, (1L << 21) - 1))
    val got = triples.toDF("a", "b", "c")
      .select(col("a"), col("b"), col("c"),
        Layout.zvalue3(col("a"), col("b"), col("c")).as("z"))
      .collect()
    def compact3(z: Long, shift: Int): Long = {
      var v = (z >> shift) & 0x1249249249249249L
      v = (v | (v >> 2)) & 0x10C30C30C30C30C3L
      v = (v | (v >> 4)) & 0x100F00F00F00F00FL
      v = (v | (v >> 8)) & 0x1F0000FF0000FFL
      v = (v | (v >> 16)) & 0x1F00000000FFFFL
      v = (v | (v >> 32)) & 0x1FFFFFL
      v
    }
    got.foreach { r =>
      val (a, b, c, z) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      assert(compact3(z, 0) == a && compact3(z, 1) == b &&
        compact3(z, 2) == c, s"decode($z) != ($a, $b, $c)")
    }
  }

  test("zvalue2 rejects out-of-domain inputs loudly") {
    val ex = intercept[Exception] {
      spark.range(1).select(
        Layout.zvalue2(lit(70000L), lit(1L))).head()
    }
    def messages(t: Throwable): String =
      if (t == null) "" else s"${t.getMessage} ${messages(t.getCause)}"
    assert(messages(ex).contains("out of 16-bit domain"))
  }

  test("z-ordered layout prunes records on BOTH dimensions; " +
      "single-sort layout reads everything for the second") {
    // scale both key domains to the full 16-bit range so the interleave
    // mixes comparable bit weights (raw l_suppkey <= 100 would leave the
    // high interleaved bits all-partkey and the layout one-dimensional —
    // exactly the "scale wider domains first" contract in the scaladoc)
    val li = Tables.load(spark, sf, "lineitem")
      .select(col("l_partkey"), col("l_suppkey"), col("l_quantity"))
    val (pMax, sMax) = {
      val r = li.agg(max("l_partkey"), max("l_suppkey")).head()
      (r.getLong(0), r.getLong(1))
    }
    val scaled = li
      .withColumn("pa", floor(col("l_partkey") * 65535L / pMax))
      .withColumn("pb", floor(col("l_suppkey") * 65535L / sMax))
    val zDir = java.nio.file.Files.createTempDirectory("graft_zord").toString
    val sDir = java.nio.file.Files.createTempDirectory("graft_sort").toString
    Layout.zorderWrite(scaled, "pa", "pb", zDir, numFiles = 16)
    scaled.repartitionByRange(16, col("pa")).sortWithinPartitions("pa")
      .write.mode("overwrite").parquet(sDir)

    def readRecords(path: String, cond: org.apache.spark.sql.Column): Long =
      EngineMetrics.during(spark) {
        spark.read.parquet(path).filter(cond).agg(count(lit(1))).collect()
      }._2.inputRecords
    val total = li.count()
    // ~1/8 slice of the SECOND dimension
    val bSlice = col("l_suppkey").between(40, 52)
    val zReadB = readRecords(zDir, bSlice)
    val sReadB = readRecords(sDir, bSlice)
    val matchB = li.filter(bSlice).count()
    assert(sReadB >= (total * 0.95).toLong,
      s"sanity: partkey-sorted layout cannot prune suppkey ($sReadB/$total)")
    assert(zReadB <= (total * 0.7).toLong,
      s"z-layout must prune the second dimension: read $zReadB of $total " +
        s"(true matches $matchB)")
    // ~1/8 slice of the FIRST dimension: both layouts prune
    val aSlice = col("l_partkey").between(400, 650)
    val zReadA = readRecords(zDir, aSlice)
    val sReadA = readRecords(sDir, aSlice)
    assert(sReadA <= (total * 0.4).toLong, s"sorted layout prunes partkey")
    assert(zReadA <= (total * 0.7).toLong,
      s"z-layout keeps useful pruning on the first dimension too " +
        s"($zReadA vs sorted $sReadA of $total)")
    // the 2-D box: z-layout reads close to the tile cover, far below total
    val box = aSlice && bSlice
    val zReadBox = readRecords(zDir, box)
    assert(zReadBox <= zReadA && zReadBox <= zReadB,
      "box filter cannot read more than either slice")
    assert(zReadBox <= (total * 0.5).toLong,
      s"2-D box must prune hard on the z layout ($zReadBox/$total)")
  }
}
