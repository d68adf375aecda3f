package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Round-17 broadcast-regime flattening (q03/q05/q07): in the broadcast
  * regime the dimension joins attach straight to the fact stream so the
  * broadcast builds overlap; in the shuffle regime the selective-first
  * chain stands. The two shapes must return IDENTICAL rows — including
  * bit-identical double sums, because the fact-side probe order (which
  * fixes the partial-sum accumulation order) is unchanged. Pinned by
  * running each query under both regimes (threshold high = flat star,
  * threshold -1 = chain) and comparing collected results exactly.
  */
class RegimeParitySpec extends AnyFunSuite {

  private val sf = "/root/testdata/sf0.001"

  private lazy val spark = GraftSession.builder(4).getOrCreate()

  private def runWithThreshold(name: String, threshold: String) = {
    // restore the value captured BEFORE the test, not a hardcoded one —
    // the getOrCreate session can be shared with other suites (ADVICE r17)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
    try {
      val d = SparkEntry.all.find(_.name == name).get
      d.fn(spark, sf).collect().toSeq
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  for (q <- Seq("q03_shipping_priority", "q05_local_supplier_volume",
      "q07_volume_shipping")) {
    test(s"$q: broadcast-regime flat star ≡ shuffle-regime chain") {
      val flat = runWithThreshold(q, "64MB") // every base scan fits
      val chain = runWithThreshold(q, "-1")  // baseSmall false everywhere
      assert(flat == chain)
    }
  }
}
