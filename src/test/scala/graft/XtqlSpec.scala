package graft

import graft.xtql.Xtql
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** XTQL pipeline surface tests (reference xtql.clj tails; patterns from the
  * reference's XTQL docs/tests). */
class XtqlSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.builder(4).getOrCreate()

  private val dir = "/root/testdata/sf0.001"

  test("from -> where -> with -> return -> order-by -> limit") {
    val out = Xtql.from(Tables.load(spark, dir, "orders"),
        "o_orderkey", "o_totalprice")
      .where(col("o_totalprice") > 400000)
      .withCols("price_k" -> round(col("o_totalprice") / 1000, 0))
      .returning(col("o_orderkey"), col("price_k"))
      .orderBy(col("price_k").desc, col("o_orderkey"))
      .limit(3)
      .toDF.collect()
    assert(out.length == 3)
    assert(out.map(_.getDouble(1)).toSeq.sorted.reverse ==
      out.map(_.getDouble(1)).toSeq)
  }

  test("aggregate + join tails") {
    val orders = Xtql.from(Tables.load(spark, dir, "orders"))
    val cust = Xtql.from(Tables.load(spark, dir, "customer"))
    val out = orders.join(cust, col("o_custkey") === col("c_custkey"))
      .aggregate(Seq(col("c_mktsegment")),
        Seq(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total")))
      .orderBy(col("c_mktsegment"))
      .toDF.collect()
    assert(out.length == 5 && out.map(_.getLong(1)).sum > 0)
  }

  test("unify joins on shared logic vars") {
    // (unify (from orders [{:o_custkey c} o_orderkey])
    //        (from customer [{:c_custkey c} c_mktsegment]))
    val out = Xtql.unify(
      Tables.load(spark, dir, "orders") ->
        Seq("o_custkey" -> "c", "o_orderkey" -> "ok"),
      Tables.load(spark, dir, "customer") ->
        Seq("c_custkey" -> "c", "c_mktsegment" -> "seg"))
      .toDF
    assert(out.columns.sorted.toSeq == Seq("c", "ok", "seg"))
    // unification = inner equi-join on c
    val expected = Tables.load(spark, dir, "orders")
      .join(Tables.load(spark, dir, "customer"),
        col("o_custkey") === col("c_custkey")).count()
    assert(out.count() == expected)
  }

  test("XTQL text: threaded pipeline parses and plans") {
    import graft.xtql.XtqlText
    val out = XtqlText.query(spark, """
      (-> (from :orders [o_orderkey o_orderstatus o_totalprice])
          (where (> o_totalprice 100000))
          (aggregate o_orderstatus {:n (row-count)
                                    :total (round (sum o_totalprice) 2)})
          (order-by o_orderstatus)
          (limit 5))""",
      t => Tables.load(spark, dir, t))
    val rows = out.collect()
    assert(out.columns.toSeq == Seq("o_orderstatus", "n", "total"))
    assert(rows.length == 3 && rows.map(_.getLong(1)).forall(_ > 0))
  }

  test("XTQL text: unify + with + literal binds") {
    import graft.xtql.XtqlText
    val out = XtqlText.query(spark, """
      (-> (unify (from :orders [{:o_custkey c} {:o_orderstatus "F"} o_totalprice])
                 (from :customer [{:c_custkey c} c_mktsegment]))
          (with {:price_k (/ o_totalprice 1000.0)})
          (return c_mktsegment price_k)
          (order-by (desc price_k))
          (limit 3))""",
      t => Tables.load(spark, dir, t))
    val rows = out.collect()
    assert(rows.length == 3)
    assert(rows.map(_.getDouble(1)).toSeq ==
      rows.map(_.getDouble(1)).toSeq.sorted.reverse)
  }

  test("XTQL text: registry fallback reaches Spark functions") {
    import graft.xtql.XtqlText
    val out = XtqlText.query(spark, """
      (-> (from :customer [c_custkey c_name])
          (with {:uname (upper c_name)})
          (where (like uname "CUSTOMER%"))
          (limit 1))""",
      t => Tables.load(spark, dir, t))
    assert(out.count() <= 1)
  }

  test("XTQL text: rel inline relation literal") {
    import graft.xtql.XtqlText
    val out = XtqlText.query(spark, """
      (-> (rel [{:a 1 :b "x"} {:a 2 :b "y"} {:a 3}] [a b])
          (where (> a 1))
          (order-by a))""",
      t => Tables.load(spark, dir, t)).collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(2L, 3L))
    assert(out.map(_.getString(1)).toSeq == Seq("y", null))
  }

  test("unnest + without") {
    val docs = Tables.load(spark, dir, "documents").limit(5)
      .withColumn("words", split(col("text"), " "))
    val out = Xtql.from(docs, "doc_id", "words")
      .unnest("words", "word")
      .without("words")
      .toDF
    assert(out.columns.toSeq == Seq("doc_id", "word"))
    assert(out.count() > 5)
  }
}
