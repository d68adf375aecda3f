package graft

import graft.bitemporal.{TxAbortedException, XtDb}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** DML surface beyond put/delete: UPDATE-as-query, ASSERT abort semantics,
  * and the xt.txs transaction log (reference tx ops api.clj:258-299,
  * ASSERT query.clj:492, xt.txs information_schema.clj). */
class XtDbDmlSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.builder(4).getOrCreate()

  private def freshDb(): XtDb = {
    val dir = java.nio.file.Files.createTempDirectory("xtdb-dml").toString
    new XtDb(spark, dir)
  }

  test("update rewrites matching rows as new versions") {
    val db = freshDb()
    import spark.implicits._
    db.putDocs("accounts",
      Seq((1L, 100L, "open"), (2L, 200L, "open"), (3L, 300L, "frozen"))
        .toDF("_id", "balance", "status"))
    db.update("accounts", col("status") === "open",
      Seq("balance" -> (col("balance") + 10L)))

    val cur = db.asOf("accounts").select("_id", "balance")
      .as[(Long, Long)].collect().toMap
    assert(cur == Map(1L -> 110L, 2L -> 210L, 3L -> 300L))
    // history: updated docs have 2 versions, untouched doc has 1
    assert(db.history("accounts").filter(col("_id") === 1L).count() >= 2)
  }

  test("assert aborts and is recorded in xt.txs") {
    val db = freshDb()
    import spark.implicits._
    db.putDocs("docs", Seq((1L, 5L)).toDF("_id", "n"))

    // passing assert: exactly one row, true
    db.assertTx(db.asOf("docs").agg(expr("count(*) = 1 AS ok")))

    // failing assert
    val ex = intercept[TxAbortedException] {
      db.assertTx(db.asOf("docs").agg(expr("count(*) > 5 AS ok")), "too few docs")
    }
    assert(ex.getMessage.contains("too few docs"))

    val txs = db.txs.select("tx_op", "committed").collect()
      .map(r => (r.getString(0), r.getBoolean(1))).toSeq
    assert(txs.contains(("put", true)))
    assert(txs.contains(("assert", false)))
  }

  test("submitTx: multi-op atomic commit at one system time") {
    val db = freshDb()
    import spark.implicits._
    import graft.bitemporal.TxOp
    db.submitTx(Seq(
      TxOp.Put("users", Seq((1L, "ada")).toDF("_id", "name")),
      TxOp.Put("teams", Seq((10L, "eng")).toDF("_id", "team")),
      // assert sees the staged puts of THIS tx
      TxOp.Assert("both staged", snap =>
        snap.current("users").crossJoin(snap.current("teams"))
          .agg(expr("count(*) = 1 AS ok"))),
      TxOp.Update("users", col("_id") === 1L,
        Seq("name" -> lit("ada lovelace")))))

    assert(db.asOf("users").select("name").as[String].collect().toSeq ==
      Seq("ada lovelace"))
    assert(db.asOf("teams").count() == 1)
    // every event of the tx shares ONE _system_from across both tables
    val sfs = (db.events("users").select("_system_from")
        .unionAll(db.events("teams").select("_system_from")))
      .distinct().collect()
    assert(sfs.length == 1)
  }

  test("submitTx: mid-tx ASSERT failure rolls back the whole batch") {
    val db = freshDb()
    import spark.implicits._
    import graft.bitemporal.TxOp
    db.putDocs("inv", Seq((1L, 5L)).toDF("_id", "qty"))

    val ex = intercept[TxAbortedException] {
      db.submitTx(Seq(
        TxOp.Update("inv", col("_id") === 1L,
          Seq("qty" -> (col("qty") - 10L))),
        TxOp.Put("audit", Seq((100L, "withdrawal")).toDF("_id", "what")),
        TxOp.Assert("non-negative stock", snap =>
          snap.current("inv").agg(expr("min(qty) >= 0 AS ok")))))
    }
    assert(ex.getMessage.contains("non-negative stock"))

    // nothing from the aborted tx is visible: qty unchanged, no audit table
    assert(db.asOf("inv").select("qty").as[Long].collect().toSeq == Seq(5L))
    assert(intercept[Exception](db.events("audit").count()) != null)
    // the abort is recorded in xt.txs
    assert(db.txs.filter(col("tx_op") === "tx-abort" && !col("committed"))
      .count() == 1)
  }

  test("analyzeTable collects row counts and ndv into the stats catalog") {
    val db = freshDb()
    import spark.implicits._
    db.putDocs("s", (1L to 100L).map(i => (i, i % 10, s"g${i % 3}"))
      .toDF("_id", "mod10", "grp"))
    db.analyzeTable("s")
    val stats = db.tableStats("s")
      .select("column_name", "row_count", "ndv")
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(stats("mod10")._1 == 100L)
    // HLL estimates: exact at this cardinality
    assert(stats("mod10")._2 == 10L && stats("grp")._2 == 3L)
  }

  test("information_schema reflects XtDb event tables") {
    val db = freshDb()
    import spark.implicits._
    db.putDocs("widgets", Seq((1L, "w1", 2.5)).toDF("_id", "name", "weight"))
    val cols = graft.sources.InformationSchema
      .columnsFor(db, spark, Seq("widgets"))
      .select("column_name", "data_type")
      .as[(String, String)].collect().toMap
    assert(cols("name") == "VARCHAR" && cols("weight") == "DOUBLE")
    assert(cols.contains("_iid") && cols.contains("_valid_from") &&
      cols.contains("_system_from"))
  }
}
