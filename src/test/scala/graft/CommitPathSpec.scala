package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import graft.bitemporal.{TxAbortedException, TxOp, XtDb}
import graft.bitemporal.XtDb.WritePoint
import graft.sql.XtSqlEngine
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** A SET expression that fails inside its append job, once `release`
  * opens: a spec holds the job there to interleave other work. Static, so
  * the executor-side copy of the UDF sees the same latches. */
object CommitPathSpec {
  @volatile var entered = new CountDownLatch(1)
  @volatile var release = new CountDownLatch(1)
  def blockThenFail(id: Long): String = {
    entered.countDown()
    release.await(30, TimeUnit.SECONDS)
    throw new IllegalStateException(s"failing SET expression at $id")
  }
}

/** The store's one commit protocol: every write API is a `submitTx`, a
  * transaction pins only the ops a later op reads, `_seq` orders ops by
  * index and rows within an op as their frame gives them, and a failure
  * before the log record leaves nothing behind. */
class CommitPathSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.builder(4).getOrCreate()

  private def freshDb(): XtDb = new XtDb(spark,
    java.nio.file.Files.createTempDirectory("graft_commit").toString)

  private def committed(db: XtDb): Long =
    db.txs.filter(col("committed")).count()

  private def current(db: XtDb, table: String): Map[Long, String] = {
    import spark.implicits._
    db.asOf(table).select("_id", "v").as[(Long, String)].collect().toMap
  }

  test("every write API fires Appended once and logs one committed " +
      "transaction") {
    import spark.implicits._
    val db = freshDb()
    db.putDocs("t", Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("_id", "v"))
    val copyDir = java.nio.file.Files.createTempDirectory("graft_copy")
      .toString + "/in.parquet"
    Seq((7L, "copied")).toDF("_id", "v").write.parquet(copyDir)
    def ids(xs: Long*): DataFrame = xs.toDF("_id")
    val writes: Seq[(String, () => Any)] = Seq(
      "putDocs" -> (() => db.putDocs("t", Seq((4L, "d")).toDF("_id", "v"))),
      "deleteDocs" -> (() => db.deleteDocs("t", ids(4L))),
      "eraseDocs" -> (() => db.eraseDocs("t", ids(3L))),
      "patchDocs" -> (() =>
        db.patchDocs("t", Seq((1L, "a2")).toDF("_id", "v"))),
      "update" -> (() =>
        db.update("t", col("_id") === 2L, Seq("v" -> lit("b2")))),
      "patchGaps" -> (() => db.patchGaps("t",
        Seq((5L, "e")).toDF("_id", "v"),
        lit("2020-01-01 00:00:00"), Some(lit("2021-01-01 00:00:00")))),
      "copyIn" -> (() => db.copyIn("t", copyDir)))
    writes.foreach { case (name, write) =>
      val appended = new AtomicInteger
      val before = committed(db)
      WritePoints.withHook { case WritePoint.Appended(tables) =>
        assert(tables == Seq("t"), s"$name appended $tables")
        appended.incrementAndGet()
      }(write())
      assert(appended.get == 1, s"$name fired Appended ${appended.get}x")
      assert(committed(db) == before + 1,
        s"$name must log exactly one committed transaction")
    }
    assert(current(db, "t") == Map(1L -> "a2", 2L -> "b2", 7L -> "copied"))
  }

  test("_seq: a one-op batch keeps its row order, a transaction its op " +
      "order") {
    import spark.implicits._
    val db = freshDb()
    // one put whose batch names id 1 twice: the later row wins
    db.putDocs("s1", Seq((1L, "first"), (1L, "second")).toDF("_id", "v")
      .coalesce(1))
    assert(current(db, "s1") == Map(1L -> "second"))
    // two ops on one id in one transaction: the later op wins, whatever
    // the row counts
    db.submitTx(Seq(
      TxOp.Put("s2", Seq((1L, "x"), (1L, "y")).toDF("_id", "v").coalesce(1)),
      TxOp.Put("s2", Seq((1L, "z")).toDF("_id", "v"))))
    assert(current(db, "s2") == Map(1L -> "z"))
  }

  test("a pinned op's view resolves in the committed order") {
    import spark.implicits._
    val db = freshDb()
    // the Update reads the Put's pinned rows: it must see the row the
    // commit resolves to ("q"), not the batch's other row
    db.submitTx(Seq(
      TxOp.Put("pv", Seq((1L, "p"), (1L, "q")).toDF("_id", "v").coalesce(1)),
      TxOp.Update("pv", col("_id") === 1L,
        Seq("v" -> concat(col("v"), lit("!"))))))
    assert(current(db, "pv") == Map(1L -> "q!"))
  }

  test("an ASSERT reading earlier ops' rows still aborts with nothing " +
      "visible") {
    import spark.implicits._
    val db = freshDb()
    db.putDocs("keep", Seq((1L, "k")).toDF("_id", "v"))
    val before = committed(db)
    val ex = intercept[TxAbortedException](db.submitTx(Seq(
      TxOp.Put("pa", Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("_id", "v")),
      TxOp.Assert("sees its puts", snap =>
        snap.current("pa").agg(expr("count(*) = 3 AS ok"))),
      TxOp.Put("pa", Seq((4L, "d")).toDF("_id", "v")),
      TxOp.Delete("keep", Seq(1L).toDF("_id")),
      TxOp.Assert("sees four", snap =>
        snap.current("pa").agg(expr("count(*) = 5 AS ok"))))))
    assert(ex.getMessage.contains("sees four"),
      "the first ASSERT must see the pinned puts and pass")
    assert(!db.tables.contains("pa"))
    assert(current(db, "keep") == Map(1L -> "k"))
    assert(committed(db) == before)
    assert(db.txs.filter(col("tx_op") === "tx-abort").count() == 1)
  }

  test("a transaction whose later table fails to append leaves the " +
      "earlier tables untouched") {
    import spark.implicits._
    val db = freshDb()
    db.putDocs("ua", Seq((1L, "one")).toDF("_id", "v"))
    // fails inside its append job, after the earlier tables' appends
    val failing = spark.range(3).select(col("id").as("_id"),
      when(col("id") >= 0, raise_error(lit("boom")))
        .otherwise(lit("v")).as("v"))
    intercept[Exception](db.submitTx(Seq(
      TxOp.Put("ua", Seq((2L, "two")).toDF("_id", "v")),
      TxOp.Put("un", Seq((1L, "new")).toDF("_id", "v")),
      TxOp.Put("ub", failing))))
    // a later commit moves the basis past the failed one's system time
    db.putDocs("ua", Seq((3L, "three")).toDF("_id", "v"))
    assert(current(db, "ua") == Map(1L -> "one", 3L -> "three"))
    assert(!db.tables.contains("un") && !db.tables.contains("ub"))
  }

  test("two engines on one store each report their own statement's " +
      "count") {
    val db = freshDb()
    val three = new XtSqlEngine(spark, db)
    val one = new XtSqlEngine(spark, db)
    three.sql("INSERT INTO c3 RECORDS {_id: 0}")
    db.compact("c3") // opted in: the next commit on c3 auto-compacts
    val key = "spark.graft.autoCompact.maxLag"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, "0")
    try {
      // the other engine commits in between: inside the first commit's
      // auto-compaction, before that commit returns its count
      var fired = false
      var nested = -1L
      val n = WritePoints.withHook {
        case WritePoint.BeforeFlip("c3") if !fired =>
          fired = true
          nested = one.sqlUpdate("INSERT INTO c1 RECORDS {_id: 1}")
      }(three.sqlUpdate("INSERT INTO c3 RECORDS {_id: 1}, {_id: 2}, {_id: 3}"))
      assert(fired, "the first commit never auto-compacted")
      assert(nested == 1L)
      assert(n == 3L)
    } finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("UPDATE … RETURNING leaves no temp dir behind") {
    val db = freshDb()
    val eng = new XtSqlEngine(spark, db)
    eng.sql("INSERT INTO rt RECORDS {_id: 1, v: 10}, {_id: 2, v: 20}")
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def returningDirs: Int =
      Option(tmp.list()).getOrElse(Array.empty[String])
        .count(_.startsWith("graft_returning"))
    val before = returningDirs
    val out = eng.sql("UPDATE rt SET v = v + 1 WHERE _id = 1 RETURNING _id, v")
      .collect().map(r => (r.getAs[Number](0).longValue,
        r.getAs[Number](1).longValue)).toSeq
    assert(out == Seq((1L, 11L)))
    assert(returningDirs == before)
  }

  test("a fold during a failing commit keeps its level and its rows") {
    import spark.implicits._
    val db = freshDb()
    db.putDocs("lf", Seq((1L, "a"), (2L, "b")).toDF("_id", "v"))
    db.compact("lf")
    db.putDocs("lf", Seq((3L, "c")).toDF("_id", "v"))
    CommitPathSpec.entered = new CountDownLatch(1)
    CommitPathSpec.release = new CountDownLatch(1)
    val failing = udf((id: Long) => CommitPathSpec.blockThenFail(id))
    val pending = Future(db.submitTx(Seq(TxOp.Put("lf",
      spark.range(1).select(lit(9L).as("_id"),
        failing(col("id")).as("v"))))))
    try {
      assert(CommitPathSpec.entered.await(30, TimeUnit.SECONDS),
        "the failing append never started")
      // maintenance does not queue behind the commit: the fold lands a
      // level in the very dir the failing append writes to
      assert(db.compactIncremental("lf"))
    } finally CommitPathSpec.release.countDown()
    intercept[Exception](Await.result(pending, 30.seconds))
    val fs = new org.apache.hadoop.fs.Path(db.dataDir("lf"))
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(db.dataDir("lf")))
      .exists(_.getPath.getName.startsWith("_lv")),
      "the failed commit deleted the fold's level")
    // two more cycles sweep the files the level consumed
    db.compactIncremental("lf")
    db.compactIncremental("lf")
    assert(current(db, "lf") == Map(1L -> "a", 2L -> "b", 3L -> "c"))
  }

  test("a commit during an external full compaction lands in the " +
      "generation the compaction flips to") {
    import spark.implicits._
    spark.conf.set("spark.graft.autoCompact.maxLag", "-1")
    val db = freshDb()
    db.putDocs("cc", Seq((1L, "a"), (2L, "b")).toDF("_id", "v"))
    val atFlip = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    @volatile var putThread: Thread = null
    try WritePoints.withHook { case WritePoint.BeforeFlip("cc") =>
      atFlip.countDown()
      release.await(30, TimeUnit.SECONDS)
    } {
      val compaction = Future(db.compact("cc"))
      val put = try {
        assert(atFlip.await(30, TimeUnit.SECONDS),
          "the compaction never reached its flip")
        val put = Future {
          putThread = Thread.currentThread()
          db.putDocs("cc", Seq((3L, "c")).toDF("_id", "v"))
        }
        // hold the flip until the put has landed, or waits on the store
        def waiting = Option(putThread).exists(t =>
          t.getState == Thread.State.BLOCKED &&
            t.getStackTrace.headOption
              .exists(_.getClassName == classOf[XtDb].getName))
        val deadline = System.nanoTime() + 30.seconds.toNanos
        while (!put.isCompleted && !waiting && System.nanoTime() < deadline)
          Thread.sleep(20)
        put
      } finally release.countDown()
      Await.result(compaction, 30.seconds)
      Await.result(put, 30.seconds)
    } finally spark.conf.unset("spark.graft.autoCompact.maxLag")
    assert(current(db, "cc") == Map(1L -> "a", 2L -> "b", 3L -> "c"),
      "the commit appended into the superseded generation")
  }

  test("a failing commit keeps another instance's commit into the same " +
      "table") {
    import spark.implicits._
    val db = freshDb()
    db.putDocs("xi", Seq((1L, "a")).toDF("_id", "v"))
    val other = new XtDb(spark, db.root)
    var fired = false
    intercept[IllegalStateException](WritePoints.withHook {
      case WritePoint.Appended(_) if !fired =>
        fired = true
        // lands its own loose files in the dir the failing commit wrote to
        other.putDocs("xi", Seq((3L, "c")).toDF("_id", "v"))
        throw new IllegalStateException("fails after the other commit")
    }(db.putDocs("xi", Seq((2L, "b")).toDF("_id", "v"))))
    assert(current(new XtDb(spark, db.root), "xi") ==
      Map(1L -> "a", 3L -> "c"))
  }

  test("a transaction's pins are released when it commits or aborts") {
    import spark.implicits._
    val db = freshDb()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    db.submitTx(Seq(
      TxOp.Put("pr", Seq((1L, "a")).toDF("_id", "v")),
      TxOp.Update("pr", col("_id") === 1L, Seq("v" -> lit("b")))))
    intercept[TxAbortedException](db.submitTx(Seq(
      TxOp.Put("pr", Seq((2L, "c")).toDF("_id", "v")),
      TxOp.Assert("never", _ => spark.range(1).select(lit(false))))))
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty)
    assert(current(db, "pr") == Map(1L -> "b"))
  }
}
