package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import graft.bitemporal.{TxOp, XtDb}
import graft.bitemporal.XtDb.WritePoint
import graft.sql.XtSqlEngine
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.lit
import org.scalatest.funsuite.AnyFunSuite

/** Reads run at the committed basis and never wait for the writer: a
  * statement takes the store's committed head without a lock and resolves
  * every unpinned system-time reference at it, so a transaction whose
  * files have landed but whose log record has not stays invisible, and a
  * commit's auto-compaction does not hold readers back. Statements of
  * engines sharing one Spark session bind their views atomically. The
  * engine API's `asOf` and `pointLookup` default to the same basis.
  *
  * Every cross-thread wait is bounded (30 s at most) and every held write
  * point is released in `finally`, so a read that blocks on the writer
  * fails the test instead of hanging the suite. */
class ReadBasisSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.builder(4).getOrCreate()

  private val Wait = 30.seconds

  private def fresh(): (XtDb, XtSqlEngine) = {
    val root = java.nio.file.Files.createTempDirectory("graft_basis").toString
    val db = new XtDb(spark, root)
    (db, new XtSqlEngine(spark, db))
  }

  /** Run `body` with a pool of `n` threads, shut down afterwards. */
  private def withPool[T](n: Int)(body: ExecutionContext => T): T = {
    val pool = Executors.newFixedThreadPool(n)
    try body(ExecutionContext.fromExecutor(pool))
    finally pool.shutdownNow()
  }

  /** Hold the writer at the first write point `at` accepts until `body`
    * returns; `body` gets a latch that opens once the writer is held. */
  private def holdAt[T](at: WritePoint => Boolean)(
      body: CountDownLatch => Future[T]): T = {
    val held = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    WritePoints.withHook { case p if at(p) && held.getCount > 0 =>
      held.countDown()
      release.await(Wait.toSeconds, TimeUnit.SECONDS)
    } {
      val commit = try body(held) finally release.countDown()
      Await.result(commit, Wait)
    }
  }

  private def longs(eng: XtSqlEngine, q: String): Seq[Long] =
    eng.sql(q).collect().toSeq.map(_.getLong(0))

  test("a read while a commit is held after its files landed returns the " +
      "pre-commit rows, without waiting for the commit") {
    val (db, writer) = fresh()
    val reader = new XtSqlEngine(spark, db)
    writer.sql("INSERT INTO hb_a RECORDS {_id: 1, v: CAST(1 AS BIGINT)}")
    withPool(2) { implicit ec =>
      holdAt(WritePoints.appended) { held =>
        val commit = Future(writer.sql("UPDATE hb_a SET v = 2 WHERE _id = 1"))
        assert(held.await(Wait.toSeconds, TimeUnit.SECONDS),
          "the commit never reached its Appended write point")
        val read = Future(longs(reader, "SELECT v FROM hb_a WHERE _id = 1"))
        assert(Await.result(read, Wait) == Seq(1L))
        assert(!commit.isCompleted, "the commit must still be held")
        commit
      }
    }
    assert(longs(reader, "SELECT v FROM hb_a WHERE _id = 1") == Seq(2L))
  }

  test("an engine-API read while a commit is held after its files landed " +
      "returns the pre-commit rows") {
    val (db, writer) = fresh()
    writer.sql("INSERT INTO hb_api RECORDS {_id: 1, v: CAST(1 AS BIGINT)}")
    def apiReads(): (Seq[Long], Seq[Long]) = (
      db.asOf("hb_api").select("v").collect().toSeq.map(_.getLong(0)),
      db.pointLookup("hb_api", 1L).select("v").collect().toSeq
        .map(_.getLong(0)))
    withPool(2) { implicit ec =>
      holdAt(WritePoints.appended) { held =>
        val commit = Future(writer.sql("UPDATE hb_api SET v = 2 WHERE _id = 1"))
        assert(held.await(Wait.toSeconds, TimeUnit.SECONDS),
          "the commit never reached its Appended write point")
        assert(Await.result(Future(apiReads()), Wait) == ((Seq(1L), Seq(1L))))
        assert(!commit.isCompleted, "the commit must still be held")
        commit
      }
    }
    assert(apiReads() == ((Seq(2L), Seq(2L))))
  }

  test("an erase held after its files landed masks nothing, at the current " +
      "point or as of before it; once logged it masks both") {
    val (db, writer) = fresh()
    val reader = new XtSqlEngine(spark, db)
    writer.sql("INSERT INTO hb_e RECORDS {_id: 1, v: CAST(1 AS BIGINT)}")
    val tPut = db.snapshotToken()
    val current = "SELECT v FROM hb_e WHERE _id = 1"
    val asOfPut = "SELECT v FROM hb_e FOR SYSTEM_TIME AS OF TIMESTAMP " +
      s"'${tPut.toInstant}' WHERE _id = 1"
    def reads(): Seq[Seq[Long]] = Seq(
      longs(reader, current),
      longs(reader, asOfPut),
      db.asOf("hb_e").select("v").collect().toSeq.map(_.getLong(0)),
      db.asOf("hb_e", systemAt = Some(lit(tPut))).select("v").collect().toSeq
        .map(_.getLong(0)))
    withPool(2) { implicit ec =>
      holdAt(WritePoints.appended) { held =>
        val commit = Future(writer.sql("ERASE FROM hb_e WHERE _id = 1"))
        assert(held.await(Wait.toSeconds, TimeUnit.SECONDS),
          "the erase never reached its Appended write point")
        assert(Await.result(Future(reads()), Wait) == Seq.fill(4)(Seq(1L)))
        assert(!commit.isCompleted, "the erase must still be held")
        commit
      }
    }
    assert(reads() == Seq.fill(4)(Seq.empty[Long]))
  }

  test("a join racing a two-table commit sees neither table's new version, " +
      "then both") {
    val (db, writer) = fresh()
    val reader = new XtSqlEngine(spark, db)
    writer.sql("INSERT INTO hb_l RECORDS {_id: 1, v: CAST(1 AS BIGINT)}")
    writer.sql("INSERT INTO hb_r RECORDS {_id: 1, w: CAST(1 AS BIGINT)}")
    val join = "SELECT l.v * 10 + r.w FROM hb_l l JOIN hb_r r ON l._id = r._id"
    withPool(2) { implicit ec =>
      holdAt(_ == WritePoint.Appended(Seq("hb_l", "hb_r"))) { held =>
        val commit = Future(writer.submitTxSql(Seq(
          "UPDATE hb_l SET v = 2 WHERE _id = 1",
          "UPDATE hb_r SET w = 2 WHERE _id = 1")))
        assert(held.await(Wait.toSeconds, TimeUnit.SECONDS),
          "the commit never reached its Appended write point")
        assert(Await.result(Future(longs(reader, join)), Wait) == Seq(11L))
        assert(!commit.isCompleted, "the commit must still be held")
        commit
      }
    }
    assert(longs(reader, join) == Seq(22L))
  }

  test("a read while a commit's auto-compaction is held returns the " +
      "post-commit rows") {
    val (db, writer) = fresh()
    val reader = new XtSqlEngine(spark, db)
    val key = "spark.graft.autoCompact.maxLag"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, "0")
    try {
      writer.sql("INSERT INTO hb_c RECORDS {_id: 1, k: 1, v: CAST(1 AS BIGINT)}")
      db.declareLayout("hb_c", "k", 2)
      db.compact("hb_c")
      withPool(2) { implicit ec =>
        holdAt(WritePoints.beforeFlip) { held =>
          val commit =
            Future(writer.sql("UPDATE hb_c SET v = 2 WHERE _id = 1"))
          assert(held.await(Wait.toSeconds, TimeUnit.SECONDS),
            "the commit's auto-compaction never reached BeforeFlip")
          val read = Future(longs(reader, "SELECT v FROM hb_c WHERE _id = 1"))
          assert(Await.result(read, Wait) == Seq(2L))
          assert(!commit.isCompleted, "the compaction must still be held")
          commit
        }
      }
    } finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
    assert(longs(reader, "SELECT v FROM hb_c WHERE _id = 1") == Seq(2L))
  }

  test("snapshotToken on an empty store allocates no system time") {
    val (db, _) = fresh()
    assert(db.logHeadMicros == 0L)
    val t = db.snapshotToken()
    assert(math.abs(t.getTime - System.currentTimeMillis()) < 60000L,
      s"an empty store's token is the wall clock, got $t")
    assert(db.logHeadMicros == 0L)
  }

  test("two engines on one session each read their own AS OF version") {
    val (db, _) = fresh()
    import spark.implicits._
    // versions five months apart, read a month or more after each: the
    // session and JVM time zones cannot move a read across a version
    db.submitTx(Seq(TxOp.Put("hb_s", Seq((1L, 1L)).toDF("_id", "v"))),
      Some(java.sql.Timestamp.valueOf("2020-01-01 00:00:00")))
    db.submitTx(Seq(TxOp.Put("hb_s", Seq((1L, 2L)).toDF("_id", "v"))),
      Some(java.sql.Timestamp.valueOf("2020-06-01 00:00:00")))
    val loops = Seq(
      ("SELECT v FROM hb_s FOR SYSTEM_TIME AS OF TIMESTAMP " +
        "'2020-03-01 00:00:00' WHERE _id = 1", 1L),
      ("SELECT v, _system_from FROM hb_s FOR SYSTEM_TIME AS OF TIMESTAMP " +
        "'2020-09-01 00:00:00' WHERE _id = 1", 2L))
    val deadline = System.nanoTime() + 25.seconds.toNanos
    withPool(2) { implicit ec =>
      val runs = loops.map { case (q, want) =>
        Future {
          val eng = new XtSqlEngine(spark, db)
          var n = 0
          val wrong = scala.collection.mutable.Buffer.empty[String]
          while (n < 20 && System.nanoTime() < deadline) {
            try {
              val got = eng.sql(q).collect().toSeq.map(_.getLong(0))
              if (got != Seq(want)) wrong += s"read $n got $got"
            } catch {
              case scala.util.control.NonFatal(e) =>
                wrong += s"read $n threw ${e.getMessage.take(120)}"
            }
            n += 1
          }
          (n, wrong.toSeq)
        }
      }
      val results = Await.result(Future.sequence(runs), Wait)
      results.zip(loops).foreach { case ((n, wrong), (q, want)) =>
        assert(n >= 5, s"only $n reads of '$q' finished in time")
        assert(wrong.isEmpty,
          s"'$q' (want $want): ${wrong.size} of $n reads saw another " +
            s"statement's view: ${wrong.take(3).mkString("; ")}")
      }
    }
  }
}
