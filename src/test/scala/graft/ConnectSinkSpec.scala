package graft

import graft.bitemporal.XtDb
import graft.sources.ConnectSink
import graft.sources.ConnectSink._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Kafka-Connect sink semantics (reference modules/kafka-connect
  * README.adoc config model): id.mode record_key/record_value, struct
  * keys via id.field, tombstones delete. */
class ConnectSinkSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.builder(4).getOrCreate()

  test("record_key primitive: upserts then tombstone deletes") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("sink1").toString
    val db = new XtDb(spark, root)
    val cfg = SinkConfig("users", RecordKey)

    val b1 = Seq((1L, Some(("alice", 30))), (2L, Some(("bob", 40))))
      .toDF("key", "value")
      .select(col("key"), when(col("value").isNotNull,
        struct(col("value._1").as("name"), col("value._2").as("age")))
        .as("value"))
    ConnectSink.applyBatch(db, cfg, b1)

    // batch 2: update key 1, tombstone key 2 (Kafka compaction delete)
    val b2 = Seq((1L, Some(("alice2", 31))), (2L, None))
      .toDF("key", "value")
      .select(col("key"), when(col("value").isNotNull,
        struct(col("value._1").as("name"), col("value._2").as("age")))
        .as("value"))
    ConnectSink.applyBatch(db, cfg, b2)

    val state = db.asOf("users").select("_id", "name", "age")
      .as[(Long, String, Int)].collect().toSet
    assert(state == Set((1L, "alice2", 31)))
  }

  test("record_key struct requires idField; record_value reads from value") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("sink2").toString
    val db = new XtDb(spark, root)

    val batch = Seq(("k7", "x", 1), ("k8", "y", 2))
      .toDF("kid", "payload", "n")
      .select(struct(col("kid")).as("key"),
        struct(col("kid").as("uid"), col("payload"), col("n")).as("value"))

    // struct key without idField -> config error (README id.field)
    intercept[IllegalArgumentException] {
      ConnectSink.applyBatch(db, SinkConfig("t1", RecordKey), batch)
    }
    ConnectSink.applyBatch(db,
      SinkConfig("t1", RecordKey, Some("kid")), batch)
    assert(db.asOf("t1").select("_id").as[String].collect().toSet ==
      Set("k7", "k8"))

    // record_value: _id from a value field, which is deduped out of the doc
    ConnectSink.applyBatch(db,
      SinkConfig("t2", RecordValue, Some("uid")), batch)
    val t2 = db.asOf("t2")
    assert(t2.select("_id").as[String].collect().toSet == Set("k7", "k8"))
    assert(!t2.columns.contains("uid"))

    // tombstones can't be addressed by value -> error (README tombstone note)
    val withTomb = batch.select(col("key"),
      when(col("value.n") === 1, col("value")).as("value"))
    intercept[IllegalArgumentException] {
      ConnectSink.applyBatch(db,
        SinkConfig("t2", RecordValue, Some("uid")), withTomb)
    }
  }

  test("streaming foreachBatch wiring over MemoryStream") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("sink3").toString
    val ckpt = java.nio.file.Files.createTempDirectory("sinkck").toString
    val db = new XtDb(spark, root)
    implicit val sq = spark.sqlContext

    val mem = MemoryStream[(Long, String)]
    val stream = mem.toDF().toDF("key", "payload")
      .select(col("key"),
        struct(col("payload")).as("value"))
    val q = ConnectSink.sink(db, SinkConfig("events_in", RecordKey),
      stream, ckpt)
    try {
      mem.addData((10L, "a"), (11L, "b"))
      q.processAllAvailable()
      mem.addData((10L, "a2"))
      q.processAllAvailable()
    } finally q.stop()

    val state = db.asOf("events_in").select("_id", "payload")
      .as[(Long, String)].collect().toSet
    assert(state == Set((10L, "a2"), (11L, "b")))
  }
}
