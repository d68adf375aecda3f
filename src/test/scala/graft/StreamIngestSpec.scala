package graft

import graft.bitemporal.XtDb
import graft.streaming.StreamIngest
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming ingest lifecycle: op-log directory → foreachBatch indexer →
  * bitemporal table, plus watermark+window aggregation over the event
  * stream (driven synchronously via processAllAvailable on parquet input).
  */
class StreamIngestSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.builder(4).getOrCreate()

  test("op log drains into XtDb with version upserts and deletes") {
    import spark.implicits._
    val logDir = java.nio.file.Files.createTempDirectory("xtlog").toString
    val db = new XtDb(spark,
      java.nio.file.Files.createTempDirectory("xtstream").toString)

    // batch 1: two puts
    Seq((1L, "a", "put"), (2L, "b", "put"))
      .toDF("_id", "val", "_op").coalesce(1)
      .write.mode("append").parquet(logDir)

    val schema = spark.read.parquet(logDir).schema
    val q = StreamIngest.startIndexer(
      StreamIngest.openLog(spark, logDir, schema), db, "docs")
    q.processAllAvailable()

    assert(db.asOf("docs").count() == 2)
    val committedTxs = db.txs.filter(col("committed")).count()

    // batch 2: update doc 1, delete doc 2
    Seq((1L, "a2", "put"), (2L, "b", "delete"))
      .toDF("_id", "val", "_op").coalesce(1)
      .write.mode("append").parquet(logDir)
    q.processAllAvailable()
    q.stop()

    // the micro-batch is ONE transaction: one committed log row, and its
    // update and delete share one system time
    assert(db.txs.filter(col("committed")).count() == committedTxs + 1)
    val batch2 = db.events("docs")
      .filter((col("_id") === 1L && col("val") === "a2") ||
        (col("_id") === 2L && col("_op") === "delete"))
      .select("_system_from").collect().toSeq
    assert(batch2.length == 2 && batch2.distinct.length == 1,
      s"update and delete must share one system time: $batch2")

    val cur = db.asOf("docs").select("_id", "val")
      .as[(Long, String)].collect().toMap
    assert(cur == Map(1L -> "a2"))
    // history keeps both versions of doc 1
    assert(db.history("docs").filter(col("_id") === 1L).count() >= 2)
  }

  test("streaming dedup: flatMapGroupsWithState drops repeats across batches") {
    import spark.implicits._
    val logDir = java.nio.file.Files.createTempDirectory("dedupstream").toString
    // batch 1: two distinct docs + one in-batch duplicate
    Seq((1L, "h_a", "a"), (1L, "h_a", "a-dup"), (2L, "h_b", "b"))
      .toDF("user_id", "content_hash", "payload").coalesce(1)
      .write.mode("append").parquet(logDir)
    val schema = spark.read.parquet(logDir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(logDir)
    val deduped = StreamIngest.streamingDedup(stream, "user_id",
      "content_hash")
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    q.processAllAvailable()
    // batch 2: cross-batch duplicate + one new doc for an existing key
    Seq((1L, "h_a", "a-again"), (1L, "h_c", "c"))
      .toDF("user_id", "content_hash", "payload").coalesce(1)
      .write.mode("append").parquet(logDir)
    q.processAllAvailable()
    q.stop()

    val out = spark.table("dedup_out")
      .select("user_id", "content_hash", "payload")
      .as[(Long, String, String)].collect().toSet
    // first occurrences only: in-batch dup and cross-batch dup dropped
    assert(out == Set((1L, "h_a", "a"), (2L, "h_b", "b"), (1L, "h_c", "c")))
  }

  test("per-row simhash equals the shuffled Dedup.simHash16 formulation") {
    import spark.implicits._
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "text").limit(100)
    val shuffled = graft.operators.Dedup.simHash16(docs, "text", "doc_id")
      .as[(Long, Long)].collect().toMap
    docs.as[(Long, String)].collect().foreach { case (id, text) =>
      assert(StreamIngest.simHash16Row(text) == shuffled(id),
        s"per-row simhash diverged for doc $id")
    }
  }

  test("nearDupGroup: min-id dup resolution, in-batch and cross-batch") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.streaming.GroupState
    final class FakeState extends GroupState[Vector[(Long, Long)]] {
      private var v: Option[Vector[(Long, Long)]] = None
      def exists: Boolean = v.isDefined
      def get: Vector[(Long, Long)] = v.get
      def getOption: Option[Vector[(Long, Long)]] = v
      def update(s: Vector[(Long, Long)]): Unit = v = Some(s)
      def remove(): Unit = v = None
      def hasTimedOut: Boolean = false
      def setTimeoutDuration(d: Long): Unit = ()
      def setTimeoutDuration(d: String): Unit = ()
      def setTimeoutTimestamp(t: Long): Unit = ()
      def setTimeoutTimestamp(t: Long, add: String): Unit = ()
      def setTimeoutTimestamp(t: java.sql.Date): Unit = ()
      def setTimeoutTimestamp(t: java.sql.Date, add: String): Unit = ()
      def getCurrentWatermarkMs(): Long = 0L
      def getCurrentProcessingTimeMs(): Long = 0L
    }
    val st = new FakeState
    val fn = StreamIngest.nearDupGroup(3) _
    // batch 1 (out of order on purpose — the fn must sort by id):
    // 5 and 1 are hamming-1 of each other; 9 is far from both
    val b1 = fn(0L, Iterator(
      Row(5L, 0x00f1L), Row(1L, 0x00f0L), Row(9L, 0x0f0fL)), st).toVector
    assert(b1.map(r => (r.getLong(0), r.get(2), r.getBoolean(3))) ==
      Vector((1L, null, true), (5L, 1L, false), (9L, null, true)))
    // batch 2: near 5 (hamming 1 from 5, hamming 2 from 1) → min id 1 wins
    val b2 = fn(0L, Iterator(Row(20L, 0x00f3L)), st).toVector
    assert(b2.map(r => (r.getLong(0), r.get(2), r.getBoolean(3))) ==
      Vector((20L, 1L, false)))
  }

  test("streaming dedup: state TTL evicts idle keys (re-arrival re-emits)") {
    // Eviction semantics tested at the state-function level (deterministic;
    // ProcessingTimeTimeout's wall-clock batch scheduling is not) via a
    // scripted GroupState: timed-out call removes state and emits nothing;
    // a fresh-state call afterwards re-emits the same hash; a live call
    // re-arms the TTL.
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.streaming.GroupState
    class FakeState(var value: Option[Set[String]], val timedOut: Boolean)
        extends GroupState[Set[String]] {
      var removed = false
      var timeoutArmed: Option[String] = None
      def exists: Boolean = value.isDefined
      def get: Set[String] = value.get
      def getOption: Option[Set[String]] = value
      def update(s: Set[String]): Unit = { value = Some(s); removed = false }
      def remove(): Unit = { value = None; removed = true }
      def hasTimedOut: Boolean = timedOut
      def setTimeoutDuration(ms: Long): Unit = timeoutArmed = Some(s"$ms ms")
      def setTimeoutDuration(d: String): Unit = timeoutArmed = Some(d)
      def setTimeoutTimestamp(ts: Long): Unit = ()
      def setTimeoutTimestamp(ts: Long, add: String): Unit = ()
      def setTimeoutTimestamp(ts: java.sql.Date): Unit = ()
      def setTimeoutTimestamp(ts: java.sql.Date, add: String): Unit = ()
      def getCurrentWatermarkMs(): Long = 0L
      def getCurrentProcessingTimeMs(): Long = 0L
    }
    def row(hash: String) = Row(1L, hash, "p")
    val fn = (st: FakeState, rows: Seq[Row]) =>
      StreamIngest.dedupGroup(1, Some("5 minutes"))("1", rows.iterator, st)
        .toVector

    // live call: first occurrence emitted, dup dropped, TTL re-armed
    val live = new FakeState(Some(Set("h_old")), timedOut = false)
    val out1 = fn(live, Seq(row("h_a"), row("h_a"), row("h_old")))
    assert(out1.map(_.getString(1)) == Vector("h_a"))
    assert(live.value.contains(Set("h_old", "h_a")))
    assert(live.timeoutArmed.contains("5 minutes"))

    // timed-out call: state removed, nothing emitted
    val expired = new FakeState(Some(Set("h_a")), timedOut = true)
    assert(fn(expired, Nil).isEmpty && expired.removed)

    // post-eviction re-arrival: same hash re-emitted from fresh state
    val fresh = new FakeState(None, timedOut = false)
    assert(fn(fresh, Seq(row("h_a"))).map(_.getString(1)) == Vector("h_a"))
  }

  test("kafka record shape: decodeOpLog feeds the same indexer contract") {
    // No kafka-clients jars in this container, so the broker socket itself
    // stays unexercised — but everything AFTER the socket is provable:
    // openKafkaLog = format("kafka") source + decodeOpLog, and this drives
    // decodeOpLog from a MemoryStream exposing Kafka's exact record shape
    // (a binary `value` column of JSON op bytes) through the same indexer
    // as the file-source test above, asserting identical XtDb outcomes.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val schema = new org.apache.spark.sql.types.StructType()
      .add("_id", org.apache.spark.sql.types.LongType)
      .add("val", org.apache.spark.sql.types.StringType)
      .add("_op", org.apache.spark.sql.types.StringType)
    val ms = MemoryStream[String]
    val kafkaShaped = ms.toDF.select(col("value").cast("binary").as("value"))
    val decoded = StreamIngest.decodeOpLog(kafkaShaped, schema)
    assert(decoded.schema.fieldNames.toSeq == Seq("_id", "val", "_op"),
      "decoded columns must match the openLog layout")
    val db = new XtDb(spark,
      java.nio.file.Files.createTempDirectory("xtkafka").toString)
    val q = StreamIngest.startIndexer(decoded, db, "kdocs")
    ms.addData("""{"_id":1,"val":"a","_op":"put"}""",
      """{"_id":2,"val":"b","_op":"put"}""")
    q.processAllAvailable()
    ms.addData("""{"_id":1,"val":"a2","_op":"put"}""",
      """{"_id":2,"val":"b","_op":"delete"}""")
    q.processAllAvailable()
    q.stop()
    // same final state + history as the file-source op-log test
    val cur = db.asOf("kdocs").select("_id", "val")
      .as[(Long, String)].collect().toMap
    assert(cur == Map(1L -> "a2"))
    assert(db.history("kdocs").filter(col("_id") === 1L).count() >= 2)
  }

  test("source swap is config-only: same dedup pipeline over MemoryStream") {
    // the pipeline code is identical for file / Kafka / memory sources —
    // only the source expression differs (openLog vs openKafkaLog vs this
    // MemoryStream); proves the transforms are source-agnostic
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, String, String)]
    val stream = ms.toDF.toDF("user_id", "content_hash", "payload")
    val deduped = StreamIngest.streamingDedup(stream, "user_id",
      "content_hash")
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("memsrc_out").start()
    ms.addData((1L, "h_a", "a"), (1L, "h_a", "a-dup"), (2L, "h_b", "b"))
    q.processAllAvailable()
    ms.addData((1L, "h_a", "a-again"), (1L, "h_c", "c"))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("memsrc_out")
      .select("user_id", "content_hash", "payload")
      .as[(Long, String, String)].collect().toSet
    assert(out == Set((1L, "h_a", "a"), (2L, "h_b", "b"), (1L, "h_c", "c")))
  }

  test("watermarked windowed aggregation matches batch computation") {
    val dir = "/root/testdata/sf0.001"
    val batchEvents = Tables.load(spark, dir, "events")
    val schema = batchEvents.schema

    // stream the same parquet through the ns-safe loader path (file stream
    // sources need a directory)
    val streamDir = java.nio.file.Files.createTempDirectory("evstream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      streamDir.resolve("events.parquet"))
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val rawSchema = spark.read.parquet(streamDir.toString).schema
    val raw = spark.readStream.schema(rawSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(streamDir.toString)
    // Mirror Tables.load: only nanos-INT64 testdata needs the ns→µs cast;
    // plain parquet timestamps (the 2026-08-13 regeneration) pass through.
    val stream = rawSchema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros((col("ts") / 1000L).cast("long")))
      case _ => raw
    }

    val agg = StreamIngest.windowedCounts(stream, "ts", "1 hour",
      "10 minutes", "event_type")
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("win_out").start()
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("win_out")
      .select("win_start", "event_type", "n", "total").collect().toSet
    val batch = StreamIngest.windowedCounts(batchEvents, "ts", "1 hour",
      "10 minutes", "event_type").collect().toSet
    assert(streamed == batch && streamed.nonEmpty)
  }
  test("withSizedState pins size-derived state partitions and restores") {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    // sf0.001 is far under 16 MB, so the policy floor (4) applies
    val inside = StreamIngest.withSizedState(spark, "/root/testdata/sf0.001") {
      spark.conf.get(key)
    }
    assert(inside == "4")
    assert(spark.conf.get(key) == prev)
    // restore also on exception
    intercept[RuntimeException] {
      StreamIngest.withSizedState(spark, "/root/testdata/sf0.001") {
        throw new RuntimeException("boom")
      }
    }
    assert(spark.conf.get(key) == prev)
  }
}
