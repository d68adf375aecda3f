package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded generator for the engine's input tables (`graft.Tables.all`):
  * the TPC-H-shaped star schema plus the `events`, `documents` and
  * `embeddings` tables the headline queries read. Every value is a hash of
  * (seed, row key, attribute), so a seed and scale factor always give the
  * same rows whatever the partitioning. Row counts follow TPC-H: at sf 0.1
  * there are 15k customers, 150k orders and about 600k line items.
  */
object Gen {

  private val Day = 86400L
  private val Epoch1995 = 788918400L // 1995-01-01T00:00:00Z
  private val Epoch2024 = 1704067200L // 2024-01-01T00:00:00Z

  final case class Sizes(sf: Double) {
    private def n(base: Double) = math.max(1L, math.round(base * sf))
    val customers: Long = n(150000)
    val orders: Long = n(1500000)
    val parts: Long = n(200000)
    val suppliers: Long = n(10000)
    val users: Long = n(15000)
    val events: Long = n(1000000)
    val documents: Long = n(50000)
    val embeddings: Long = n(20000)
  }

  private val Vocab = Seq("a", "the", "data", "query", "table", "scan",
    "join", "hash", "sort", "merge", "window", "group", "agg", "filter",
    "order", "line", "part", "customer", "row", "column", "value", "key",
    "batch", "stream", "spark", "small", "big", "fast", "slow", "vector")

  /** The k-th attribute hash of a row: a full-range 64-bit value. */
  private def h(seed: Long, k: Int, key: Column*): Column =
    xxhash64((lit(seed) +: lit(k) +: key): _*)
  /** Uniform in [0, 1). */
  private def u(seed: Long, k: Int, key: Column*): Column =
    pmod(h(seed, k, key: _*), lit(1L << 31)).cast("double") / (1L << 31).toDouble
  /** Uniform integer in [0, n). */
  private def pick(seed: Long, k: Int, n: Long, key: Column*): Column =
    pmod(h(seed, k, key: _*), lit(n))
  private def oneOf(seed: Long, k: Int, values: Seq[String], key: Column*): Column =
    element_at(array(values.map(lit): _*),
      (pick(seed, k, values.size.toLong, key: _*) + 1).cast("int"))
  private def money(lo: Double, hi: Double, r: Column): Column =
    round(lit(lo) + r * (hi - lo), 2)
  private def day(epoch: Long, days: Column): Column =
    timestamp_seconds(lit(epoch) + days * Day)

  private def ids(spark: SparkSession, n: Long, name: String): DataFrame =
    spark.range(0, n, 1, math.max(1, math.min(
      spark.sparkContext.defaultParallelism.toLong, n / 10000).toInt))
      .withColumnRenamed("id", name)

  def customer(spark: SparkSession, seed: Long, s: Sizes): DataFrame = {
    val k = col("c_custkey")
    ids(spark, s.customers, "c_custkey").select(k,
      format_string("Customer#%09d", k).as("c_name"),
      pick(seed, 1, 25, k).cast("int").as("c_nationkey"),
      money(-999.99, 9999.99, u(seed, 2, k)).as("c_acctbal"),
      oneOf(seed, 3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
        "MACHINERY"), k).as("c_mktsegment"))
  }

  def orders(spark: SparkSession, seed: Long, s: Sizes): DataFrame = {
    val k = col("o_orderkey")
    ids(spark, s.orders, "o_orderkey").select(k,
      pick(seed, 11, s.customers, k).as("o_custkey"),
      oneOf(seed, 12, Seq("F", "O", "P"), k).as("o_orderstatus"),
      money(1000, 500000, u(seed, 13, k)).as("o_totalprice"),
      day(Epoch1995, pick(seed, 14, 2405, k)).as("o_orderdate"),
      oneOf(seed, 15, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
        "5-LOW"), k).as("o_orderpriority"))
  }

  def lineitem(orders: DataFrame, seed: Long, s: Sizes): DataFrame = {
    val k = col("l_orderkey")
    val n = col("l_linenumber")
    orders.select(col("o_orderkey").as("l_orderkey"), col("o_orderdate"),
        explode(sequence(lit(1), (pick(seed, 21, 7, col("o_orderkey")) + 1)
          .cast("int"))).as("l_linenumber"))
      .select(k,
        pick(seed, 22, s.parts, k, n).as("l_partkey"),
        pick(seed, 23, s.suppliers, k, n).as("l_suppkey"),
        n,
        (pick(seed, 24, 50, k, n) + 1).cast("double").as("l_quantity"),
        money(900, 105000, u(seed, 25, k, n)).as("l_extendedprice"),
        (pick(seed, 26, 11, k, n).cast("double") / 100).as("l_discount"),
        (pick(seed, 27, 9, k, n).cast("double") / 100).as("l_tax"),
        oneOf(seed, 28, Seq("A", "N", "R"), k, n).as("l_returnflag"),
        oneOf(seed, 29, Seq("F", "O"), k, n).as("l_linestatus"),
        timestamp_seconds(unix_seconds(col("o_orderdate")) +
          (pick(seed, 30, 121, k, n) + 1) * Day).as("l_shipdate"))
  }

  def part(spark: SparkSession, seed: Long, s: Sizes): DataFrame = {
    val k = col("p_partkey")
    ids(spark, s.parts, "p_partkey").select(k,
      concat_ws(" ",
        oneOf(seed, 31, Seq("blue", "green", "red", "black", "white", "large",
          "small", "shiny"), k),
        oneOf(seed, 32, Seq("anvil", "bolt", "gear", "nut", "ring", "spring",
          "valve", "widget"), k)).as("p_name"),
      concat(lit("Brand#"), (pick(seed, 33, 25, k) + 1).cast("string"))
        .as("p_brand"),
      oneOf(seed, 34, Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
        "STANDARD"), k).as("p_type"),
      (pick(seed, 35, 50, k) + 1).cast("int").as("p_size"),
      (lit(900.0) + pick(seed, 36, 1000, k).cast("double") / 10)
        .as("p_retailprice"))
  }

  def supplier(spark: SparkSession, seed: Long, s: Sizes): DataFrame = {
    val k = col("s_suppkey")
    ids(spark, s.suppliers, "s_suppkey").select(k,
      format_string("Supplier#%09d", k).as("s_name"),
      pick(seed, 41, 25, k).cast("int").as("s_nationkey"),
      money(-999.99, 9999.99, u(seed, 42, k)).as("s_acctbal"))
  }

  def nation(spark: SparkSession): DataFrame =
    ids(spark, 25, "k").select(col("k").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("k").cast("string")).as("n_name"),
      pmod(col("k"), lit(5)).cast("int").as("n_regionkey"))

  def region(spark: SparkSession): DataFrame =
    ids(spark, 5, "k").select(col("k").cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE",
        "MIDDLE EAST").map(lit): _*), (col("k") + 1).cast("int")).as("r_name"))

  def events(spark: SparkSession, seed: Long, s: Sizes): DataFrame = {
    val k = col("event_id")
    ids(spark, s.events, "event_id").select(k,
      timestamp_micros(lit(Epoch2024 * 1000000L) +
        pick(seed, 51, 30L * Day * 1000000L, k)).as("ts"),
      pick(seed, 52, s.users, k).as("user_id"),
      oneOf(seed, 53, Seq("click", "error", "purchase", "signup", "view"), k)
        .as("event_type"),
      money(0, 560, u(seed, 54, k)).as("value"),
      format_string("{\"k\": %d}", pick(seed, 55, 100, k)).as("props"))
  }

  def documents(spark: SparkSession, seed: Long, s: Sizes): DataFrame = {
    val k = col("doc_id")
    val vocab = array(Vocab.map(lit): _*)
    val words = transform(sequence(lit(1), (pick(seed, 61, 83, k) + 8).cast("int")),
      i => element_at(vocab,
        (pick(seed, 62, Vocab.size.toLong, k, i) + 1).cast("int")))
    ids(spark, s.documents, "doc_id")
      .select(k, array_join(words, " ").as("text"),
        oneOf(seed, 63, Seq("de", "en", "es", "fr", "zh"), k).as("lang"),
        concat(lit("src"), pick(seed, 64, 20, k).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  def embeddings(spark: SparkSession, seed: Long, s: Sizes): DataFrame = {
    val k = col("vec_id")
    ids(spark, s.embeddings, "vec_id").select(k,
      transform(sequence(lit(0), lit(63)),
        d => ((u(seed, 71, k, d) - 0.5) * 0.6).cast("float")).as("embedding"),
      pick(seed, 72, 10, k).cast("int").as("label"))
  }

  /** Write every table of `graft.Tables.all` as `<dir>/<name>.parquet`,
    * the layout the engine's loaders read. */
  def writeAll(spark: SparkSession, seed: Long, sf: Double, dir: String): Unit = {
    val s = Sizes(sf)
    val ord = orders(spark, seed, s)
    val tables: Seq[(String, DataFrame)] = Seq(
      "region" -> region(spark), "nation" -> nation(spark),
      "customer" -> customer(spark, seed, s),
      "supplier" -> supplier(spark, seed, s), "part" -> part(spark, seed, s),
      "orders" -> ord, "lineitem" -> lineitem(ord, seed, s),
      "events" -> events(spark, seed, s),
      "documents" -> documents(spark, seed, s),
      "embeddings" -> embeddings(spark, seed, s))
    require(tables.map(_._1).toSet == graft.Tables.all.toSet,
      "generator must cover graft.Tables.all")
    tables.foreach { case (name, df) =>
      df.write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }
  }
}
