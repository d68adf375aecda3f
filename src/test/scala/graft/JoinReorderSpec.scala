package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** GraftJoinReorder (reference :mega-join stats ordering, join.clj:599-736)
  * on the raw-parquet file path: worst-written inner chains must be
  * rebuilt smallest-selective-first from footer sizes × predicate
  * selectivity, results must be unchanged, and the safety envelope (outer
  * joins, hints, 2-way, streaming) must no-op. */
class JoinReorderSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.builder(4).getOrCreate()

  private lazy val dir = {
    val d = java.nio.file.Files.createTempDirectory("joinreorder").toString
    // fact: 20k rows; dim: 200 rows; tiny: 10 rows
    spark.range(0, 20000)
      .select(col("id").as("f_id"), (col("id") % 200).as("f_dim"),
        (col("id") % 10).as("f_tiny"), (col("id") * 3).as("f_val"))
      .write.mode("overwrite").parquet(s"$d/fact")
    spark.range(0, 200)
      .select(col("id").as("d_id"), (col("id") % 4).as("d_cat"))
      .write.mode("overwrite").parquet(s"$d/dim")
    spark.range(0, 10)
      .select(col("id").as("t_id"), concat(lit("g"), col("id")).as("t_name"))
      .write.mode("overwrite").parquet(s"$d/tiny")
    spark.read.parquet(s"$d/fact").createOrReplaceTempView("jr_fact")
    spark.read.parquet(s"$d/dim").createOrReplaceTempView("jr_dim")
    spark.read.parquet(s"$d/tiny").createOrReplaceTempView("jr_tiny")
    d
  }

  private def fixture(): Unit = { dir; () }

  // chain shape fact—dim—tiny (tiny joins THROUGH dim): the written order
  // joins the 20k-row fact first; the only good order starts from the
  // filtered tiny end of the chain
  private val worstOrder = """
    SELECT t_name, count(*) AS n, sum(f_val) AS v
    FROM jr_fact
    JOIN jr_dim ON f_dim = d_id
    JOIN jr_tiny ON d_cat = t_id
    WHERE t_id < 3
    GROUP BY t_name"""

  test("worst-order chain is rebuilt smallest-first; results unchanged") {
    fixture()
    val q = spark.sql(worstOrder)
    val joins = q.queryExecution.optimizedPlan.collect { case j: Join => j }
    assert(joins.size == 2)
    val innerCols = joins.last.collectLeaves().flatMap(_.output.map(_.name))
    // innermost join must read the chain's small end (tiny ⋈ dim), not the
    // fact the query was written to lead with
    assert(innerCols.contains("t_id") && innerCols.contains("d_id") &&
      !innerCols.contains("f_id"),
      s"innermost join reads: ${innerCols.mkString(",")}")

    val got = q.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    spark.conf.set("spark.graft.joinReorder.enabled", "false")
    try {
      val base = spark.sql(worstOrder).collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
      assert(got.toSeq == base.toSeq)
      // and with the kill-switch off, the written (bad) order stands
      val baseJoins = spark.sql(worstOrder).queryExecution.optimizedPlan
        .collect { case j: Join => j }
      val baseInner = baseJoins.last.collectLeaves()
        .flatMap(_.output.map(_.name))
      assert(baseInner.contains("f_id"),
        s"kill-switch ignored: ${baseInner.mkString(",")}")
    } finally spark.conf.set("spark.graft.joinReorder.enabled", "true")
  }

  test("NDV sidecars refine equality selectivity: ANALYZE flips the " +
      "greedy order, results unchanged") {
    fixture()
    val d = java.nio.file.Files.createTempDirectory("jr_ndv").toString
    // hi: 5000 rows, h_pad UNIQUE (ndv 5000) — an equality on it is
    // key-selective. lo: 4900 rows (slightly SMALLER file so the
    // default 0.1-selectivity model must pick it first), l_flag ndv 2.
    spark.range(0, 5000)
      .select(col("id").as("h_id"), col("id").as("h_pad"))
      .write.mode("overwrite").parquet(s"$d/hi")
    spark.range(0, 4900)
      .select(col("id").as("l_id"), (col("id") % 2).as("l_flag"))
      .write.mode("overwrite").parquet(s"$d/lo")
    spark.range(0, 20000)
      .select(col("id").as("f2_id"), (col("id") % 5000).as("f2_h"),
        (col("id") % 4900).as("f2_l"))
      .write.mode("overwrite").parquet(s"$d/fact2")
    spark.read.parquet(s"$d/hi").createOrReplaceTempView("jr_hi")
    spark.read.parquet(s"$d/lo").createOrReplaceTempView("jr_lo")
    spark.read.parquet(s"$d/fact2").createOrReplaceTempView("jr_fact2")
    val q = """
      SELECT count(*) AS n FROM jr_fact2
      JOIN jr_lo ON f2_l = l_id
      JOIN jr_hi ON f2_h = h_id
      WHERE l_flag = 1 AND h_pad = 7"""
    def firstLeafCols: Seq[String] =
      spark.sql(q).queryExecution.optimizedPlan
        .collectLeaves().head.output.map(_.name)

    // without sidecars both equalities cost the 0.1 default and the
    // smaller lo file wins the greedy start
    assert(firstLeafCols.contains("l_id"),
      s"default model should start from lo, got $firstLeafCols")
    val hs = graft.plans.StatsSidecar.analyze(spark, s"$d/hi")
    val ls = graft.plans.StatsSidecar.analyze(spark, s"$d/lo")
    assert(hs.ndv("h_pad") > 4000 && ls.ndv("l_flag") <= 3,
      s"fixture NDVs: $hs $ls")
    // with stats: hi * 1/5000 << lo * 1/2 — the key-selective filter wins
    assert(firstLeafCols.contains("h_id"),
      s"NDV model should start from hi, got $firstLeafCols")
    val withNdv = spark.sql(q).collect().map(_.getLong(0)).toSeq
    spark.conf.set("spark.graft.joinReorder.ndvStats", "false")
    try {
      assert(firstLeafCols.contains("l_id"),
        "ndvStats kill-switch must restore the default model")
      val without = spark.sql(q).collect().map(_.getLong(0)).toSeq
      assert(withNdv == without)
    } finally spark.conf.set("spark.graft.joinReorder.ndvStats", "true")
  }

  test("rule is idempotent on its own output") {
    fixture()
    val optimized = spark.sql(worstOrder).queryExecution.optimizedPlan
    val again = graft.plans.GraftJoinReorder(optimized)
    assert(again.fastEquals(optimized),
      s"not a fixed point:\n$optimized\n-- vs --\n$again")
  }

  test("outer joins, hinted joins, and 2-way chains are untouched") {
    fixture()
    // left outer: extractor must not flatten through it
    val outer = spark.sql("""
      SELECT t_name, f_id FROM jr_fact
      LEFT JOIN jr_tiny ON f_tiny = t_id
      ORDER BY f_id LIMIT 5""")
    assert(outer.collect().length == 5)
    // broadcast hint pins the join: innermost stays as written
    val hinted = spark.sql("""
      SELECT /*+ BROADCAST(jr_dim) */ count(*) AS n
      FROM jr_fact
      JOIN jr_dim ON f_dim = d_id
      JOIN jr_tiny ON f_tiny = t_id""")
    assert(hinted.collect()(0).getLong(0) == 20000L)
    // 2-way: below the ≥3 threshold, written order stands
    val twoWay = spark.sql(
      "SELECT count(*) AS n FROM jr_fact JOIN jr_dim ON f_dim = d_id")
    val joins2 = twoWay.queryExecution.optimizedPlan
      .collect { case j: Join => j }
    assert(joins2.size == 1)
  }

  test("self-join chain stays correct (attributes resolved by exprId)") {
    fixture()
    val q = spark.sql("""
      SELECT count(*) AS n
      FROM jr_tiny a
      JOIN jr_tiny b ON a.t_id = b.t_id
      JOIN jr_fact ON f_tiny = a.t_id
      WHERE b.t_id < 2""")
    assert(q.collect()(0).getLong(0) == 4000L)
  }
}
