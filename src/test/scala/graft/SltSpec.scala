package graft

import graft.slt.SltRunner
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** SLT golden runner against the reference's own sqlite-test corpus
  * (reference: sqlite-test/ + runner.clj). Full select1.test passes
  * 1000/1000 via `runMain graft.slt.SltMain`; the suite runs a bounded
  * prefix of each file to keep CI time sane. */
class SltSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.builder(8).getOrCreate()

  private val corpus = "/root/reference/sqlite-test"

  test("divide under stripped unary plus keeps SQLite semantics " +
      "(round-8 regression: the unwrap replacement escaped SqliteDiv)") {
    import org.apache.spark.sql.Row
    val out = SltRunner.runSql(spark,
      "SELECT + 53 * 10 * + + MIN ( ALL 89 ) * + ( + 57 / 6 ) AS col1")
      .collect()
    assert(out.toSeq == Seq(Row(424530L)), s"got ${out.toSeq}")
    // and nested on both sides of nested divides
    val out2 = SltRunner.runSql(spark,
      "SELECT + ( + 10 / 3 ) + + ( + ( 7 / 2 ) ) AS c").collect()
    assert(out2.toSeq == Seq(Row(6L)), s"got ${out2.toSeq}")
  }

  test("COALESCE keeps SQLite per-VALUE storage class through division " +
      "(round-9: the last 3 soak divergences were this class)") {
    import org.apache.spark.sql.Row
    // left-operand coalesce: the fired INTEGER branch divides integrally
    // (33 / -52 = 0), even though a sibling branch is REAL (slt_good_24)
    val a = SltRunner.runSql(spark,
      "SELECT + 3 + + COALESCE ( 33, + + AVG ( - 81 ) + " +
        "+ + CAST ( - 37 AS INTEGER ) ) / - 52").collect()
    assert(a.head.get(0).toString.toDouble == 3.0, s"got ${a.toSeq}")
    // right-operand coalesce (slt_good_111 shape): 37 / 99 = 0
    val b = SltRunner.runSql(spark,
      "SELECT ALL + 37 / COALESCE ( 99, + - AVG ( - - 52 ) * - 65, " +
        "SUM ( + 58 ) * + 50 ) + 5").collect()
    assert(b.head.get(0).toString.toDouble == 5.0, s"got ${b.toSeq}")
    // divide CHAIN keeps the class end-to-end (slt_good_64 shape):
    // 72 / -33 = -2 (integer), -2 / 37 = 0 — float typing would give
    // -0.058..., shifting the downstream integer by one
    val c = SltRunner.runSql(spark,
      "SELECT + 72 / COALESCE ( - + MAX ( DISTINCT + 33 ), - + 86 * 47, " +
        "19 + - AVG ( DISTINCT 97 ) ) / 37 + 612").collect()
    assert(c.head.get(0).toString.toDouble == 612.0, s"got ${c.toSeq}")
    // when the REAL branch fires, division is float — per-branch typing
    // must not force everything integral
    val d = SltRunner.runSql(spark,
      "SELECT COALESCE ( NULL, 1.5 ) / 3").collect()
    assert(d.head.get(0).toString.toDouble == 0.5, s"got ${d.toSeq}")
    // natural CASE distributes the same way (SQLite CASE is per-value too)
    val e = SltRunner.runSql(spark,
      "SELECT CASE WHEN 1 = 1 THEN 7 ELSE 2.5 END / 2").collect()
    assert(e.head.get(0).toString.toDouble == 3.0, s"got ${e.toSeq}")
  }

  test("storage class floats through -, +, * wrappers into division " +
      "(round-10: the UNCAPPED sweep found these past the old 1000-query " +
      "prefixes — one or two per random/expr file)") {
    import org.apache.spark.sql.Row
    // negated coalesce divisor (slt_good_112 shape): -16 / -63 = 0 int,
    // + -85 = -85; static typing gave -16/-63.0 = 0.25..  -> -84
    val a = SltRunner.runSql(spark,
      "SELECT - 16 / - COALESCE ( 63, - + AVG ( DISTINCT 35 ) - - - 85 ) " +
        "+ - 85 col1").collect()
    assert(a.head.get(0).toString.toDouble == -85.0, s"got ${a.toSeq}")
    // negated coalesce divisor, fired branch negative (slt_good_15):
    // -50 / -(-20) = -50/20 = -2 int, +75 = 73
    val b = SltRunner.runSql(spark,
      "SELECT ALL - 50 / - COALESCE ( - 20, + AVG ( ALL + 29 ) + " +
        "( - 44 ) ) + + 75 AS col2").collect()
    assert(b.head.get(0).toString.toDouble == 73.0, s"got ${b.toSeq}")
    // coalesce under * inside a CASE branch value (slt_good_91 ELSE
    // shape): the int class must survive Multiply and Add wrappers
    val c = SltRunner.runSql(spark,
      "SELECT 86 / CASE 16 WHEN 67 THEN 24 ELSE " +
        "- 99 / - 5 + COALESCE ( - 26, AVG ( CAST ( NULL AS INTEGER ) ) " +
        ") * 34 END AS col0").collect()
    // else value = 19 + (-26*34) = -865 (INTEGER class); 86 / -865 = 0
    assert(c.head.get(0).toString.toDouble == 0.0, s"got ${c.toSeq}")
    // real-branch fire still divides as float through the wrappers
    val d = SltRunner.runSql(spark,
      "SELECT 3 / - COALESCE ( NULL, 1.5 ) AS col0").collect()
    assert(d.head.get(0).toString.toDouble == -2.0, s"got ${d.toSeq}")
    // NULLIF carries its first argument's class (slt_good_111 shape):
    // COALESCE(AVG(NULL), -65) fires the INTEGER -65; NULLIF(-65,-45)
    // = -65; -94 / -65 = 1 integral; + -46 = -45
    val f = SltRunner.runSql(spark,
      "SELECT ALL - + 94 / + NULLIF ( + COALESCE ( " +
        "- + AVG ( + CAST ( NULL AS INTEGER ) ), + - 65 ), + - 45 ) " +
        "+ + - 46 AS col2").collect()
    assert(f.head.get(0).toString.toDouble == -45.0, s"got ${f.toSeq}")
  }

  test("duplicated output aliases in a HAVING query resolve like the " +
      "single-alias corpus shapes (random/groupby uncapped-sweep " +
      "finding; Spark alone raises AMBIGUOUS_REFERENCE)") {
    import org.apache.spark.sql.Row
    spark.sql("DROP TABLE IF EXISTS slt_dup_t")
    spark.sql("CREATE TABLE slt_dup_t (col0 INT, col1 INT) USING parquet")
    spark.sql("INSERT INTO slt_dup_t VALUES (51, 1), (85, 2)")
    try {
      // alias-only name: binds to the surviving (first) alias
      val out = SltRunner.runSql(spark,
        "SELECT col0 AS col2, - col0 AS col2 FROM slt_dup_t " +
          "GROUP BY col0 HAVING col2 > 60").collect()
      assert(out.toSeq == Seq(Row(85, -85)), s"got ${out.toSeq}")
      // NULL BETWEEN alias AND NULL filters everything — empty, no error
      val empty = SltRunner.runSql(spark,
        "SELECT + col0 AS col2, - col0 AS col2 FROM slt_dup_t " +
          "GROUP BY col0 HAVING NULL BETWEEN col2 AND NULL").collect()
      assert(empty.isEmpty)
      // inside an aggregate the TABLE column takes precedence (SQLite
      // column-before-alias): COUNT(col1) must not become COUNT(COUNT(*))
      val agg = SltRunner.runSql(spark,
        "SELECT COUNT ( * ) AS col1, - 0 * 69 AS col1 FROM slt_dup_t " +
          "GROUP BY col0 HAVING ( COUNT ( col1 ) ) IS NULL").collect()
      assert(agg.isEmpty, s"got ${agg.toSeq}")
    } finally spark.sql("DROP TABLE IF EXISTS slt_dup_t")
  }

  test("qualifier-aware bare-column grouping: GROUP BY cor0.col1 does " +
      "NOT make cor1.col1 grouped — it wraps in any_value (round-11 " +
      "uncapped-sweep finding, random/groupby COALESCE shapes)") {
    import org.apache.spark.sql.Row
    spark.sql("DROP TABLE IF EXISTS slt_qg_a")
    spark.sql("DROP TABLE IF EXISTS slt_qg_b")
    spark.sql("CREATE TABLE slt_qg_a (col0 INT, col1 INT) USING parquet")
    spark.sql("CREATE TABLE slt_qg_b (col0 INT, col1 INT) USING parquet")
    spark.sql("INSERT INTO slt_qg_a VALUES (1, 10), (2, 20)")
    spark.sql("INSERT INTO slt_qg_b VALUES (7, 70)")
    try {
      // the exact failing shape: constant-first COALESCE whose later arg
      // references the OTHER table's col1 while cor0.col1 is grouped —
      // SQLite answers the constant for every group
      val out = SltRunner.runSql(spark,
        "SELECT - COALESCE ( 90, cor1.col1 + 31 ) FROM slt_qg_a AS cor0 " +
          "CROSS JOIN slt_qg_b cor1 GROUP BY cor1.col0, cor0.col1")
        .collect()
      assert(out.toSeq == Seq(Row(-90), Row(-90)), s"got ${out.toSeq}")
      // same-qualifier reference still counts as grouped (no wrapping
      // regression): grouped column flows through untouched
      val ok = SltRunner.runSql(spark,
        "SELECT cor0.col1 + 1 FROM slt_qg_a cor0 GROUP BY cor0.col1")
        .collect().map(_.getInt(0)).sorted.toSeq
      assert(ok == Seq(11, 21), s"got $ok")
      // unqualified group name still matches a qualified reference
      val uq = SltRunner.runSql(spark,
        "SELECT cor0.col1 FROM slt_qg_a cor0 GROUP BY col1")
        .collect().map(_.getInt(0)).sorted.toSeq
      assert(uq == Seq(10, 20), s"got $uq")
    } finally {
      spark.sql("DROP TABLE IF EXISTS slt_qg_a")
      spark.sql("DROP TABLE IF EXISTS slt_qg_b")
    }
  }

  test("BETWEEN over an output alias in HAVING expands before analysis " +
      "(round-11 uncapped-sweep finding: Spark's With-based Between " +
      "fails RewriteWithExpression validation after alias substitution)") {
    spark.sql("DROP TABLE IF EXISTS slt_hb_t")
    // col1 EXISTS as a table column AND is the output alias — the
    // corpus shape (tab0(col0, col1, col2)); resolution must still
    // terminate without tripping the optimizer
    spark.sql(
      "CREATE TABLE slt_hb_t (col0 INT, col1 INT, col2 INT) USING parquet")
    spark.sql("INSERT INTO slt_hb_t VALUES (3, 9, 4), (5, 2, 6)")
    try {
      // the exact failing shape: aggregate alias + grouped col BETWEEN
      // NULL AND NULL — SQLite yields no rows, Spark alone errors
      val out = SltRunner.runSql(spark,
        "SELECT AVG ( + - col0 ) AS col1 FROM slt_hb_t cor0 " +
          "GROUP BY col2, col0 " +
          "HAVING + col1 + col2 BETWEEN NULL AND NULL").collect()
      assert(out.isEmpty, s"got ${out.toSeq}")
      // a satisfiable HAVING BETWEEN still selects correctly
      val sel = SltRunner.runSql(spark,
        "SELECT AVG ( col0 ) AS a FROM slt_hb_t GROUP BY col2 " +
          "HAVING a BETWEEN 4 AND 9").collect()
      assert(sel.length == 1 && sel.head.get(0).toString.toDouble == 5.0,
        s"got ${sel.toSeq}")
    } finally spark.sql("DROP TABLE IF EXISTS slt_hb_t")
  }

  for ((file, maxQ) <- Seq("select1.test" -> 120, "select2.test" -> 60,
      "select3.test" -> 60, "select4.test" -> 60, "select5.test" -> 40,
      "xtdb.test" -> 100)) {
    test(s"$file (first $maxQ queries)") {
      assume(new java.io.File(s"$corpus/$file").exists)
      spark.sparkContext.setLogLevel("ERROR")
      val r = SltRunner.runFile(spark, s"$corpus/$file", maxQ)
      assert(r.failed == 0, r.failures.take(3).mkString("; "))
      assert(r.passed > 0)
    }
  }
}
