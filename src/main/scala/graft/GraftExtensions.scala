package graft

import graft.functions.{Ids, Periods, Temporal}
import org.apache.spark.sql.{Column, SparkSessionExtensions}
import org.apache.spark.sql.GraftColumnBridge.{toColumn, toExpression}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo,
  Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf

/** Session extension: the one place the graft SQL function catalog and the
  * three graft optimizer rules are installed, at session build time.
  * `GraftSession.builder(cpus)` applies it; where a launcher builds the
  * session, `withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.GraftExtensions` (the no-arg constructor)
  * does the same. Each rule runs once per plan, in the
  * operator-optimization batch.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(extensions: SparkSessionExtensions): Unit = {
    // iid point-lookup file pruning (reference scan.clj:161-199) — derive
    // _iid/_bucket scan predicates from _id equality filters
    extensions.injectOptimizerRule(_ => graft.plans.IidBucketPruning)
    // stats-greedy inner-join ordering for the file path (reference
    // join.clj:599-736 :mega-join) — defers to CBO when real stats exist
    extensions.injectOptimizerRule(_ => graft.plans.GraftJoinReorder)
    // period-OVERLAPS theta joins (reference join.clj:331-339) → the
    // bucketed interval-join plan instead of a cartesian nested loop
    extensions.injectOptimizerRule(_ => graft.plans.GraftIntervalJoin)
    GraftExtensions.functions.foreach { f =>
      extensions.injectFunction((FunctionIdentifier(f.name),
        new ExpressionInfo("graft", f.name), f.checked))
    }
  }
}

object GraftExtensions {

  /** One catalog entry: SQL name, accepted argument counts, and the
    * builder the analyzer calls with the argument expressions. */
  final case class Fn(name: String, arity: Range,
      build: Seq[Expression] => Expression) {
    def checked(exprs: Seq[Expression]): Expression = {
      require(arity.contains(exprs.length),
        if (arity.end == Int.MaxValue)
          s"$name expects at least ${arity.start} args"
        else if (arity.start == arity.end) s"$name expects ${arity.start} args"
        else s"$name expects ${arity.start} to ${arity.end} args")
      build(exprs)
    }
  }

  /** Column compositions become expression builders, so they stay
    * codegen'd in SQL exactly as in the DataFrame API. */
  private def fn(name: String, arity: Int)(f: Seq[Column] => Column): Fn =
    Fn(name, arity to arity, e => toExpression(f(e.map(toColumn))))
  private def variadic(name: String, min: Int)(f: Seq[Column] => Column): Fn =
    Fn(name, min to Int.MaxValue, e => toExpression(f(e.map(toColumn))))

  private def literalLong(e: Expression, what: String): Long = e match {
    case Literal(v, _) if v != null => v.toString.toLong
    case _ => throw new IllegalArgumentException(s"$what must be a literal")
  }

  /** generate_series / range (reference generate_series_test 3212/4067):
    * inclusive / exclusive end, ARRAY result, and — unlike Spark's
    * `sequence` — an EMPTY array (not an error, not auto-reversed) when
    * the step sign cannot reach the stop. Works for numerics and
    * date/timestamp × interval: the direction probe is
    * `start + step <> start`, which types for both. */
  private def series(a: Seq[Column], inclusive: Boolean): Column = {
    val (start, stop) = (a.head, a(1))
    val step = if (a.length > 2) a(2) else lit(1)
    val asc = (start + step) > start
    val desc = (start + step) < start
    val seq0 = sequence(start, stop, step)
    val seq = if (inclusive) seq0 else array_remove(seq0, stop)
    when((asc && start > stop) || (desc && start < stop),
      slice(array(start), 1, 0)).otherwise(seq)
  }

  /** parse_ident (expression.clj:1732-1736): dotted, possibly-quoted
    * path → parts; genuinely stateful quote scanning, so a (rarely-hot)
    * UDF. Lazy, like pg_sleep: building a typed UDF initializes Scala
    * reflection, which no session build should pay for. */
  private lazy val parseIdent = udf((s: String) =>
    if (s == null) null
    else {
      val parts = scala.collection.mutable.Buffer[String]()
      val cur = new StringBuilder
      var inQ = false
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        if (inQ) {
          if (c == '"')
            if (i + 1 < s.length && s.charAt(i + 1) == '"') {
              cur += '"'; i += 1
            } else inQ = false
          else cur += c
        } else if (c == '"') inQ = true
        else if (c == '.') { parts += cur.result(); cur.clear() }
        else cur += c.toLower
        i += 1
      }
      parts += cur.result()
      if (parts.exists(_.isEmpty))
        throw new IllegalArgumentException(s"zero-length identifier in: $s")
      parts.toSeq
    })

  private lazy val pgSleep = udf((secs: Double) => {
    Thread.sleep(math.max(0L, (secs * 1000).toLong)); ""
  })

  private def sessionTimeZone: Column = lit(SQLConf.get.sessionLocalTimeZone)

  /** Asserts an array dimension argument is 1 (the reference supports
    * 1-dimensional arrays only and throws otherwise). */
  private def dim1(fn: String, dim: Column)(body: Column): Column =
    when(assert_true(dim === 1,
      lit(s"$fn: only dimension 1 supported")).isNull, body)

  private val sqlKeywords = Seq("select", "from", "where", "table", "group",
    "order", "by", "having", "join", "union", "all", "and", "or", "not",
    "null", "true", "false", "as", "on", "in", "between", "like", "insert",
    "update", "delete", "values", "set", "user", "case", "when", "then",
    "else", "end", "cast", "limit", "offset")

  /** The graft SQL function catalog. Every rewrite target of
    * `graft.sql.XtSqlParser` (the `p_*` predicates, `overlaps`, `j_json`,
    * `j_text`, `generate_series`, `range`) is here. */
  val functions: Seq[Fn] = Seq(
    fn("iid_hex", 1)(a => Ids.iidHex(a.head)),
    fn("vec_dot", 2)(a => graft.functions.VecDot(a.head, a(1))),
    fn("date_bin_secs", 2)(a => Temporal.dateBin(
      literalLong(toExpression(a.head), "date_bin_secs width"), a(1))),

    // ---- periods: constructor, accessors and the 18-predicate family
    // (temporal.clj:1997-2079), so every infix rewrite of the parser
    // (`a STRICTLY OVERLAPS b` → p_strictly_overlaps) has a target
    fn("period", 2)(a => Periods.periodChecked(a.head, a(1))),
    // function-call OVERLAPS(p1, p2, …) — variadic (expr_test 3441); the
    // infix `a OVERLAPS b` form rewrites to p_overlaps
    variadic("overlaps", 2)(Periods.overlapsAll),
    variadic("generate_series", 2)(series(_, inclusive = true)),
    variadic("range", 2)(series(_, inclusive = false)),
    fn("p_lower", 1)(a => Periods.lower(a.head)),
    fn("p_upper", 1)(a => Periods.upper(a.head)),
    fn("p_lower_inf", 1)(a => Periods.lowerInf(a.head)),
    fn("p_upper_inf", 1)(a => Periods.upperInf(a.head)),
    fn("p_contains", 2)(a => Periods.containsPeriod(a.head, a(1))),
    fn("p_contains_ts", 2)(a => Periods.containsPoint(a.head, a(1))),
    fn("p_overlaps", 2)(a => Periods.overlaps(a.head, a(1))),
    fn("p_precedes", 2)(a => Periods.precedes(a.head, a(1))),
    fn("p_succeeds", 2)(a => Periods.succeeds(a.head, a(1))),
    fn("p_equals", 2)(a => Periods.equalsPeriod(a.head, a(1))),
    fn("p_strictly_overlaps", 2)(a => Periods.strictlyOverlaps(a.head, a(1))),
    fn("p_strictly_contains", 2)(a => Periods.strictlyContains(a.head, a(1))),
    fn("p_strictly_precedes", 2)(a => Periods.strictlyPrecedes(a.head, a(1))),
    fn("p_immediately_precedes", 2)(a =>
      Periods.immediatelyPrecedes(a.head, a(1))),
    fn("p_strictly_succeeds", 2)(a => Periods.strictlySucceeds(a.head, a(1))),
    fn("p_immediately_succeeds", 2)(a =>
      Periods.immediatelySucceeds(a.head, a(1))),
    fn("p_lags", 2)(a => Periods.lags(a.head, a(1))),
    fn("p_strictly_lags", 2)(a => Periods.strictlyLags(a.head, a(1))),
    fn("p_immediately_lags", 2)(a => Periods.immediatelyLags(a.head, a(1))),
    fn("p_leads", 2)(a => Periods.leads(a.head, a(1))),
    fn("p_strictly_leads", 2)(a => Periods.strictlyLeads(a.head, a(1))),
    fn("p_immediately_leads", 2)(a => Periods.immediatelyLeads(a.head, a(1))),

    // ---- theta sketches: the distinct-set aggregate returns its
    // AggregateFunction raw — the analyzer wraps it into an
    // AggregateExpression like any registry aggregate
    Fn("theta_sketch", 1 to 2, e => graft.functions.ThetaSketchAgg(e.head,
      if (e.length < 2) 12 else literalLong(e(1), "theta_sketch lgK").toInt)),
    fn("theta_estimate", 1)(a => graft.functions.ThetaSketch.estimate(a.head)),
    fn("theta_intersect_estimate", 2)(a =>
      graft.functions.ThetaSketch.intersectEstimate(a.head, a(1))),
    fn("theta_difference_estimate", 2)(a =>
      graft.functions.ThetaSketch.differenceEstimate(a.head, a(1))),
    fn("z_value2", 2)(a => graft.operators.Layout.zvalue2(a.head, a(1))),
    fn("z_value3", 3)(a => graft.operators.Layout.zvalue3(a.head, a(1), a(2))),

    // ---- SQL-standard string/array fns Spark lacks under these names
    // (reference expression.clj:1228-1311, 1579-1744, 2205-2250)
    fn("character_length", 1)(a => length(a.head)),
    // byte position of needle in haystack (expression.clj:1579-1588);
    // 0 when absent, like POSITION
    fn("octet_position", 2) { a =>
      val (needle, hay) = (a.head, a(1))
      val charPos = instr(hay, needle)
      when(charPos > 0, octet_length(substring(hay, lit(1), charPos - 1)) + 1)
        .otherwise(lit(0))
    },
    // repeated-single-char trims; trim char is regex-quoted so metachars
    // are literal (reference sql-trim-leading/-trailing)
    fn("trim_leading", 2)(a => regexp_replace(a.head,
      concat(lit("^(\\Q"), a(1), lit("\\E)+")), lit(""))),
    fn("trim_trailing", 2)(a => regexp_replace(a.head,
      concat(lit("(\\Q"), a(1), lit("\\E)+$")), lit(""))),
    // PG semantics (expression.clj:1645-1667): '' → []; '' delim → [s];
    // NULL delim → chars; NULL s → NULL
    fn("string_to_array", 2) { a =>
      val (s, d) = (a.head, a(1))
      when(s.isNull, lit(null).cast("array<string>"))
        .when(s === "", array().cast("array<string>"))
        .when(d.isNull,
          transform(sequence(lit(1), length(s)), i => substring(s, i, lit(1))))
        .when(d === "", array(s))
        .otherwise(call_function("split", s,
          concat(lit("\\Q"), d, lit("\\E")), lit(-1)))
    },
    fn("array_lower", 2)(a =>
      dim1("array_lower", a(1))(when(a.head.isNotNull, lit(1)))),
    fn("array_upper", 2)(a => dim1("array_upper", a(1))(size(a.head))),
    fn("array_length", 2)(a => dim1("array_length", a(1))(size(a.head))),
    // drop the last n elements; n > size is an error (expression.clj:2241)
    fn("trim_array", 2) { a =>
      val (arr, n) = (a.head, a(1))
      when(assert_true(n <= size(arr),
          lit("trim_array: cannot trim more than array size")).isNull,
        slice(arr, lit(1), greatest(size(arr) - n, lit(0))))
    },
    // quote_ident (expression.clj:1618-1629): already-safe lowercase
    // identifiers pass through; anything else double-quotes with "" escape
    fn("quote_ident", 1) { a =>
      val s = a.head
      when(s.rlike("^[a-z_][a-z0-9_]*$") && !s.isin(sqlKeywords: _*), s)
        .otherwise(concat(lit("\""),
          regexp_replace(s, lit("\""), lit("\"\"")), lit("\"")))
    },
    fn("parse_ident", 1)(a => parseIdent(a.head)),

    // ---- JSON access operator targets (Sql.g4:273-276): the parser
    // rewrites `x -> 'k'` / `x #> ARRAY[…]` to j_json and `->>`/`#>>` to
    // j_text with the JSON path compiled to a literal. Inputs are JSON
    // text or VariantType (the :transit arbitrary-payload column, q97) —
    // both reach variant via cast-to-string + parse; struct columns use
    // native `.` access instead, like the reference's static documents.
    // `->` returns JSON text: strings keep their quotes, a JSON null at
    // the path is the text 'null', an absent path is SQL NULL — exactly
    // what to_json over the variant sub-tree produces.
    fn("j_json", 2)(a => call_function("to_json", call_function("variant_get",
      call_function("try_parse_json", a.head.cast("string")), a(1)))),
    fn("j_text", 2)(a =>
      call_function("get_json_object", a.head.cast("string"), a(1))),

    // ---- pg-compat surface (reference expression/pg.clj:31-113 +
    // pg_catalog fns BI tools and psql \-commands call during schema
    // sync); settings read the analyzing session's conf
    fn("current_user", 0)(_ => lit("graft")),
    fn("session_user", 0)(_ => lit("graft")),
    fn("current_database", 0)(_ => lit("graft")),
    fn("current_schema", 0)(_ => lit("public")),
    fn("current_schemas", 1)(_ => array(lit("pg_catalog"), lit("public"))),
    fn("version", 0)(_ =>
      lit("PostgreSQL 16 (graft-spark XTDB-compatible engine)")),
    fn("pg_backend_pid", 0)(_ => lit(42)),
    fn("current_timezone", 0)(_ => sessionTimeZone),
    fn("pg_get_expr", 2)(a => a.head.cast("string")),
    fn("has_table_privilege", 2)(_ => lit(true)),
    fn("has_schema_privilege", 2)(_ => lit(true)),
    fn("current_setting", 1) { a =>
      val name = lower(a.head)
      when(name === "timezone", sessionTimeZone)
        .when(name === "search_path", lit("public"))
        .when(name === "server_version", lit("16.0"))
        .when(name === "server_version_num", lit("160000"))
        .when(name === "max_index_keys", lit("32"))
        .otherwise(lit(""))
    },
    fn("pg_get_userbyid", 1)(_ => lit("graft")),
    fn("pg_table_is_visible", 1)(_ => lit(true)),
    fn("col_description", 2)(_ => lit(null).cast("string")),
    fn("pg_sleep", 1)(a => pgSleep(a.head)))
}
