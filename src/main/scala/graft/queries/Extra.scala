package graft.queries

import graft.{QueryDef, Tables}
import org.apache.spark.sql.functions._

/** Lateral (correlated table subquery — the decorrelated `:apply` shape,
  * SURVEY §2.8) and interval arithmetic coverage (temporal.clj:527-1100). */
object Extra {

  val defs: Seq[QueryDef] = Seq(

    // ---- Structured Streaming end-to-end, oracle-checked: events arrive
    // as three parquet log chunks, drain through a real streaming query
    // (file source, maxFilesPerTrigger → several micro-batches, watermark +
    // event-time window, memory sink), and the final aggregate must equal
    // DuckDB's batch computation over the same rows. `value` is pre-scaled
    // to integer cents so the cross-batch summation order can't perturb the
    // hash (IEEE doubles would).
    QueryDef("q101_streaming_window", (s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .filter(col("event_id") < 2000)
        .select(col("event_id"), col("ts"), col("event_type"),
          floor(col("value") * 100 + 0.5).cast("long").as("value"))
      val logDir = java.nio.file.Files
        .createTempDirectory("graft_streamlog").toString
      (0 until 3).foreach { chunk =>
        ev.filter(pmod(col("event_id"), lit(3)) === chunk)
          .coalesce(1).write.mode("append").parquet(logDir)
      }
      val stream = _root_.graft.streaming.StreamIngest.openLog(
        s, logDir, ev.schema, maxFilesPerTrigger = 2)
      val agg = _root_.graft.streaming.StreamIngest.windowedCounts(
        stream, "ts", "1 day", "1 hour", "event_type")
      _root_.graft.streaming.StreamIngest.withSizedState(s, dir) {
        val q = agg.writeStream.outputMode("complete")
          .format("memory").queryName("q101_mem").start()
        try { q.processAllAvailable() } finally { q.stop() }
      }
      s.table("q101_mem")
        .select(unix_timestamp(col("win_start")).as("ws_ep"),
          col("event_type"), col("n"), col("total"))
        .orderBy("ws_ep", "event_type")
    }, Some("""
      SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS ws_ep,
             event_type, count(*) AS n,
             CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS total
      FROM events WHERE event_id < 2000
      GROUP BY 1, 2 ORDER BY ws_ep, event_type""")),

    // ---- streaming SESSION windows end-to-end: gap-based sessionization
    // (session_window + 0s watermark, append mode). The log is replayed as
    // three time-ordered micro-batches — sessions spanning batch
    // boundaries must merge in the state store — plus two far-future
    // sentinel batches that push the watermark past every real session
    // end so append mode finalizes them. The oracle recomputes sessions
    // as gap-break islands (diff >= gap starts a session — mirrors
    // session_window's strict next < last+gap merge rule).
    QueryDef("q121_streaming_session", (s, dir) => {
      val gapSec = 7L * 24 * 3600 // 7 days
      val ev = Tables.load(s, dir, "events")
        .filter(col("user_id") < 30)
        .select(col("user_id"),
          expr("unix_micros(cast(ts as timestamp)) div 1000000").as("ts_s"),
          floor(col("value") * 100 + lit(0.5)).cast("long").as("value_c"))
      // exact terciles of global event time = the batch boundaries; ties
      // stay in the earlier batch so nothing is ever behind the watermark
      val cuts = ev.stat.approxQuantile("ts_s", Array(0.33, 0.66), 0.0)
      val logDir = java.nio.file.Files
        .createTempDirectory("graft_sesslog").toString
      val fs = new java.io.File(logDir)
      def writeChunk(df: org.apache.spark.sql.DataFrame, i: Int): Unit = {
        val tmp = java.nio.file.Files
          .createTempDirectory("graft_sesschunk").toString
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        val dst = new java.io.File(fs, f"chunk-$i%02d.parquet")
        java.nio.file.Files.move(part.toPath, dst.toPath)
        // deterministic batch order: the file source schedules by mtime
        dst.setLastModified(1000L * (i + 1))
      }
      writeChunk(ev.filter(col("ts_s") <= cuts(0)), 0)
      writeChunk(ev.filter(col("ts_s") > cuts(0) &&
        col("ts_s") <= cuts(1)), 1)
      writeChunk(ev.filter(col("ts_s") > cuts(1)), 2)
      // two sentinel batches: the first advances max event time past all
      // real sessions, the second triggers the batch in which that
      // watermark is applied and the finalized sessions are emitted
      val sentinel = ev.sparkSession.range(1)
        .select(lit(999999L).as("user_id"), lit(4100000000L).as("ts_s"),
          lit(0L).as("value_c"))
      writeChunk(sentinel, 3)
      writeChunk(sentinel.withColumn("ts_s", lit(4200000000L)), 4)
      val stream = _root_.graft.streaming.StreamIngest.openLog(
          s, logDir, ev.schema, maxFilesPerTrigger = 1)
        .withColumn("ts", timestamp_seconds(col("ts_s")))
      val agg = _root_.graft.streaming.StreamIngest.sessionizedStats(
        stream, "ts", s"$gapSec seconds", "user_id", "value_c")
      _root_.graft.streaming.StreamIngest.withSizedState(s, dir) {
        val q = agg.writeStream.outputMode("append")
          .format("memory").queryName("q121_mem").start()
        try { q.processAllAvailable() } finally { q.stop() }
      }
      s.table("q121_mem")
        .filter(col("user_id") < 30)
        .select(col("user_id"), unix_timestamp(col("sess_start")).as("sess_ep"),
          col("n"), col("total"))
        .orderBy("user_id", "sess_ep")
    }, Some("""
      WITH e AS (
        SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
               CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc
        FROM events WHERE user_id < 30),
      b AS (
        SELECT user_id, ts_s, vc,
               CASE WHEN lag(ts_s) OVER w IS NULL
                      OR ts_s - lag(ts_s) OVER w >= 604800
                    THEN 1 ELSE 0 END AS brk
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_s)),
      sset AS (
        SELECT user_id, ts_s, vc,
               sum(brk) OVER (PARTITION BY user_id ORDER BY ts_s
                 ROWS UNBOUNDED PRECEDING) AS sid
        FROM b)
      SELECT user_id, min(ts_s) AS sess_ep, count(*) AS n,
             CAST(sum(vc) AS BIGINT) AS total
      FROM sset GROUP BY user_id, sid ORDER BY user_id, sess_ep""")),

    // ---- stream-stream interval JOIN end-to-end (left outer): clicks
    // join purchases by the same user within [click, click + 12h], both
    // sides unbounded streams over the same replayed log (two independent
    // file sources in mtime lockstep). Left-outer is the demanding mode:
    // an unmatched click emits (click, null) only once BOTH watermarks
    // prove no matching purchase can still arrive — cross-batch join
    // state, eviction, and null emission all exercised. Two far-future
    // sentinel batches (one row per side, filtered out at the end) push
    // the watermark past every real row so append mode finalizes.
    // The oracle is the plain batch interval left join.
    QueryDef("q122_streaming_interval_join", (s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .filter(col("user_id") < 20 &&
          col("event_type").isin("click", "purchase"))
        .select(col("user_id"), col("event_id"), col("event_type"),
          expr("unix_micros(cast(ts as timestamp)) div 1000000").as("ts_s"))
      val cuts = ev.stat.approxQuantile("ts_s", Array(0.33, 0.66), 0.0)
      val logDir = java.nio.file.Files
        .createTempDirectory("graft_ssjlog").toString
      val fsDir = new java.io.File(logDir)
      def writeChunk(df: org.apache.spark.sql.DataFrame, i: Int): Unit = {
        val tmp = java.nio.file.Files
          .createTempDirectory("graft_ssjchunk").toString
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        val dst = new java.io.File(fsDir, f"chunk-$i%02d.parquet")
        java.nio.file.Files.move(part.toPath, dst.toPath)
        dst.setLastModified(1000L * (i + 1))
      }
      writeChunk(ev.filter(col("ts_s") <= cuts(0)), 0)
      writeChunk(ev.filter(col("ts_s") > cuts(0) &&
        col("ts_s") <= cuts(1)), 1)
      writeChunk(ev.filter(col("ts_s") > cuts(1)), 2)
      // sentinels must survive BOTH side filters (one click + one
      // purchase row) so each side's watermark node sees them
      def sentinel(ts: Long) = ev.sparkSession.range(1).select(
          lit(999999L).as("user_id"), lit(-1L).as("event_id"),
          lit("click").as("event_type"), lit(ts).as("ts_s"))
        .union(ev.sparkSession.range(1).select(
          lit(999999L).as("user_id"), lit(-2L).as("event_id"),
          lit("purchase").as("event_type"), lit(ts).as("ts_s")))
      writeChunk(sentinel(4100000000L), 3)
      writeChunk(sentinel(4200000000L), 4)
      def side(tpe: String, idAs: String) =
        _root_.graft.streaming.StreamIngest.openLog(
            s, logDir, ev.schema, maxFilesPerTrigger = 1)
          .filter(col("event_type") === tpe)
          .select(col("user_id"), col("event_id").as(idAs),
            timestamp_seconds(col("ts_s")).as("ts"))
      val joined = _root_.graft.streaming.StreamIngest.intervalJoin(
        side("click", "click_id"), side("purchase", "purchase_id"),
        keyCol = "user_id", tsCol = "ts",
        before = "0 seconds", after = "12 hours",
        watermarkDelay = "0 seconds", joinType = "leftOuter")
      _root_.graft.streaming.StreamIngest.withSizedState(s, dir) {
        val q = joined.writeStream.outputMode("append")
          .format("memory").queryName("q122_mem").start()
        try { q.processAllAvailable() } finally { q.stop() }
      }
      s.table("q122_mem")
        .filter(col("l_key") < 20)
        .select(col("l_key").as("user_id"), col("click_id"),
          unix_timestamp(col("l_ts")).as("click_ep"), col("purchase_id"),
          unix_timestamp(col("r_ts")).as("purchase_ep"))
        .orderBy("user_id", "click_id", "purchase_id")
    }, Some("""
      WITH e AS (
        SELECT user_id, event_id, event_type,
               CAST(floor(epoch(ts)) AS BIGINT) AS ts_s
        FROM events
        WHERE user_id < 20 AND event_type IN ('click', 'purchase')),
      c AS (SELECT user_id, event_id AS click_id, ts_s FROM e
            WHERE event_type = 'click'),
      p AS (SELECT user_id, event_id AS purchase_id, ts_s FROM e
            WHERE event_type = 'purchase')
      SELECT c.user_id, c.click_id, c.ts_s AS click_ep,
             p.purchase_id, p.ts_s AS purchase_ep
      FROM c LEFT JOIN p
        ON p.user_id = c.user_id
       AND p.ts_s >= c.ts_s AND p.ts_s <= c.ts_s + 43200
      ORDER BY c.user_id, c.click_id, p.purchase_id""")),

    // ---- SQL-standard string/array functions from the reference's
    // expression catalog that Spark lacks under these names
    // (expression.clj:1228-1311, 1579-1744, 2205-2250), from the
    // GraftExtensions catalog, exercised through SQL text. ASCII fixtures
    // make octet_position comparable to DuckDB's char-based position.
    QueryDef("q102_string_array_fns", (s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""
        SELECT doc_id,
               character_length(text) AS cl,
               octet_length(lang) AS ol,
               octet_position('e', source) AS op,
               trim_leading(lang, 'e') AS tl,
               trim_trailing(lang, 'n') AS tt,
               array_join(string_to_array(source, 'r'), '|') AS sa,
               array_join(string_to_array(lang, NULL), '|') AS sc,
               array_join(parse_ident(concat('tbl."', lang, '"')), '|') AS pi,
               quote_ident(lang) AS qi1,
               quote_ident(concat(lang, '-x')) AS qi2,
               array_lower(string_to_array(source, 'r'), 1) AS al,
               array_upper(string_to_array(source, 'r'), 1) AS au,
               array_join(trim_array(string_to_array(source, 'r'), 1), '|') AS ta
        FROM documents WHERE doc_id < 100 ORDER BY doc_id""")
    }, Some("""
      SELECT doc_id,
             CAST(length(text) AS INT) AS cl,
             CAST(strlen(lang) AS INT) AS ol,
             CAST(position('e' IN source) AS INT) AS op,
             ltrim(lang, 'e') AS tl,
             rtrim(lang, 'n') AS tt,
             array_to_string(string_split(source, 'r'), '|') AS sa,
             substring(lang, 1, 1) || '|' || substring(lang, 2, 1) AS sc,
             'tbl|' || lang AS pi,
             lang AS qi1,
             '"' || lang || '-x"' AS qi2,
             CAST(1 AS INT) AS al,
             CAST(len(string_split(source, 'r')) AS INT) AS au,
             array_to_string(
               list_slice(string_split(source, 'r'), 1,
                          len(string_split(source, 'r')) - 1), '|') AS ta
      FROM documents WHERE doc_id < 100 ORDER BY doc_id""")),

    // ---- lateral top-n per group: Catalyst plans the correlated subquery
    // (reference would route this through :apply + decorrelation rules)
    QueryDef("q46_lateral_topn", (s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""
        SELECT n_name, c.c_name, c.c_acctbal
        FROM nation JOIN LATERAL (
          SELECT c_name, c_acctbal FROM customer
          WHERE c_nationkey = n_nationkey
          ORDER BY c_acctbal DESC, c_name LIMIT 2) c
        ORDER BY n_name, c.c_acctbal DESC, c.c_name""")
    }, Some("""
      SELECT n_name, c.c_name, c.c_acctbal
      FROM nation, LATERAL (
        SELECT c_name, c_acctbal FROM customer
        WHERE c_nationkey = n_nationkey
        ORDER BY c_acctbal DESC, c_name LIMIT 2) c
      ORDER BY n_name, c.c_acctbal DESC, c.c_name""")),

    // ---- XTQL as a language: the edn text form parsed by XtqlText and
    // planned onto the Xtql combinators (reference xtql.clj:20-67) —
    // threaded pipeline with unification, aggregate, order, limit
    QueryDef("q47_xtql_text", (s, dir) => {
      _root_.graft.xtql.XtqlText.query(s, """
        (-> (unify (from :orders [{:o_custkey c} {:o_orderstatus "F"} o_totalprice])
                   (from :customer [{:c_custkey c} c_mktsegment]))
            (aggregate c_mktsegment {:n (row-count)
                                     :total_k (floor (/ (sum o_totalprice) 1000.0))})
            (order-by c_mktsegment))""",
        t => Tables.load(s, dir, t))
    }, Some("""
      SELECT c_mktsegment, count(*) AS n,
             CAST(floor(sum(o_totalprice) / 1000.0) AS BIGINT) AS total_k
      FROM orders JOIN customer ON o_custkey = c_custkey
      WHERE o_orderstatus = 'F'
      GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    // ---- `(row-number)` whole-relation projection (ProjectionSpec.kt:75)
    // + `:map {:sorted?}` MapType construction/access (types.clj:217-218)
    QueryDef("q49_rownum_map", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val m = map_from_arrays(
        array(lit("a"), lit("b")),
        array(col("o_orderkey"), col("o_orderkey") * 2))
      Tables.load(s, dir, "orders").filter(col("o_orderkey") < 100)
        .select(col("o_orderkey"),
          row_number().over(Window.orderBy("o_orderkey")).cast("long").as("rn"),
          element_at(m, "b").as("mb"),
          // keys joined to a scalar: the driver's oracle comparator sorts
          // result columns with pandas, which cannot hash/sort array cells
          array_join(map_keys(m), ",").as("mk"))
        .orderBy("o_orderkey")
    }, Some("""
      SELECT o_orderkey,
             row_number() OVER (ORDER BY o_orderkey) AS rn,
             MAP(['a','b'], [o_orderkey, o_orderkey * 2])['b'][1] AS mb,
             array_to_string(map_keys(MAP(['a','b'], [o_orderkey, o_orderkey * 2])), ',') AS mk
      FROM orders WHERE o_orderkey < 100 ORDER BY o_orderkey""")),

    // ---- arbitrary document payloads as VariantType (the Spark 4 face of
    // the reference's :transit column, types.clj:293): JSON text parsed to
    // variant, typed field extraction + nested array access
    QueryDef("q97_variant_payload", (s, dir) => {
      Tables.load(s, dir, "orders").filter(col("o_orderkey") < 300)
        .select(col("o_orderkey"),
          concat(lit("""{"k":"""), col("o_orderkey"),
            lit(""","tags":["t"""), pmod(col("o_orderkey"), lit(5)),
            lit(""""],"meta":{"status":""""), col("o_orderstatus"),
            lit(""""}}""")).as("__j"))
        .select(col("o_orderkey"),
          expr("variant_get(parse_json(__j), '$.k', 'long')").as("k"),
          expr("variant_get(parse_json(__j), '$.meta.status', 'string')")
            .as(  "status"),
          expr("variant_get(parse_json(__j), '$.tags[0]', 'string')")
            .as("tag0"))
        .orderBy("o_orderkey")
    }, Some("""
      SELECT o_orderkey,
             CAST(json_extract(j, '$.k') AS BIGINT) AS k,
             json_extract_string(j, '$.meta.status') AS status,
             json_extract_string(j, '$.tags[0]') AS tag0
      FROM (SELECT o_orderkey,
              '{"k":' || o_orderkey || ',"tags":["t' || (o_orderkey % 5) ||
              '"],"meta":{"status":"' || o_orderstatus || '"}}' AS j
            FROM orders WHERE o_orderkey < 300)
      ORDER BY o_orderkey""")),

    // ---- bitwise operators (§2.9 arithmetic row: &, |, ^, <<, >>, ~) —
    // note DuckDB's ^ is POWER, so the oracle spells xor()
    QueryDef("q67_bitwise", (s, dir) => {
      Tables.load(s, dir, "orders").filter(col("o_orderkey") < 500)
        .selectExpr("o_orderkey",
          "o_orderkey & 255 AS band",
          "o_orderkey | 4096 AS bor",
          "o_orderkey ^ 129 AS bxor",
          "shiftleft(o_orderkey, 3) AS shl",
          "shiftright(o_orderkey, 2) AS shr",
          "~o_orderkey AS bnot")
        .orderBy("o_orderkey")
    }, Some("""
      SELECT o_orderkey,
             o_orderkey & 255 AS band,
             o_orderkey | 4096 AS bor,
             xor(o_orderkey, 129) AS bxor,
             o_orderkey << 3 AS shl,
             o_orderkey >> 2 AS shr,
             ~o_orderkey AS bnot
      FROM orders WHERE o_orderkey < 500 ORDER BY o_orderkey""")),

    // ---- month-day-micro mixed interval arithmetic (reference
    // IntervalMonthDayNano, types.clj / temporal arithmetic matrix):
    // one interval carrying month+day+time components, applied in a
    // single addition — month clamping (Jan 31 + 1 month) must agree
    QueryDef("q68_interval_mdn", (s, dir) => {
      Tables.load(s, dir, "orders").filter(col("o_orderkey") < 500)
        .select(col("o_orderkey"),
          unix_timestamp(col("o_orderdate") +
            expr("make_interval(0, 1, 0, 3, 4, 30, 0)")).as("plus_mdn_ep"),
          unix_timestamp(col("o_orderdate") -
            expr("make_interval(0, 2, 0, 10, 0, 0, 0)")).as("minus_mdn_ep"),
          unix_timestamp(expr(
            "o_orderdate + INTERVAL '1-2' YEAR TO MONTH")).as("plus_ym_ep"))
        .orderBy("o_orderkey")
    }, Some("""
      SELECT o_orderkey,
             CAST(epoch(o_orderdate +
               INTERVAL '1 month 3 days 4 hours 30 minutes') AS BIGINT)
               AS plus_mdn_ep,
             CAST(epoch(o_orderdate -
               INTERVAL '2 months 10 days') AS BIGINT) AS minus_mdn_ep,
             CAST(epoch(o_orderdate + INTERVAL '1 year 2 months') AS BIGINT)
               AS plus_ym_ep
      FROM orders WHERE o_orderkey < 500 ORDER BY o_orderkey""")),

    // ---- interval/duration arithmetic: ts ± INTERVAL, day diffs, and
    // month-boundary diffs (component formula — Spark's timestampdiff
    // counts complete months while DuckDB counts boundary crossings)
    QueryDef("q66_interval_arith", (s, dir) => {
      val asOf = lit("2001-09-15").cast("date")
      val od = col("o_orderdate")
      Tables.load(s, dir, "orders").filter(col("o_orderkey") < 300)
        .select(col("o_orderkey"),
          datediff(asOf, od.cast("date")).cast("long").as("dd"),
          (od + expr("INTERVAL 3 MONTH")).as("plus3m"),
          (od - expr("INTERVAL 45 DAY")).as("minus45d"),
          ((year(asOf) - year(od)) * 12 + (month(asOf) - month(od)))
            .cast("long").as("mm"))
        .orderBy("o_orderkey")
    }, Some("""
      SELECT o_orderkey,
             CAST(date_diff('day', CAST(o_orderdate AS DATE),
                            DATE '2001-09-15') AS BIGINT) AS dd,
             o_orderdate + INTERVAL 3 MONTH AS plus3m,
             o_orderdate - INTERVAL 45 DAY AS minus45d,
             CAST(date_diff('month', CAST(o_orderdate AS DATE),
                            DATE '2001-09-15') AS BIGINT) AS mm
      FROM orders WHERE o_orderkey < 300 ORDER BY o_orderkey""")),

    // ---- EWMA smoothing over the event stream (time-series analytics):
    // alpha = 1/2 with a bounded 12-tap window, so every weight 2^-k is
    // an exact binary scale — value * 2^-k is a pure exponent shift and
    // the fixed left-to-right 12-term sum is per-row IEEE, bit-identical
    // across engines (the libm-free discipline of q182/q191). Missing
    // leading taps renormalize by the present-weight sum. Emitted as a
    // floor(x * 10^4 + 0.5) scaled int (engine-portable rounding).
    // A recursive EWMA needs running state; the bounded-tap form is the
    // scan-friendly equivalent (tail weight <= 2^-12 of the spectrum)
    // and stays one window pass — no shuffle beyond the per-user sort.
    QueryDef("q220_ewma", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id"))
      val taps = 12
      val num = (0 until taps).map(k =>
        coalesce(lag(col("value"), k).over(w), lit(0.0)) *
          lit(math.pow(2.0, -k))).reduce(_ + _)
      val den = (0 until taps).map(k =>
        when(lag(col("value"), k).over(w).isNotNull,
          lit(math.pow(2.0, -k))).otherwise(lit(0.0))).reduce(_ + _)
      Tables.load(s, dir, "events")
        .filter(col("user_id") < 8)
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
        .select(col("event_id"), col("user_id"),
          floor(num / den * 10000.0 + 0.5).as("ewma4"))
        .orderBy("event_id")
    }, Some {
      val taps = 12
      val num = (0 until taps).map(k =>
        s"coalesce(lag(value, $k) OVER w, 0.0) * ${math.pow(2.0, -k)}")
        .mkString(" + ")
      val den = (0 until taps).map(k =>
        s"(CASE WHEN lag(value, $k) OVER w IS NOT NULL THEN ${math.pow(2.0, -k)} ELSE 0.0 END)")
        .mkString(" + ")
      s"""
      SELECT event_id, user_id,
             CAST(floor(($num) / ($den) * 10000.0 + 0.5) AS BIGINT) AS ewma4
      FROM events WHERE user_id < 8
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      ORDER BY event_id"""
    })
  )
}
