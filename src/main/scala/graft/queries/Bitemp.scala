package graft.queries

import graft.{QueryDef, Tables}
import graft.QueryDef.PresentOps
import graft.bitemporal.Bitemporal
import graft.functions.Ids
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Bitemporal resolution exposed to the driver's DuckDB oracle (SURVEY §7.1
  * resolve + §2.1 temporal scan semantics).
  *
  * Synthetic versioned events are derived deterministically from `orders`:
  * document `_id = o_orderkey` gets versions v = 0 .. (o_orderkey mod 3),
  * each put at system-time = valid-time = o_orderdate + v days, unbounded
  * valid_to. For this (common, sequential-put) event shape the polygon
  * resolution collapses to window functions, so plain SQL can oracle both
  * read paths:
  *  - q70: point as-of through `Bitemporal.asOf` (window fast path)
  *  - q71: full history through `Bitemporal.history` (the flatMapGroups
  *    ceiling scan) — each superseded version contributes two rectangles.
  */
object Bitemp {

  /** Exposed to Bench's bucketed posture (the same fixture, written
    * iid-bucketed as the compacted-event-log analogue). */
  private[graft] def syntheticEvents(s: SparkSession, dir: String): DataFrame = {
    val vf = expr("timestampadd(DAY, CAST(version AS INT), o_orderdate)")
    Tables.load(s, dir, "orders")
      .filter(col("o_orderkey") < 2000)
      .select(col("o_orderkey").as("_id"),
        explode(sequence(lit(0L), pmod(col("o_orderkey"), lit(3L)))).as("version"),
        col("o_orderdate"))
      .select(col("_id"), col("version"),
        Ids.iidHex(col("_id")).as(Bitemporal.IID),
        vf.cast("timestamp").as(Bitemporal.VF),
        lit(null).cast("timestamp").as(Bitemporal.VT),
        vf.cast("timestamp").as(Bitemporal.SF),
        col("version").as(Bitemporal.SEQ),
        lit("put").as(Bitemporal.OP))
  }

  private val oracleEventCte = """
      WITH ev AS (
        SELECT o_orderkey AS _id,
               unnest(range(0, CAST(o_orderkey % 3 AS INT) + 1)) AS version,
               o_orderdate
        FROM orders WHERE o_orderkey < 2000),
      ev2 AS (
        SELECT _id, version,
               o_orderdate + version * INTERVAL 1 DAY AS vf
        FROM ev)"""

  val defs: Seq[QueryDef] = Seq(

    QueryDef("q70_bitemp_asof", (s, dir) => {
      val asof = lit("1999-01-01 00:00:00").cast("timestamp")
      Bitemporal.asOf(syntheticEvents(s, dir), asof, asof,
        current_timestamp())
        .select(col("_id"), col("version"),
          unix_timestamp(col(Bitemporal.VF)).as("vf_ep"))
        .presentSorted("_id")
    }, Some(oracleEventCte + """
      SELECT _id, version, CAST(epoch(vf) AS BIGINT) AS vf_ep
      FROM (SELECT _id, version, vf,
                   row_number() OVER (PARTITION BY _id ORDER BY vf DESC) AS rn
            FROM ev2 WHERE vf <= TIMESTAMP '1999-01-01')
      WHERE rn = 1 ORDER BY _id"""), bench = true),

    QueryDef("q71_bitemp_history", (s, dir) => {
      Bitemporal.history(syntheticEvents(s, dir))
        .select(col("_id"), col("version"),
          unix_timestamp(col(Bitemporal.VF)).as("vf_ep"),
          unix_timestamp(col(Bitemporal.VT)).as("vt_ep"),
          unix_timestamp(col(Bitemporal.SF)).as("sf_ep"),
          unix_timestamp(col(Bitemporal.ST)).as("st_ep"))
        .orderBy("_id", "version", "vf_ep")
    }, Some(oracleEventCte + """,
      nxt AS (
        SELECT _id, version, vf, CAST(epoch(vf) AS BIGINT) AS vf_ep,
               lead(vf) OVER (PARTITION BY _id ORDER BY version) AS nvf
        FROM ev2)
      SELECT _id, version, vf_ep,
             CAST(epoch(nvf) AS BIGINT) AS vt_ep,
             vf_ep AS sf_ep, CAST(NULL AS BIGINT) AS st_ep
      FROM nxt
      UNION ALL
      SELECT _id, version, CAST(epoch(nvf) AS BIGINT) AS vf_ep,
             CAST(NULL AS BIGINT) AS vt_ep,
             vf_ep AS sf_ep, CAST(epoch(nvf) AS BIGINT) AS st_ep
      FROM nxt WHERE nvf IS NOT NULL
      ORDER BY _id, version, vf_ep""")),

    // ---- erase + re-insert through the asOf window fast path (round-1 bug:
    // the anti-join erased ALL of an iid's events, hiding post-erase
    // re-inserts until compaction; reference PolygonCalculator.kt:43-46 keeps
    // puts newer than the erase). Fixture per order key k: always put v0 at
    // d; k%4 in (1,2): erase at d+1; k%4==2: re-insert v2 at d+2; k%4==3:
    // plain update v1 at d+1. Expected at 1999-06-01: 0→v0, 1→gone, 2→v2,
    // 3→v1.
    QueryDef("q73_bitemp_erase_reinsert", (s, dir) => {
      val base = Tables.load(s, dir, "orders")
        .filter(col("o_orderkey") < 2000)
        .select(col("o_orderkey").as("_id"),
          pmod(col("o_orderkey"), lit(4L)).as("m"),
          col("o_orderdate").cast("timestamp").as("d"))
      def ev(df: DataFrame, version: Long, sfOff: Int, op: String,
          vfCol: Column): DataFrame =
        df.select(col("_id"), lit(version).as("version"),
          Ids.iidHex(col("_id")).as(Bitemporal.IID),
          vfCol.cast("timestamp").as(Bitemporal.VF),
          lit(null).cast("timestamp").as(Bitemporal.VT),
          expr(s"timestampadd(DAY, $sfOff, d)").as(Bitemporal.SF),
          lit(0L).as(Bitemporal.SEQ),
          lit(op).as(Bitemporal.OP))
      val events = ev(base, 0L, 0, "put", col("d"))
        .unionByName(ev(base.filter(col("m").isin(1L, 2L)), -1L, 1, "erase",
          lit("0001-01-01 00:00:00")))
        .unionByName(ev(base.filter(col("m") === 2L), 2L, 2, "put",
          expr("timestampadd(DAY, 2, d)")))
        .unionByName(ev(base.filter(col("m") === 3L), 1L, 1, "put",
          expr("timestampadd(DAY, 1, d)")))
      val asof = lit("1999-06-01 00:00:00").cast("timestamp")
      Bitemporal.asOf(events, asof, asof, current_timestamp())
        .select(col("_id"), col("version"))
        .orderBy("_id")
    }, Some("""
      WITH base AS (SELECT o_orderkey AS _id, o_orderkey % 4 AS m,
                    CAST(o_orderdate AS TIMESTAMP) AS d
                    FROM orders WHERE o_orderkey < 2000),
      ev AS (
        SELECT _id, CAST(0 AS BIGINT) AS version, d AS vf, d AS sf, 'put' AS op FROM base
        UNION ALL
        SELECT _id, -1, TIMESTAMP '0001-01-01', d + INTERVAL 1 DAY, 'erase' FROM base WHERE m IN (1,2)
        UNION ALL
        SELECT _id, 2, d + INTERVAL 2 DAY, d + INTERVAL 2 DAY, 'put' FROM base WHERE m = 2
        UNION ALL
        SELECT _id, 1, d + INTERVAL 1 DAY, d + INTERVAL 1 DAY, 'put' FROM base WHERE m = 3),
      vis AS (
        SELECT *, max(CASE WHEN op = 'erase' THEN sf END)
                    OVER (PARTITION BY _id) AS esf
        FROM ev),
      cand AS (
        SELECT *, row_number() OVER (PARTITION BY _id ORDER BY sf DESC) AS rn
        FROM vis WHERE (esf IS NULL OR sf > esf)
          AND sf <= TIMESTAMP '1999-06-01'
          AND vf <= TIMESTAMP '1999-06-01')
      SELECT _id, version FROM cand WHERE rn = 1 AND op = 'put'
      ORDER BY _id""")),

    // ---- hard bitemporal shapes through the exact rectangle path: bounded
    // valid ranges, an overlapping mid-range rewrite, valid-range deletes,
    // and a post-delete put. `history()` rectangles are probed at a 4×6
    // grid of (system, valid) points per document and must agree with the
    // naive newest-containing-event snapshot the oracle computes directly
    // (reference as_of_test.clj scenarios; EventAlgebra ceiling scan).
    QueryDef("q74_bitemp_hard_shapes", (s, dir) => {
      val base = Tables.load(s, dir, "orders")
        .filter(col("o_orderkey") < 800)
        .select(col("o_orderkey").as("_id"),
          col("o_orderdate").cast("timestamp").as("d"))
      def ev(df: DataFrame, version: Long, vfOff: Int, vtOff: Option[Int],
          sfOff: Int, op: String): DataFrame =
        df.select(col("_id"), lit(version).as("version"),
          Ids.iidHex(col("_id")).as(Bitemporal.IID),
          expr(s"timestampadd(DAY, $vfOff, d)").as(Bitemporal.VF),
          vtOff.map(o => expr(s"timestampadd(DAY, $o, d)"))
            .getOrElse(lit(null).cast("timestamp")).as(Bitemporal.VT),
          expr(s"timestampadd(DAY, $sfOff, d)").as(Bitemporal.SF),
          lit(0L).as(Bitemporal.SEQ),
          lit(op).as(Bitemporal.OP))
      val events = ev(base, 0L, 0, Some(30), 0, "put")
        .unionByName(ev(base.filter(pmod(col("_id"), lit(3L)) =!= 0L),
          1L, 10, Some(20), 2, "put"))
        .unionByName(ev(base.filter(pmod(col("_id"), lit(2L)) === 0L),
          -1L, 15, None, 4, "delete"))
        .unionByName(ev(base.filter(pmod(col("_id"), lit(5L)) === 0L),
          2L, 18, Some(40), 6, "put"))
      val hist = Bitemporal.history(events)
      val points = base
        .withColumn("s_off", explode(array(Seq(1, 3, 5, 7).map(lit): _*)))
        .withColumn("v_off",
          explode(array(Seq(5, 12, 16, 19, 25, 35).map(lit): _*)))
        .withColumn("vp", expr("timestampadd(DAY, v_off, d)"))
        .withColumn("sp", expr("timestampadd(DAY, s_off, d)"))
        .select(col("_id").as("pid"), col("s_off"), col("v_off"),
          col("vp"), col("sp"))
      points.join(hist,
          points("pid") === hist("_id") &&
          col(Bitemporal.VF) <= col("vp") &&
          (col(Bitemporal.VT).isNull || col("vp") < col(Bitemporal.VT)) &&
          col(Bitemporal.SF) <= col("sp") &&
          (col(Bitemporal.ST).isNull || col("sp") < col(Bitemporal.ST)))
        .select(col("pid").as("_id"), col("s_off").cast("long").as("s_off"),
          col("v_off").cast("long").as("v_off"), col("version"))
        .orderBy("_id", "s_off", "v_off")
    }, Some("""
      WITH base AS (SELECT o_orderkey AS _id, CAST(o_orderdate AS TIMESTAMP) AS d
                    FROM orders WHERE o_orderkey < 800),
      ev AS (
        SELECT _id, CAST(0 AS BIGINT) AS version, d AS vf,
               d + INTERVAL 30 DAY AS vt, d AS sf, 'put' AS op FROM base
        UNION ALL
        SELECT _id, 1, d + INTERVAL 10 DAY, d + INTERVAL 20 DAY,
               d + INTERVAL 2 DAY, 'put' FROM base WHERE _id % 3 <> 0
        UNION ALL
        SELECT _id, -1, d + INTERVAL 15 DAY, NULL,
               d + INTERVAL 4 DAY, 'delete' FROM base WHERE _id % 2 = 0
        UNION ALL
        SELECT _id, 2, d + INTERVAL 18 DAY, d + INTERVAL 40 DAY,
               d + INTERVAL 6 DAY, 'put' FROM base WHERE _id % 5 = 0),
      grid AS (
        SELECT b._id, b.d, s.s_off, v.v_off,
               b.d + v.v_off * INTERVAL 1 DAY AS vp,
               b.d + s.s_off * INTERVAL 1 DAY AS sp
        FROM base b,
             (VALUES (1),(3),(5),(7)) AS s(s_off),
             (VALUES (5),(12),(16),(19),(25),(35)) AS v(v_off)),
      cand AS (
        SELECT g._id, g.s_off, g.v_off, e.version, e.op,
               row_number() OVER (PARTITION BY g._id, g.s_off, g.v_off
                                  ORDER BY e.sf DESC) AS rn
        FROM grid g JOIN ev e ON e._id = g._id
         AND e.sf <= g.sp AND e.vf <= g.vp
         AND (e.vt IS NULL OR g.vp < e.vt))
      SELECT _id, CAST(s_off AS BIGINT) AS s_off,
             CAST(v_off AS BIGINT) AS v_off, version
      FROM cand WHERE rn = 1 AND op = 'put'
      ORDER BY _id, s_off, v_off""")),

    // ---- as-of (event-time) join: each click matched to the user's latest
    // purchase at-or-before it (temporal correlation — SURVEY §2.3 note).
    // Both sides are filters of ONE events scan, so the FUSED as-of join
    // applies (operators/Joins.asOfJoinFused: single scan + carry-forward
    // window, one shuffle — zero over a user_id-bucketed layout); the
    // general two-table asOfJoin stays the operator for disjoint inputs
    // (equivalence pinned in JoinsSpec).
    QueryDef("q72_asof_join", (s, dir) => {
      val base = Tables.load(s, dir, "events")
        .withColumn("ts_ms", expr("unix_micros(cast(ts as timestamp)) div 1000"))
        .select("user_id", "ts_ms", "event_id", "event_type", "value")
      _root_.graft.operators.Joins.asOfJoinFused(base,
          key = "user_id", ts = "ts_ms",
          isLeft = col("event_type") === "click",
          isRight = col("event_type") === "purchase",
          payload = Seq("value" -> "last_purchase"), tieBreak = "event_id")
        .select(col("user_id"), col("event_id"), col("last_purchase"))
        // output is one row per click (data-proportional): a global range
        // sort, not a single-task presentation sort — at 100x this result
        // no longer fits one sort task
        .orderBy("user_id", "event_id")
    }, Some("""
      WITH base AS (SELECT user_id, event_id, event_type, value,
                    epoch_ms(ts) AS ts_ms FROM events),
      u AS (
        SELECT user_id, ts_ms, 0 AS side, event_id, value AS pv
        FROM base WHERE event_type = 'purchase'
        UNION ALL
        SELECT user_id, ts_ms, 1 AS side, event_id, NULL
        FROM base WHERE event_type = 'click')
      SELECT user_id, event_id,
             last_value(pv IGNORE NULLS) OVER (PARTITION BY user_id
               ORDER BY ts_ms, side, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS last_purchase
      FROM u QUALIFY side = 1 ORDER BY user_id, event_id"""),
      bench = true)
  )
}
