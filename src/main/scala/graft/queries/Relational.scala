package graft.queries

import graft.{QueryDef, Tables}
import graft.QueryDef.PresentOps
import graft.operators.Joins
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Relational operator coverage (SURVEY.md §2.1-§2.3, §2.4 partial): scans
  * with pushdown, the full join family (inner/left/full/semi/anti/mark/
  * single/cross/n-ary), and the headline TPC-H-shaped aggregations.
  *
  * Every query carries a DuckDB oracle with identical column names and a
  * deterministic ORDER BY. Aggregated doubles are rounded in BOTH engines —
  * per-row IEEE arithmetic is bit-identical across engines, but summation
  * order is not.
  */
object Relational {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  val defs: Seq[QueryDef] = Seq(

    // ---- scan + blocking agg (reference :scan + :group-by; TPC-H Q1 shape)
    QueryDef("q01_pricing_summary", (s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("sum_disc_price"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax"))), 2).as("sum_charge"),
          round(avg("l_quantity"), 2).as("avg_qty"),
          round(avg("l_extendedprice"), 2).as("avg_price"),
          round(avg("l_discount"), 4).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .presentSortedK("l_returnflag", "l_linestatus")
    }, Some("""
      SELECT l_returnflag, l_linestatus,
             round(sum(l_quantity), 2) AS sum_qty,
             round(sum(l_extendedprice), 2) AS sum_base_price,
             round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
             round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
             round(avg(l_quantity), 2) AS avg_qty,
             round(avg(l_extendedprice), 2) AS avg_price,
             round(avg(l_discount), 4) AS avg_disc,
             count(*) AS count_order
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus"""), bench = true),

    // ---- scan: filter + projection pushdown (reference embeds single-col
    // predicates into scan columns, logical_plan.clj:726-775; Catalyst gives
    // PushedFilters + ReadSchema pruning for free — verified via .explain)
    QueryDef("q02_scan_pushdown", (s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_quantity") < 3.0 &&
          col("l_shipdate") >= lit("1997-01-01").cast("timestamp"))
        .select(col("l_orderkey"), col("l_linenumber"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
        .orderBy("l_orderkey", "l_linenumber")
    }, Some("""
      SELECT l_orderkey, l_linenumber,
             l_extendedprice * (1 - l_discount) AS revenue
      FROM lineitem
      WHERE l_quantity < 3.0 AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      ORDER BY l_orderkey, l_linenumber""")),

    // ---- 3-way join + agg + top-k (TPC-H Q3 shape; Spark fuses
    // order+limit into TakeOrderedAndProject)
    QueryDef("q03_shipping_priority", (s, dir) => {
      // selective-first: the BUILDING fifth of customers broadcasts into
      // orders before the one big lineitem⋈orders shuffle (q05's note).
      // Broadcast regime (Joins.baseSmall): round 17 flattened this into
      // li ⋈ B(ordD) ⋈ B(custkeys) so the two builds overlap, but that
      // broadcast the FULL date-filtered orders (~92% of the table, 5×
      // the BUILDING-filtered build) and probed lineitem twice — the
      // driver measured it 74% slower (VERDICT r17 #1). Round 18: LEFT
      // SEMI the custkeys into the orders BUILD (same ~18% build size as
      // the r16 chain, and the semi drops c_custkey from the build), so
      // the top level is ONE broadcast join and lineitem probes once.
      // Measured A/B (sf0.1, 32 cores, interleaved, steal 203): semi
      // median 258 ms vs flat 281 / chain 280; identical rows (c_custkey
      // is unique, so inner ≡ semi on it; lineitem probe order unchanged).
      val cust = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val li = t(s, dir, "lineitem")
        .filter(col("l_shipdate") > lit("1997-01-01").cast("timestamp"))
      val ordD = t(s, dir, "orders")
        .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      val ordB = ordD.join(broadcast(cust.select(col("c_custkey"))),
        col("o_custkey") === col("c_custkey"), "left_semi")
      val joined =
        if (Joins.baseSmall(t(s, dir, "orders")))
          li.join(broadcast(ordB), col("l_orderkey") === col("o_orderkey"))
        else
          li.join(
            ordD.join(broadcast(cust.select(col("c_custkey"))),
              col("o_custkey") === col("c_custkey")),
            col("l_orderkey") === col("o_orderkey"))
      joined
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }, Some("""
      SELECT l_orderkey, o_orderdate, o_orderpriority,
             round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      WHERE c_mktsegment = 'BUILDING'
        AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        AND l_shipdate > TIMESTAMP '1997-01-01 00:00:00'
      GROUP BY l_orderkey, o_orderdate, o_orderpriority
      ORDER BY revenue DESC, l_orderkey
      LIMIT 10"""), bench = true),

    // ---- n-ary join (reference :mega-join, join.clj:599-736 — we emit
    // pairwise joins and let Catalyst CBO/AQE order them; small dims are
    // broadcast). TPC-H Q5 shape.
    QueryDef("q05_local_supplier_volume", (s, dir) => {
      // Join order is selective-first (the reference's :mega-join orders
      // relations greedily by stats, join.clj:599-736; Catalyst CBO needs
      // catalog stats raw parquet doesn't have, so the order is written
      // out): region→nation cuts customers to the ASIA fifth BEFORE the
      // orders and lineitem joins, so the one unavoidable big shuffle
      // (lineitem⋈orders) carries 5× fewer probe rows and all later joins
      // are broadcasts. Measured at 25× data: 1.9 s → ~0.8 s hot.
      val region = t(s, dir, "region").filter(col("r_name") === "ASIA")
      val nation = t(s, dir, "nation")
      val asiaN = nation
        .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      val ordD = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      val li = t(s, dir, "lineitem")
      val supp = t(s, dir, "supplier")
      // stats-greedy: when the whole orders scan fits the broadcast
      // threshold the fact side never shuffles; at scale the hint is a
      // no-op and the shuffle plan stands (Joins.baseSmall).
      // Broadcast regime: the region→asiaN→cust→ord nesting executes as
      // FOUR sequential broadcast-build jobs (each collect waits on the
      // one below — measured round 17, collectTime 51→99→143→264 ms);
      // joining each dimension straight onto the fact stream keeps every
      // build independent (max depth: region→asiaN), so they overlap.
      // Inner joins commute and the lineitem probe order is unchanged,
      // so rows AND double-sum accumulation order are identical.
      val joined =
        if (Joins.baseSmall(t(s, dir, "orders")))
          li.join(broadcast(ordD.select(col("o_orderkey"), col("o_custkey"))),
              col("l_orderkey") === col("o_orderkey"))
            .join(broadcast(t(s, dir, "customer")
              .select(col("c_custkey"), col("c_nationkey"))),
              col("o_custkey") === col("c_custkey"))
            .join(broadcast(asiaN.select(col("n_nationkey").as("cn"))),
              col("c_nationkey") === col("cn"))
            .join(broadcast(supp), col("l_suppkey") === col("s_suppkey") &&
              col("c_nationkey") === col("s_nationkey"))
            .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
        else {
          val cust = t(s, dir, "customer")
            .join(broadcast(asiaN.select(col("n_nationkey").as("cn"))),
              col("c_nationkey") === col("cn"))
          val ord = ordD
            .join(broadcast(cust.select(col("c_custkey"), col("c_nationkey"))),
              col("o_custkey") === col("c_custkey"))
          li.join(ord, col("l_orderkey") === col("o_orderkey"))
            .join(broadcast(supp), col("l_suppkey") === col("s_suppkey") &&
              col("c_nationkey") === col("s_nationkey"))
            .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
        }
      joined
        .groupBy("n_name")
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"))
        .presentSortedKBy(col("revenue").desc, col("n_name"))
    }, Some("""
      SELECT n_name,
             round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'ASIA'
        AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      GROUP BY n_name
      ORDER BY revenue DESC, n_name"""), bench = true),

    // ---- pure filter + global agg (TPC-H Q6 shape; zero-group aggregate)
    QueryDef("q06_forecast_revenue", (s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp") &&
          col("l_discount").between(0.02, 0.06) && col("l_quantity") < 24)
        .agg(round(sum(col("l_extendedprice") * col("l_discount")), 2).as("revenue"),
          count(lit(1)).as("n"))
    }, Some("""
      SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
             count(*) AS n
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        AND l_discount BETWEEN 0.02 AND 0.06
        AND l_quantity < 24"""), bench = true),

    // ---- inner equi-join (reference :join, join.clj:443-454)
    QueryDef("q10_join_inner", (s, dir) => {
      t(s, dir, "orders")
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          round(sum("o_totalprice"), 2).as("total"))
        .orderBy("c_mktsegment")
    }, Some("""
      SELECT c_mktsegment, count(*) AS n_orders,
             round(sum(o_totalprice), 2) AS total
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    // ---- left outer join (reference :left-outer-join, join.clj:456-472):
    // per-customer order count histogram, null-extended rows => 0 orders
    QueryDef("q11_join_left_outer", (s, dir) => {
      val perCust = t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("n_orders"))
      perCust.groupBy("n_orders")
        .agg(count(lit(1)).as("n_customers"))
        .orderBy("n_orders")
    }, Some("""
      SELECT n_orders, count(*) AS n_customers FROM (
        SELECT c_custkey, count(o_orderkey) AS n_orders
        FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        GROUP BY c_custkey)
      GROUP BY n_orders ORDER BY n_orders""")),

    // ---- full outer join (reference :full-outer-join, join.clj:474-483)
    QueryDef("q12_join_full_outer", (s, dir) => {
      val cn = t(s, dir, "customer").filter(col("c_acctbal") > 9000)
        .groupBy("c_nationkey").agg(count(lit(1)).as("c_cnt"))
      val sn = t(s, dir, "supplier").filter(col("s_acctbal") > 9000)
        .groupBy("s_nationkey").agg(count(lit(1)).as("s_cnt"))
      cn.join(sn, cn("c_nationkey") === sn("s_nationkey"), "full")
        .select(coalesce(col("c_nationkey"), col("s_nationkey")).as("nationkey"),
          coalesce(col("c_cnt"), lit(0L)).as("c_cnt"),
          coalesce(col("s_cnt"), lit(0L)).as("s_cnt"))
        .orderBy("nationkey")
    }, Some("""
      SELECT coalesce(c.k, s.k) AS nationkey,
             coalesce(c_cnt, 0) AS c_cnt, coalesce(s_cnt, 0) AS s_cnt
      FROM (SELECT c_nationkey AS k, count(*) AS c_cnt FROM customer
            WHERE c_acctbal > 9000 GROUP BY 1) c
      FULL JOIN (SELECT s_nationkey AS k, count(*) AS s_cnt FROM supplier
            WHERE s_acctbal > 9000 GROUP BY 1) s ON c.k = s.k
      ORDER BY nationkey""")),

    // ---- semi join / EXISTS (reference :semi-join, join.clj:485-493)
    QueryDef("q13_join_semi", (s, dir) => {
      val big = t(s, dir, "lineitem").filter(col("l_quantity") >= 49)
      t(s, dir, "orders")
        .join(big, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"))
        .orderBy("o_orderstatus")
    }, Some("""
      SELECT o_orderstatus, count(*) AS n FROM orders
      WHERE EXISTS (SELECT 1 FROM lineitem
                    WHERE l_orderkey = o_orderkey AND l_quantity >= 49)
      GROUP BY o_orderstatus ORDER BY o_orderstatus""")),

    // ---- anti join / NOT EXISTS (reference :anti-join, join.clj:495-502)
    QueryDef("q14_join_anti", (s, dir) => {
      val highValue = t(s, dir, "orders").filter(col("o_totalprice") > 200000)
      t(s, dir, "customer")
        .join(highValue, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"), min("c_custkey").as("min_key"))
        .orderBy("c_mktsegment")
    }, Some("""
      SELECT c_mktsegment, count(*) AS n, min(c_custkey) AS min_key
      FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM orders
                        WHERE o_custkey = c_custkey AND o_totalprice > 200000)
      GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    // ---- mark join (reference :mark-join, join.clj:71-75, 228-271):
    // boolean mark column for `custkey IN (big spenders)`
    QueryDef("q15_join_mark", (s, dir) => {
      val bigSpend = t(s, dir, "orders").filter(col("o_totalprice") > 300000)
        .select("o_custkey")
      Joins.markJoin(t(s, dir, "customer"), bigSpend,
          Seq("c_custkey"), Seq("o_custkey"), "is_big_spender")
        .groupBy("c_mktsegment", "is_big_spender")
        .agg(count(lit(1)).as("n"))
        .orderBy("c_mktsegment", "is_big_spender")
    }, Some("""
      SELECT c_mktsegment,
             c_custkey IN (SELECT o_custkey FROM orders
                           WHERE o_totalprice > 300000) AS is_big_spender,
             count(*) AS n
      FROM customer
      GROUP BY 1, 2 ORDER BY 1, 2""")),

    // ---- single join (reference :single-join, join.clj:516-524): scalar
    // subquery with error-on-multiple-matches, equi path (no window shuffle)
    QueryDef("q16_join_single", (s, dir) => {
      val region = t(s, dir, "region").select(
        col("r_regionkey"), col("r_name").as("region_name"))
      Joins.singleJoinEqui(t(s, dir, "nation"), region,
          Seq("n_regionkey"), Seq("r_regionkey"))
        .select("n_name", "region_name")
        .orderBy("n_name")
    }, Some("""
      SELECT n_name,
             (SELECT r_name FROM region WHERE r_regionkey = n_regionkey)
               AS region_name
      FROM nation ORDER BY n_name""")),

    // ---- cross join (reference :cross-join, join.clj:95-164)
    QueryDef("q17_cross_join", (s, dir) => {
      val r1 = t(s, dir, "region").select(col("r_name").as("a"))
      val r2 = t(s, dir, "region").select(col("r_name").as("b"))
      r1.crossJoin(r2).filter(col("a") < col("b")).orderBy("a", "b")
    }, Some("""
      SELECT r1.r_name AS a, r2.r_name AS b
      FROM region r1 CROSS JOIN region r2
      WHERE r1.r_name < r2.r_name ORDER BY a, b""")),

    // ---- null-aware NOT IN (anti-join with null semantics,
    // reference join.clj null-aware conditions)
    QueryDef("q18_not_in", (s, dir) => {
      val urgent = t(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT")
        .select("o_custkey")
      Joins.notInJoin(t(s, dir, "customer"), urgent, "c_custkey", "o_custkey")
        .agg(count(lit(1)).as("n"), min("c_custkey").as("min_key"),
          max("c_custkey").as("max_key"))
    }, Some("""
      SELECT count(*) AS n, min(c_custkey) AS min_key, max(c_custkey) AS max_key
      FROM customer
      WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
                              WHERE o_orderpriority = '1-URGENT')""")),

    // ---- salted skew-safe join (Joins.saltedJoin): result must be
    // byte-identical to the plain equi join it replaces — the salt only
    // changes task-level work placement, never the relation
    QueryDef("q105_salted_join", (s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("o_orderkey"), col("l_quantity"),
          col("l_extendedprice"))
      Joins.saltedJoin(li, t(s, dir, "orders")
            .select("o_orderkey", "o_orderstatus"),
          keys = Seq("o_orderkey"), salt = 8)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          sum("l_quantity").cast("long").as("qty"))
        .orderBy("o_orderstatus")
    }, Some("""
      SELECT o_orderstatus, count(*) AS n,
             CAST(sum(l_quantity) AS BIGINT) AS qty
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY o_orderstatus ORDER BY o_orderstatus""")),

    // ---- bucketed period-overlap interval join (Joins.intervalJoin):
    // OVERLAPS between two non-broadcast period tables as an EQUI join on
    // aligned epoch buckets + exact residual — never a cartesian/broadcast
    // nested loop (reference period preds as theta conditions,
    // join.clj:331-339; grammar Sql.g4:227-243). strategy="bucket" pins
    // the at-scale plan shape even though sf0.01 would broadcast.
    // ts is second-truncated in BOTH engines (events.parquet carries ns
    // precision that Spark floors to µs).
    QueryDef("q203_interval_join_overlaps", (s, dir) => {
      val ev = t(s, dir, "events")
      val errs = ev.filter(col("event_type") === "error")
        .select(col("event_id").as("l_event_id"),
          date_trunc("second", col("ts")).as("lf"))
        .withColumn("lt", col("lf") + expr("INTERVAL 2 MINUTES"))
      val purch = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("r_event_id"),
          date_trunc("second", col("ts")).as("rf"))
        .withColumn("rt", col("rf") + expr("INTERVAL 2 MINUTES"))
      Joins.intervalJoin(errs, purch, "lf", "lt", "rf", "rt",
          Joins.overlapsCond(col("lf"), col("lt"), col("rf"), col("rt")),
          bucketSeconds = 300, strategy = "bucket")
        .groupBy("l_event_id")
        .agg(count(lit(1)).as("n_overlap"), max("r_event_id").as("max_r"))
        .presentSorted("l_event_id")
    }, Some("""
      WITH e AS (SELECT event_id, date_trunc('second', ts) AS sec,
                        event_type FROM events),
      l AS (SELECT event_id AS l_event_id, sec AS lf,
                   sec + INTERVAL 2 MINUTE AS lt FROM e
            WHERE event_type = 'error'),
      r AS (SELECT event_id AS r_event_id, sec AS rf,
                   sec + INTERVAL 2 MINUTE AS rt FROM e
            WHERE event_type = 'purchase')
      SELECT l_event_id, count(*) AS n_overlap, max(r_event_id) AS max_r
      FROM l JOIN r ON lf < rt AND rf < lt
      GROUP BY l_event_id ORDER BY l_event_id""")),

    // ---- CONTAINS through the same bucketed plan: the residual predicate
    // is the only change (contains implies intersection, so the canonical-
    // bucket emission stays exact)
    QueryDef("q204_interval_join_contains", (s, dir) => {
      val ev = t(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("l_event_id"),
          date_trunc("second", col("ts")).as("lf"))
        .withColumn("lt", col("lf") + expr("INTERVAL 10 MINUTES"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("event_id").as("r_event_id"),
          date_trunc("second", col("ts")).as("rf"))
        .withColumn("rt", col("rf") + expr("INTERVAL 1 MINUTE"))
      Joins.intervalJoin(clicks, views, "lf", "lt", "rf", "rt",
          Joins.containsCond(col("lf"), col("lt"), col("rf"), col("rt")),
          bucketSeconds = 600, strategy = "bucket")
        .groupBy("l_event_id")
        .agg(count(lit(1)).as("n_contained"), min("r_event_id").as("min_r"))
        .presentSorted("l_event_id")
    }, Some("""
      WITH e AS (SELECT event_id, date_trunc('second', ts) AS sec,
                        event_type FROM events),
      l AS (SELECT event_id AS l_event_id, sec AS lf,
                   sec + INTERVAL 10 MINUTE AS lt FROM e
            WHERE event_type = 'click'),
      r AS (SELECT event_id AS r_event_id, sec AS rf,
                   sec + INTERVAL 1 MINUTE AS rt FROM e
            WHERE event_type = 'view')
      SELECT l_event_id, count(*) AS n_contained, min(r_event_id) AS min_r
      FROM l JOIN r ON lf <= rf AND rt <= lt
      GROUP BY l_event_id ORDER BY l_event_id""")),

    // ---- LEFT OUTER period-overlap join: every left period survives,
    // right columns null-extend on no match — the outer face of the
    // bucketed plan (inner + left-anti + union; no nested loop). The
    // narrow 30-second windows guarantee a real unmatched population.
    QueryDef("q211_interval_join_left", (s, dir) => {
      val ev = t(s, dir, "events")
      val l = ev.filter(col("event_type") === "error")
        .select(col("event_id").as("l_event_id"),
          date_trunc("second", col("ts")).as("lf"))
        .withColumn("lt", col("lf") + expr("INTERVAL 30 SECONDS"))
      val r = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("r_event_id"),
          date_trunc("second", col("ts")).as("rf"))
        .withColumn("rt", col("rf") + expr("INTERVAL 30 SECONDS"))
      Joins.intervalJoinLeft(l, r, "lf", "lt", "rf", "rt",
          Joins.overlapsCond(col("lf"), col("lt"), col("rf"), col("rt")),
          bucketSeconds = 60, leftId = "l_event_id", strategy = "bucket")
        .groupBy("l_event_id")
        .agg(count(col("r_event_id")).as("n_overlap"),
          max("r_event_id").as("max_r"))
        .presentSorted("l_event_id")
    }, Some("""
      WITH e AS (SELECT event_id, date_trunc('second', ts) AS sec,
                        event_type FROM events),
      l AS (SELECT event_id AS l_event_id, sec AS lf,
                   sec + INTERVAL 30 SECOND AS lt FROM e
            WHERE event_type = 'error'),
      r AS (SELECT event_id AS r_event_id, sec AS rf,
                   sec + INTERVAL 30 SECOND AS rt FROM e
            WHERE event_type = 'purchase')
      SELECT l_event_id, count(r_event_id) AS n_overlap,
             max(r_event_id) AS max_r
      FROM l LEFT JOIN r ON lf < rt AND rf < lt
      GROUP BY l_event_id ORDER BY l_event_id""")),

    // ---- the OVERLAPS join through plain SQL TEXT: the
    // GraftIntervalJoin optimizer rule detects the two-strict-inequality
    // theta shape and reroutes it onto the bucketed plan — the require()
    // fails unless the main path planned as an equi join (no cartesian).
    // The broadcast threshold is disabled only while THIS query
    // materializes (localCheckpoint pins the result before restore).
    QueryDef("q209_interval_join_rule", (s, dir) => {
      val ev = t(s, dir, "events")
      ev.filter(col("event_type") === "view")
        .select(col("event_id").as("lid"),
          date_trunc("second", col("ts")).as("lf"))
        .withColumn("lt", col("lf") + expr("INTERVAL 3 MINUTES"))
        .createOrReplaceTempView("q209_l")
      ev.filter(col("event_type") === "signup")
        .select(col("event_id").as("rid"),
          date_trunc("second", col("ts")).as("rf"))
        .withColumn("rt", col("rf") + expr("INTERVAL 3 MINUTES"))
        .createOrReplaceTempView("q209_r")
      val prevThr = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      s.conf.set("spark.graft.intervalJoin.bucketSeconds", "360")
      try {
        val joined = s.sql("""
          SELECT lid, count(*) AS n_overlap, max(rid) AS max_r
          FROM q209_l JOIN q209_r ON lf < rt AND rf < lt
          GROUP BY lid ORDER BY lid""")
        val rep = _root_.graft.plans.Explain.report(joined)
        require(rep.sortMergeJoins + rep.shuffledHashJoins +
          rep.broadcastHashJoins >= 1,
          "interval-join rule did not fire: the OVERLAPS join has no " +
            "equi main path")
        require(rep.cartesianProducts == 0,
          "cartesian product in the rewritten plan")
        joined.localCheckpoint(true)
      } finally
        s.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThr)
    }, Some("""
      WITH e AS (SELECT event_id, date_trunc('second', ts) AS sec,
                        event_type FROM events),
      l AS (SELECT event_id AS lid, sec AS lf,
                   sec + INTERVAL 3 MINUTE AS lt FROM e
            WHERE event_type = 'view'),
      r AS (SELECT event_id AS rid, sec AS rf,
                   sec + INTERVAL 3 MINUTE AS rt FROM e
            WHERE event_type = 'signup')
      SELECT lid, count(*) AS n_overlap, max(rid) AS max_r
      FROM l JOIN r ON lf < rt AND rf < lt
      GROUP BY lid ORDER BY lid""")),

    // ---- INCLUSIVE endpoints through SQL TEXT: `<=` conjuncts rewrite
    // through the CLOSED bucket cover (the half-open cover silently
    // misses pairs satisfied at exact boundary equality — the round-9
    // rule correctly refused these; round 10 handles them). Minute
    // truncation + whole-minute widths guarantee a real population of
    // exact lf = rt / rf = lt boundary pairs, so the closed cover is
    // load-bearing, not vacuously equal to the strict result.
    QueryDef("q212_interval_join_inclusive_rule", (s, dir) => {
      val ev = t(s, dir, "events")
      ev.filter(col("event_type") === "view")
        .select(col("event_id").as("lid"),
          date_trunc("minute", col("ts")).as("lf"))
        .withColumn("lt", col("lf") + expr("INTERVAL 2 MINUTES"))
        .createOrReplaceTempView("q212_l")
      ev.filter(col("event_type") === "signup")
        .select(col("event_id").as("rid"),
          date_trunc("minute", col("ts")).as("rf"))
        .withColumn("rt", col("rf") + expr("INTERVAL 2 MINUTES"))
        .createOrReplaceTempView("q212_r")
      val prevThr = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      s.conf.set("spark.graft.intervalJoin.bucketSeconds", "240")
      try {
        val joined = s.sql("""
          SELECT lid, count(*) AS n_touch, max(rid) AS max_r
          FROM q212_l JOIN q212_r ON lf <= rt AND rf <= lt
          GROUP BY lid ORDER BY lid""")
        val rep = _root_.graft.plans.Explain.report(joined)
        require(rep.sortMergeJoins + rep.shuffledHashJoins +
          rep.broadcastHashJoins >= 1,
          "inclusive interval-join rule did not fire: no equi main path")
        require(rep.cartesianProducts == 0,
          "cartesian product in the rewritten plan")
        joined.localCheckpoint(true)
      } finally
        s.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThr)
    }, Some("""
      WITH e AS (SELECT event_id, date_trunc('minute', ts) AS min_ts,
                        event_type FROM events),
      l AS (SELECT event_id AS lid, min_ts AS lf,
                   min_ts + INTERVAL 2 MINUTE AS lt FROM e
            WHERE event_type = 'view'),
      r AS (SELECT event_id AS rid, min_ts AS rf,
                   min_ts + INTERVAL 2 MINUTE AS rt FROM e
            WHERE event_type = 'signup')
      SELECT lid, count(*) AS n_touch, max(rid) AS max_r
      FROM l JOIN r ON lf <= rt AND rf <= lt
      GROUP BY lid ORDER BY lid""")),

    // ---- the closed-interval OPERATOR face (inclusiveBounds = true):
    // same bucketed plan, covers widened to [from, to] so the
    // boundary-touch pairs (lf = rt exactly, after minute truncation)
    // survive — SQL `(lf, lt) OVERLAPS (rf, rt)`-with-equality semantics
    QueryDef("q213_interval_join_closed", (s, dir) => {
      val ev = t(s, dir, "events")
      val errs = ev.filter(col("event_type") === "error")
        .select(col("event_id").as("l_event_id"),
          date_trunc("minute", col("ts")).as("lf"))
        .withColumn("lt", col("lf") + expr("INTERVAL 3 MINUTES"))
      val purch = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("r_event_id"),
          date_trunc("minute", col("ts")).as("rf"))
        .withColumn("rt", col("rf") + expr("INTERVAL 3 MINUTES"))
      Joins.intervalJoin(errs, purch, "lf", "lt", "rf", "rt",
          col("lf") <= col("rt") && col("rf") <= col("lt"),
          bucketSeconds = 300, strategy = "bucket",
          inclusiveBounds = true)
        .groupBy("l_event_id")
        .agg(count(lit(1)).as("n_touch"), max("r_event_id").as("max_r"))
        .presentSorted("l_event_id")
    }, Some("""
      WITH e AS (SELECT event_id, date_trunc('minute', ts) AS min_ts,
                        event_type FROM events),
      l AS (SELECT event_id AS l_event_id, min_ts AS lf,
                   min_ts + INTERVAL 3 MINUTE AS lt FROM e
            WHERE event_type = 'error'),
      r AS (SELECT event_id AS r_event_id, min_ts AS rf,
                   min_ts + INTERVAL 3 MINUTE AS rt FROM e
            WHERE event_type = 'purchase')
      SELECT l_event_id, count(*) AS n_touch, max(r_event_id) AS max_r
      FROM l JOIN r ON lf <= rt AND rf <= lt
      GROUP BY l_event_id ORDER BY l_event_id""")),

    // ---- LEFT OUTER period join through SQL TEXT (round 11): without
    // the rule, `LEFT JOIN ... ON lf < rt AND rf < lt` over two large
    // sides plans as a BroadcastNestedLoopJoin — O(n·m) at scale. The
    // rewrite runs the bucketed inner plan and synthesizes unmatched
    // rows with a null-safe whole-row anti join (multiset-exact).
    QueryDef("q226_interval_join_left_rule", (s, dir) => {
      val ev = t(s, dir, "events")
      ev.filter(col("event_type") === "error")
        .select(col("event_id").as("lid"),
          date_trunc("second", col("ts")).as("lf"))
        .withColumn("lt", col("lf") + expr("INTERVAL 2 MINUTES"))
        .createOrReplaceTempView("q226_l")
      ev.filter(col("event_type") === "signup")
        .select(col("event_id").as("rid"),
          date_trunc("second", col("ts")).as("rf"))
        .withColumn("rt", col("rf") + expr("INTERVAL 2 MINUTES"))
        .createOrReplaceTempView("q226_r")
      val prevThr = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      s.conf.set("spark.graft.intervalJoin.bucketSeconds", "240")
      try {
        val joined = s.sql("""
          SELECT lid, count(rid) AS n_overlap,
                 coalesce(max(rid), -1) AS max_r
          FROM q226_l LEFT JOIN q226_r ON lf < rt AND rf < lt
          GROUP BY lid ORDER BY lid""")
        val rep = _root_.graft.plans.Explain.report(joined)
        require(rep.sortMergeJoins + rep.shuffledHashJoins +
          rep.broadcastHashJoins >= 1,
          "LEFT interval-join rule did not fire: no equi main path")
        require(rep.cartesianProducts == 0,
          "cartesian product in the rewritten LEFT plan")
        joined.localCheckpoint(true)
      } finally
        s.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThr)
    }, Some("""
      WITH e AS (SELECT event_id, date_trunc('second', ts) AS sec,
                        event_type FROM events),
      l AS (SELECT event_id AS lid, sec AS lf,
                   sec + INTERVAL 2 MINUTE AS lt FROM e
            WHERE event_type = 'error'),
      r AS (SELECT event_id AS rid, sec AS rf,
                   sec + INTERVAL 2 MINUTE AS rt FROM e
            WHERE event_type = 'signup')
      SELECT lid, count(rid) AS n_overlap,
             coalesce(max(rid), -1) AS max_r
      FROM l LEFT JOIN r ON lf < rt AND rf < lt
      GROUP BY lid ORDER BY lid"""))
  )
}
