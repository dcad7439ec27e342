package graft
package queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables._
import graft.functions.{GraftFunctions => GF, WeightedMedian}
import graft.ops.RelOps
import QueryHelpers._

/** The relational and SQL surface: scans, joins, aggregates, windows,
  * set operations, array/math/date functions, catalog and JDBC
  * round-trips, the weighted medians and the batch event-time queries,
  * over the TPC-H-shaped test tables. */
object RelationalQueries {
  val all: Seq[Query] = Seq(
    // ---- flagship: scan -> map ops -> filter -> agg -> sort (P1,P2,A1,O1;
    //      osm-explore.sql:9-16 shape). tags is a real MapType column so the
    //      hstore surface (element_at / map_contains_key) is exercised.
    Query("q_flagship_tag_freq", (s, dir) => {
      customer(s, dir)
        .select(map(
          lit("mktsegment"), col("c_mktsegment"),
          lit("nation"), col("c_nationkey").cast("string")).as("tags"))
        .filter(map_contains_key(col("tags"), lit("mktsegment")))
        .select(element_at(col("tags"), "mktsegment").as("tag_value"))
        .groupBy("tag_value").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("tag_value"))
    },
      """SELECT c_mktsegment AS tag_value, count(*) AS cnt
         FROM customer GROUP BY c_mktsegment
         ORDER BY cnt DESC, tag_value"""),

    // ---- P3 `each(tags)` explode + A2 multi-key group (osm-explore.sql:43-56)
    Query("q_explore_tag_kv", (s, dir) => {
      customer(s, dir)
        .select(map(
          lit("mktsegment"), col("c_mktsegment"),
          lit("nation"), col("c_nationkey").cast("string")).as("tags"))
        .select(explode(col("tags")).as(Seq("tag", "value")))
        .groupBy("tag", "value").agg(count(lit(1)).as("cnt"))
        .orderBy("tag", "value")
    },
      """SELECT tag, value, count(*) AS cnt FROM (
           SELECT 'mktsegment' AS tag, c_mktsegment AS value FROM customer
           UNION ALL
           SELECT 'nation' AS tag, CAST(c_nationkey AS VARCHAR) AS value FROM customer
         ) GROUP BY tag, value ORDER BY tag, value"""),

    // ---- J1 inner equi-join, broadcast dimension (osm-road-graphs.sql:144-147)
    Query("q_j1_inner", (s, dir) => {
      orders(s, dir)
        .join(broadcast(customer(s, dir)), col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("c_name"), col("o_totalprice"))
        .orderBy("o_orderkey")
    },
      """SELECT o_orderkey, c_name, o_totalprice
         FROM orders JOIN customer ON o_custkey = c_custkey
         ORDER BY o_orderkey"""),

    // ---- J2 attribute-copy join (osm-road-graphs.sql:149-159 shape)
    Query("q_j2_attr_copy", (s, dir) => {
      lineitem(s, dir)
        .join(broadcast(part(s, dir)), col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey"), col("l_linenumber"), col("p_brand"),
          round(col("l_extendedprice") - col("p_retailprice") * col("l_quantity"), 2)
            .as("margin"))
        .orderBy("l_orderkey", "l_linenumber")
    },
      """SELECT l_orderkey, l_linenumber, p_brand,
                round(l_extendedprice - p_retailprice * l_quantity, 2) AS margin
         FROM lineitem JOIN part ON l_partkey = p_partkey
         ORDER BY l_orderkey, l_linenumber"""),

    // ---- J3 range join: equi key + BETWEEN band (osm-road-graphs.sql:119-127)
    Query("q_j3_range", (s, dir) => {
      lineitem(s, dir)
        .join(broadcast(part(s, dir)),
          col("l_partkey") === col("p_partkey") &&
            col("l_quantity").between(col("p_size") - 5, col("p_size") + 5))
        .groupBy("p_brand").agg(count(lit(1)).as("cnt"))
        .orderBy("p_brand")
    },
      """SELECT p_brand, count(*) AS cnt
         FROM lineitem JOIN part
           ON l_partkey = p_partkey AND l_quantity BETWEEN p_size - 5 AND p_size + 5
         GROUP BY p_brand ORDER BY p_brand"""),

    // ---- J4/J5 left-semi (osm-road-graphs.sql:60,72,94)
    Query("q_j4_semi", (s, dir) => {
      val big = lineitem(s, dir).filter(col("l_quantity") >= 48)
      orders(s, dir)
        .join(big, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy("o_orderkey")
    },
      """SELECT o_orderkey, o_totalprice FROM orders
         WHERE EXISTS (SELECT 1 FROM lineitem
                       WHERE l_orderkey = o_orderkey AND l_quantity >= 48)
         ORDER BY o_orderkey"""),

    // ---- J6 left-anti (osm-road-graphs.sql:161-165)
    Query("q_j6_anti", (s, dir) => {
      // anti-join against HIGH-VALUE orders: every sf customer has
      // some order, so the unrestricted form returns 0 rows — a
      // vacuous check any always-empty bug would pass. The 300k
      // restriction leaves a real absent-set (30 rows at sf0.01).
      customer(s, dir)
        .join(orders(s, dir).filter(col("o_totalprice") > 300000.0),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy("c_custkey")
    },
      """SELECT c_custkey, c_name FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey
                             AND o_totalprice > 300000.0)
         ORDER BY c_custkey"""),

    // ---- J8 driver-composed scalar subquery (general-functions.sql:61,68)
    Query("q_j8_scalar", (s, dir) => {
      val o = orders(s, dir)
      val maxPrice = o.agg(max(col("o_totalprice"))).head().getDouble(0)
      o.filter(col("o_totalprice") > lit(0.9 * maxPrice))
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy("o_orderkey")
    },
      """SELECT o_orderkey, o_totalprice FROM orders
         WHERE o_totalprice > 0.9 * (SELECT max(o_totalprice) FROM orders)
         ORDER BY o_orderkey"""),

    // ---- as-of join (point-in-time): each event gets the user's latest
    //      click at-or-before its timestamp — composed as union +
    //      running last() (one shuffle, no join node); oracle is
    //      DuckDB's native ASOF LEFT JOIN
    Query("q_j9_asof", (s, dir) => {
      val ev = events(s, dir)
      val clicks = RelOps.top1PerGroup(
        ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts"),
            col("event_id").as("click_id"), col("value").as("click_value")),
        Seq("user_id", "ts"), Seq(col("click_id").desc))
      ops.AsOfJoin.joinAsOf(
          ev.select(col("event_id"), col("user_id"), col("ts")),
          clicks, Seq("user_id"), "ts", "ts")
        .select(col("event_id"), col("user_id"), col("click_id"),
          round(col("click_value"), 4).as("click_value"))
        .orderBy("event_id")
    },
      """WITH clicks AS (
           SELECT user_id, ts, event_id AS click_id, value AS click_value
           FROM events WHERE event_type = 'click'
           QUALIFY row_number() OVER (PARTITION BY user_id, ts
                                      ORDER BY event_id DESC) = 1)
         SELECT e.event_id, e.user_id, c.click_id,
                round(c.click_value, 4) AS click_value
         FROM events e ASOF LEFT JOIN clicks c
           ON e.user_id = c.user_id AND e.ts >= c.ts
         ORDER BY e.event_id"""),

    // ---- A1+A3 group-count + HAVING-style post-filter (osm-road-graphs.sql:66-76)
    Query("q_a1_a3_having", (s, dir) => {
      lineitem(s, dir)
        .groupBy("l_partkey").agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") > 35)
        .orderBy("l_partkey")
    },
      """SELECT l_partkey, count(*) AS cnt FROM lineitem
         GROUP BY l_partkey HAVING count(*) > 35 ORDER BY l_partkey"""),

    // ---- A2/A5 multi-key group with count/sum/avg
    Query("q_a2_a5_groupstats", (s, dir) => {
      lineitem(s, dir)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("cnt"),
          sum(col("l_quantity")).as("sum_qty"),
          round(avg(col("l_discount")), 4).as("avg_disc"))
        .orderBy("l_returnflag", "l_linestatus")
    },
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt,
                sum(l_quantity) AS sum_qty, round(avg(l_discount), 4) AS avg_disc
         FROM lineitem GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus"""),

    // ---- A15 ROLLUP: multi-level aggregate in ONE pass (Expand feeds a
    //      single hash agg — no union of per-level scans); subtotal rows
    //      carry NULL group keys exactly like the SQL standard
    Query("q_a15_rollup", (s, dir) => {
      lineitem(s, dir)
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("cnt"), sum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)
    },
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt,
                sum(l_quantity) AS sum_qty
         FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
         ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"""),

    // ---- A16 PIVOT: long->wide conditional aggregation with an
    //      explicit value list (keeps the plan a single hash agg; an
    //      unlisted pivot would need a distinct-scan first)
    Query("q_a16_pivot", (s, dir) => {
      documents(s, dir)
        .groupBy("lang")
        .pivot("source", Seq("src0", "src1", "src2"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy("lang")
    },
      """SELECT lang,
                count(*) FILTER (WHERE source = 'src0') AS src0,
                count(*) FILTER (WHERE source = 'src1') AS src1,
                count(*) FILTER (WHERE source = 'src2') AS src2
         FROM documents GROUP BY lang ORDER BY lang"""),

    // ---- A17 CUBE + GROUPING(): all four grouping-set levels in one
    //      Expand->hash-agg pass; grouping_id disambiguates real NULL
    //      keys from subtotal rows (keys coalesced to 'ALL' for the
    //      deterministic compare)
    Query("q_a17_cube", (s, dir) => {
      lineitem(s, dir)
        .cube("l_returnflag", "l_linestatus")
        .agg(grouping_id().cast("long").as("gid"),
          count(lit(1)).as("cnt"),
          round(sum(col("l_quantity")), 2).as("sum_qty"))
        .select(col("gid"),
          coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("status"),
          col("cnt"), col("sum_qty"))
        .orderBy("gid", "flag", "status")
    },
      """SELECT CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
                COALESCE(l_returnflag, 'ALL') AS flag,
                COALESCE(l_linestatus, 'ALL') AS status,
                count(*) AS cnt, round(sum(l_quantity), 2) AS sum_qty
         FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
         ORDER BY gid, flag, status"""),

    // ---- A18 explicit GROUPING SETS (the free-built-ins row beside
    //      rollup/cube): a set list NO rollup/cube can express —
    //      ((flag,status),(status),()) skips the (flag) level — still
    //      one Expand->hash-agg pass
    Query("q_a18_grouping_sets", (s, dir) => {
      lineitem(s, dir)
        .groupingSets(
          Seq(Seq(col("l_returnflag"), col("l_linestatus")),
            Seq(col("l_linestatus")), Seq()),
          col("l_returnflag"), col("l_linestatus"))
        .agg(grouping_id().cast("long").as("gid"),
          count(lit(1)).as("cnt"),
          round(sum(col("l_quantity")), 2).as("sum_qty"))
        .select(col("gid"),
          coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("status"),
          col("cnt"), col("sum_qty"))
        .orderBy("gid", "flag", "status")
    },
      """SELECT CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
                COALESCE(l_returnflag, 'ALL') AS flag,
                COALESCE(l_linestatus, 'ALL') AS status,
                count(*) AS cnt, round(sum(l_quantity), 2) AS sum_qty
         FROM lineitem
         GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                                 (l_linestatus), ())
         ORDER BY gid, flag, status"""),

    // ---- A6/O2 ordered array_agg (osm-road-graphs.sql:144): deterministic
    //      via array_sort(collect_list(struct(...))), never bare collect_list
    Query("q_a6_ordered_agg", (s, dir) => {
      lineitem(s, dir)
        .groupBy("l_orderkey")
        .agg(
          array_join(
            RelOps.orderedListAgg(col("l_linenumber"), col("l_partkey").cast("string")),
            ",").as("parts_csv"),
          count(lit(1)).as("cnt"))
        .orderBy("l_orderkey")
    },
      """SELECT l_orderkey,
                array_to_string(list(CAST(l_partkey AS VARCHAR) ORDER BY l_linenumber, CAST(l_partkey AS VARCHAR)), ',') AS parts_csv,
                count(*) AS cnt
         FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey"""),

    // ---- A10/X4 custom median Aggregator (general-functions.sql:29-34)
    //      BENCH NOTE: this typed-Aggregator path is ~4.7x slower than
    //      the built-in twin q_a10b_median_native on identical input —
    //      the gap is encoder round-trips on the buffer state (every
    //      update() deserializes and reserializes it), not engine cost.
    //      It is kept as the deliberate X4 surface demo; the engine's
    //      own medians (speed-limit imputation, median_any on numbers)
    //      use the built-in.
    Query("q_a10_median", (s, dir) => {
      lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(GF.medianExact(col("l_quantity")).as("med_qty"))
        .orderBy("l_returnflag")
    },
      """SELECT l_returnflag, median(l_quantity) AS med_qty
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),

    // ---- A10 again through Spark's built-in exact `median`
    //      (percentile(x, 0.5): a + (b - a) * 0.5, the same double as
    //      the reference's mean of the middles on integer quantities)
    Query("q_a10b_median_native", (s, dir) => {
      lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(median(col("l_quantity")).as("med_qty"))
        .orderBy("l_returnflag")
    },
      """SELECT l_returnflag, median(l_quantity) AS med_qty
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),

    // ---- A10 polymorphic: the reference median is `anyelement`
    //      (general-functions.sql:29-34); MedianAny covers the
    //      non-numeric types the built-in median can't. Text
    //      median = LOWER-MIDDLE order statistic on even counts
    //      (DuckDB's ordinal rule; PG replaying the reference's
    //      avg-of-middles would ERROR on text — choice documented in
    //      MedianAny's scaladoc), type-preserved.
    Query("q_a10d_median_text", (s, dir) => {
      orders(s, dir)
        .groupBy("o_orderstatus")
        .agg(GF.medianAny(col("o_orderpriority")).as("med_prio"))
        .orderBy("o_orderstatus")
    },
      """SELECT o_orderstatus, median(o_orderpriority) AS med_prio
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"""),

    // ---- A10 polymorphic, timestamp: even counts take the MIDPOINT
    //      of the two middle instants (DuckDB interpolation). Trunc to
    //      seconds keeps the micros mean exact in both engines.
    Query("q_a10e_median_ts", (s, dir) => {
      events(s, dir)
        .groupBy("event_type")
        .agg(GF.medianAny(date_trunc("second", col("ts")))
          // NTZ: DuckDB TIMESTAMP is timezone-naive; session TZ is UTC
          // so the cast is value-preserving
          .cast("timestamp_ntz").as("med_ts"))
        .orderBy("event_type")
    },
      """SELECT event_type,
                median(date_trunc('second', ts)) AS med_ts
         FROM events GROUP BY event_type ORDER BY event_type"""),

    // ---- A10 at 100 TB: percentile_approx twin. Both exact medians above
    //      hold every group value in memory (PG-parity semantics); this is
    //      the documented scale variant — a GK sketch with bounded memory
    //      and mergeable partials, so a group of 10^10 rows costs O(accuracy)
    //      per task instead of O(n) on one. The sketch's output depends on
    //      its accuracy parameter and isn't portable across engines, so the
    //      gate is relative error vs the exact median (<= 0.1%), asserted
    //      through a literal VALUES oracle — same pattern as q_s_ivf_ann.
    Query("q_a10c_median_approx", (s, dir) => {
      val li = lineitem(s, dir)
      val exact = li.groupBy("l_returnflag")
        .agg(median(col("l_quantity")).as("exact_med"))
      val approx = li.groupBy("l_returnflag")
        .agg(percentile_approx(col("l_quantity"), lit(0.5), lit(10000))
          .as("approx_med"))
      approx.join(exact, "l_returnflag")
        .select(col("l_returnflag"),
          (abs(col("approx_med") - col("exact_med")) <=
            abs(col("exact_med")) * lit(0.001)).as("approx_ok"))
        .orderBy("l_returnflag")
    },
      // Sketch output isn't engine-portable; the contract is the error bound —
      // the oracle says every group must come back approx_ok = true.
      """SELECT l_returnflag, true AS approx_ok
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),

    // ---- A12 at 100 TB: approx_count_distinct (HLL++) twin of the
    //      exact DISTINCT — mergeable fixed-size sketches instead of an
    //      exact distinct's full shuffle of the key space. Same gate
    //      pattern as q_a10c: sketches aren't engine-portable, the
    //      error bound (<= 5% vs exact, rsd 0.01) is the contract.
    Query("q_a12b_approx_distinct", (s, dir) => {
      // two lean aggs joined (a10c shape): countDistinct NEXT TO another
      // aggregate makes Catalyst EXPAND every input row once per distinct
      // aggregate — separate aggs keep both sides expansion-free. BENCH
      // NOTE: the one-shot bench charges this query ~6 s, of which ~5 s
      // is first-use codegen compilation of the HLL++ aggregate
      // (steady state, min of reps: 1.2 s) — compile latency, not
      // throughput.
      val li = lineitem(s, dir)
      val exact = li.groupBy("l_returnflag")
        .agg(countDistinct(col("l_partkey")).as("exact_nd"))
      val approx = li.groupBy("l_returnflag")
        .agg(approx_count_distinct(col("l_partkey"), rsd = 0.01).as("approx_nd"))
      approx.join(exact, "l_returnflag")
        .select(col("l_returnflag"),
          (abs(col("approx_nd") - col("exact_nd")).cast("double") <=
            col("exact_nd") * lit(0.05)).as("approx_ok"))
        .orderBy("l_returnflag")
    },
      // Sketch values aren't engine-portable; the error bound is the contract.
      """SELECT l_returnflag, true AS approx_ok
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),

    // ---- A11 percentile_cont within group (osm-complete-graphs.sql:33-38)
    Query("q_a11_percentile", (s, dir) => {
      // exact percentile buffers EVERY group value in the partial agg —
      // on the single-split testdata scan that entire accumulation ran
      // on one core; spread first so 32 partials merge instead
      // (the 100 TB answer is the approx sketch — q_a10c)
      // ONE percentile aggregate with both quantiles (r21): two separate
      // percentile() calls each buffer EVERY group value independently —
      // same counts-map built and merged twice per group. The array form
      // computes both quantiles from one buffer; per-quantile arithmetic
      // is identical, so values are bit-equal.
      lineitem(s, dir).select("l_returnflag", "l_extendedprice")
        .repartition(s.sparkContext.defaultParallelism)
        .groupBy("l_returnflag")
        .agg(percentile(col("l_extendedprice"),
          array(lit(0.25), lit(0.75))).as("__ps"))
        .select(col("l_returnflag"),
          element_at(col("__ps"), 1).as("p25"),
          element_at(col("__ps"), 2).as("p75"))
        .orderBy("l_returnflag")
    },
      """SELECT l_returnflag,
                quantile_cont(l_extendedprice, 0.25) AS p25,
                quantile_cont(l_extendedprice, 0.75) AS p75
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),

    // ---- A13/O4 DISTINCT ON top-1-per-group (osm-road-graphs.sql:78-85)
    Query("q_a13_top1", (s, dir) => {
      RelOps.top1PerGroup(orders(s, dir), Seq("o_custkey"),
          Seq(col("o_orderdate").desc, col("o_orderkey").desc))
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          col("o_totalprice"))
        .orderBy("o_custkey")
    },
      """SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice FROM orders
         QUALIFY row_number() OVER (PARTITION BY o_custkey
                                    ORDER BY o_orderdate DESC, o_orderkey DESC) = 1
         ORDER BY o_custkey"""),

    // ---- W1 lag with default (osm-road-graphs.sql:97-104)
    Query("q_w1_lag", (s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      orders(s, dir)
        .select(col("o_custkey"), col("o_orderkey"),
          lag(col("o_totalprice"), 1, 0.0).over(w).as("prev_price"))
        .orderBy("o_custkey", "o_orderkey")
    },
      """SELECT o_custkey, o_orderkey,
                lag(o_totalprice, 1, 0.0) OVER (PARTITION BY o_custkey
                                                ORDER BY o_orderdate, o_orderkey) AS prev_price
         FROM orders ORDER BY o_custkey, o_orderkey"""),

    // ---- W3/W4 running + lagged running sums (general-functions.sql:63-67)
    Query("q_w3_w4_runsum", (s, dir) => {
      val base = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      val run = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val prev = base.rowsBetween(Window.unboundedPreceding, -1)
      orders(s, dir)
        .select(col("o_custkey"), col("o_orderkey"),
          round(sum(col("o_totalprice")).over(run), 2).as("run_sum"),
          round(coalesce(sum(col("o_totalprice")).over(prev), lit(0.0)), 2).as("prev_sum"))
        .orderBy("o_custkey", "o_orderkey")
    },
      """SELECT o_custkey, o_orderkey,
                round(sum(o_totalprice) OVER (PARTITION BY o_custkey
                  ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS run_sum,
                round(coalesce(sum(o_totalprice) OVER (PARTITION BY o_custkey
                  ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0), 2) AS prev_sum
         FROM orders ORDER BY o_custkey, o_orderkey"""),

    // ---- W5 whole-table total as scalar agg + broadcast cross join —
    //      NOT `SUM() OVER ()` (single-partition collapse, SURVEY §7.4-6)
    Query("q_w5_share", (s, dir) => {
      RelOps.withGlobalAgg(orders(s, dir), sum(col("o_totalprice")).as("__total"))
        .select(col("o_orderkey"),
          round(col("o_totalprice") / col("__total") * 100, 6).as("share"))
        .orderBy("o_orderkey")
    },
      """SELECT o_orderkey,
                round(o_totalprice / (SELECT sum(o_totalprice) FROM orders) * 100, 6) AS share
         FROM orders ORDER BY o_orderkey"""),

    // ---- F1/X1 custom Catalyst expression get_ints_from_text
    //      (general-functions.sql:3-5) through the injected function
    Query("q_f1_extract_ints", (s, dir) => {
      orders(s, dir)
        .select(element_at(GF.extractInts(col("o_orderpriority")), 1).as("prio_num"))
        .groupBy("prio_num").agg(count(lit(1)).as("cnt"))
        .orderBy("prio_num")
    },
      """SELECT CAST(regexp_extract(o_orderpriority, '[0-9]+') AS INT) AS prio_num,
                count(*) AS cnt
         FROM orders GROUP BY prio_num ORDER BY prio_num"""),

    // ---- U1 UNION distinct (osm-road-graphs.sql:60)
    Query("q_u1_union_distinct", (s, dir) => {
      RelOps.unionDistinct(Seq(
          customer(s, dir).select(col("c_nationkey").as("n_key")),
          supplier(s, dir).select(col("s_nationkey").as("n_key"))))
        .orderBy("n_key")
    },
      """SELECT c_nationkey AS n_key FROM customer
         UNION SELECT s_nationkey FROM supplier ORDER BY n_key"""),

    // ---- U2/P8 multi-branch UNION ALL with literal key columns —
    //      the POI pivot shape (osm-pois-extract.sql:3-48)
    Query("q_u2_unpivot", (s, dir) => {
      val p = part(s, dir)
      RelOps.unionAll(Seq(
          p.select(col("p_partkey"), lit("brand").as("key"), col("p_brand").as("value")),
          p.select(col("p_partkey"), lit("type").as("key"), col("p_type").as("value"))))
        .orderBy("p_partkey", "key")
    },
      """SELECT p_partkey, 'brand' AS key, p_brand AS value FROM part
         UNION ALL SELECT p_partkey, 'type' AS key, p_type AS value FROM part
         ORDER BY p_partkey, key"""),

    // ---- A4 scalar count
    Query("q_a4_count", (s, dir) =>
      lineitem(s, dir).agg(count(lit(1)).as("cnt")),
      "SELECT count(*) AS cnt FROM lineitem"),

    // ---- A12 DISTINCT projection
    Query("q_a12_distinct", (s, dir) =>
      lineitem(s, dir).select("l_returnflag", "l_linestatus").distinct()
        .orderBy("l_returnflag", "l_linestatus"),
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
         ORDER BY l_returnflag, l_linestatus"""),

    // ---- W2 last_value over a running frame ending 1 PRECEDING
    //      (the weighted-median building block, general-functions.sql:64)
    Query("q_w2_lastval", (s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, -1)
      orders(s, dir).select(col("o_custkey"), col("o_orderkey"),
          last(col("o_totalprice")).over(w).as("prev_carried"))
        .orderBy("o_custkey", "o_orderkey")
    },
      """SELECT o_custkey, o_orderkey,
                last_value(o_totalprice) OVER (PARTITION BY o_custkey
                  ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_carried
         FROM orders ORDER BY o_custkey, o_orderkey"""),

    // ---- W6 row_number
    Query("q_w6_rownum", (s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
      orders(s, dir).select(col("o_custkey"), col("o_orderkey"),
          row_number().over(w).cast("long").as("rn"))
        .orderBy("o_custkey", "o_orderkey")
    },
      """SELECT o_custkey, o_orderkey,
                CAST(row_number() OVER (PARTITION BY o_custkey
                  ORDER BY o_orderdate DESC, o_orderkey DESC) AS BIGINT) AS rn
         FROM orders ORDER BY o_custkey, o_orderkey"""),

    // ---- W8 rank family: ntile / percent_rank / cume_dist / dense_rank
    //      share ONE window partition-sort (one shuffle, one sort —
    //      Catalyst collapses same-spec windows into a single Window op)
    Query("q_w8_ranks", (s, dir) => {
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      orders(s, dir).select(col("o_orderkey"), col("o_orderpriority"),
          ntile(4).over(w).cast("long").as("quartile"),
          round(percent_rank().over(w), 6).as("pct_rank"),
          round(cume_dist().over(w), 6).as("cume"),
          dense_rank().over(w).cast("long").as("drank"))
        .orderBy("o_orderkey")
    },
      """SELECT o_orderkey, o_orderpriority,
                CAST(ntile(4) OVER w AS BIGINT) AS quartile,
                round(percent_rank() OVER w, 6) AS pct_rank,
                round(cume_dist() OVER w, 6) AS cume,
                CAST(dense_rank() OVER w AS BIGINT) AS drank
         FROM orders
         WINDOW w AS (PARTITION BY o_orderpriority
                      ORDER BY o_totalprice, o_orderkey)
         ORDER BY o_orderkey"""),

    // ---- U3 INTERSECT / EXCEPT
    Query("q_u3_setops", (s, dir) => {
      val c = customer(s, dir).select(col("c_nationkey").as("n_key"))
      val sup = supplier(s, dir).select(col("s_nationkey").as("n_key"))
      c.intersect(sup).withColumn("op", lit("both"))
        .unionByName(c.except(sup).withColumn("op", lit("customer_only")))
        .orderBy("op", "n_key")
    },
      """SELECT n_key, 'both' AS op FROM
           (SELECT c_nationkey AS n_key FROM customer
            INTERSECT SELECT s_nationkey FROM supplier)
         UNION ALL
         SELECT n_key, 'customer_only' AS op FROM
           (SELECT c_nationkey AS n_key FROM customer
            EXCEPT SELECT s_nationkey FROM supplier)
         ORDER BY op, n_key"""),

    // ---- S6 INSERT..VALUES literal rows joined to a table
    Query("q_s6_values", (s, dir) => {
      import s.implicits._
      val v = Seq((0, "AFRICA-X"), (1, "AMERICA-X")).toDF("r_key", "label")
      region(s, dir).join(broadcast(v), col("r_regionkey") === col("r_key"))
        .select(col("r_regionkey"), col("r_name"), col("label"))
        .orderBy("r_regionkey")
    },
      """WITH v(r_key, label) AS (VALUES (0, 'AFRICA-X'), (1, 'AMERICA-X'))
         SELECT r_regionkey, r_name, label
         FROM region JOIN v ON r_regionkey = r_key
         ORDER BY r_regionkey"""),

    // ---- S12: ANSI MERGE INTO (upsert) as the full-outer-join
    //      rewrite — one keyed shuffle, no window; matched keys take
    //      source values for the update columns, source-only keys
    //      insert whole, target-only rows pass through
    Query("q_s12_merge", (s, dir) => {
      val tgt = orders(s, dir).select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice"), col("o_orderstatus"))
      val updates = orders(s, dir).filter(col("o_orderkey") % 4 === 0)
        .select(col("o_orderkey"), col("o_custkey"),
          (col("o_totalprice") + 10.0).as("o_totalprice"),
          lit("U").as("o_orderstatus"))
      val inserts = orders(s, dir).filter(col("o_orderkey") % 1000 === 1)
        .select((col("o_orderkey") + 90000000L).as("o_orderkey"),
          col("o_custkey"), col("o_totalprice"),
          lit("N").as("o_orderstatus"))
      ops.RelOps.mergeInto(tgt, updates.unionByName(inserts),
          Seq("o_orderkey"), Seq("o_totalprice", "o_orderstatus"))
        .select(col("o_orderkey"), col("o_custkey"),
          round(col("o_totalprice"), 2).as("o_totalprice"),
          col("o_orderstatus"))
        .orderBy("o_orderkey")
    },
      // MERGE replayed as the same full-outer CASE rewrite
      """WITH tgt AS (
           SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
           FROM orders),
         src AS (
           SELECT o_orderkey, o_custkey,
                  o_totalprice + 10.0 AS o_totalprice,
                  'U' AS o_orderstatus
           FROM orders WHERE o_orderkey % 4 = 0
           UNION ALL
           SELECT o_orderkey + 90000000, o_custkey, o_totalprice, 'N'
           FROM orders WHERE o_orderkey % 1000 = 1)
         SELECT coalesce(t.o_orderkey, s.o_orderkey) AS o_orderkey,
                CASE WHEN t.o_orderkey IS NOT NULL THEN t.o_custkey
                     ELSE s.o_custkey END AS o_custkey,
                round(CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_totalprice
                           ELSE t.o_totalprice END, 2) AS o_totalprice,
                CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_orderstatus
                     ELSE t.o_orderstatus END AS o_orderstatus
         FROM tgt t FULL OUTER JOIN src s ON t.o_orderkey = s.o_orderkey
         ORDER BY o_orderkey"""),

    // ---- S10 JDBC export round-trip: supplier -> embedded Derby
    //      (batched parallel INSERTs) -> partitioned JDBC read-back ->
    //      aggregate. The oracle aggregates the parquet directly, so a
    //      green row proves the database hand-off is lossless.
    Query("q_s10_jdbc_roundtrip", (s, dir) => {
      val db = tempFixtureDir("graft-jdbc")
        .toString + "/db"
      val url = s"jdbc:derby:$db;create=true"
      val opts = Map("driver" -> "org.apache.derby.jdbc.EmbeddedDriver")
      val sup = supplier(s, dir).select("s_suppkey", "s_nationkey", "s_acctbal")
      etl.Export.toJdbc(sup, url, "supplier_rt", numPartitions = 4,
        options = opts)
      etl.Export.fromJdbc(s, url, "supplier_rt", "s_suppkey",
          0L, 1000000L, 4, opts)
        .groupBy("s_nationkey")
        .agg(count(lit(1)).as("cnt"), round(sum("s_acctbal"), 2).as("acctbal"))
        .orderBy("s_nationkey")
    },
      """SELECT s_nationkey, count(*) AS cnt,
                round(sum(s_acctbal), 2) AS acctbal
         FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey"""),

    // ---- S11 bucketed materialization round-trip inside the
    //      correctness gate: both sides bucketed on the join key, read
    //      back from the catalog, co-located join, aggregate. Oracle
    //      aggregates the parquet directly — green proves the bucketed
    //      write/read path is lossless.
    Query("q_s11_bucketed", (s, dir) => {
      etl.CatalogOps.createNamespace(s, "graft_bk")
      // a fresh in-memory catalog refuses to overwrite a managed
      // location left by a PREVIOUS session's run — drop both layers
      Seq("orders_b", "cust_b").foreach { t =>
        s.sql(s"DROP TABLE IF EXISTS graft_bk.$t")
        val p = new org.apache.hadoop.fs.Path(
          s.conf.get("spark.sql.warehouse.dir") + s"/graft_bk.db/$t")
        val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
        if (fs.exists(p)) fs.delete(p, true)
      }
      etl.CatalogOps.materializeBucketed(
        orders(s, dir).select("o_orderkey", "o_custkey", "o_totalprice"),
        "graft_bk.orders_b", 8, Seq("o_custkey"))
      etl.CatalogOps.materializeBucketed(
        customer(s, dir).select("c_custkey", "c_mktsegment"),
        "graft_bk.cust_b", 8, Seq("c_custkey"))
      s.table("graft_bk.orders_b")
        .join(s.table("graft_bk.cust_b")
          .withColumnRenamed("c_custkey", "o_custkey"), "o_custkey")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("cnt"),
          round(sum("o_totalprice"), 2).as("total"))
        .orderBy("c_mktsegment")
    },
      """SELECT c_mktsegment, count(*) AS cnt,
                round(sum(o_totalprice), 2) AS total
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment ORDER BY c_mktsegment"""),

    // ---- S3+S4 catalog round-trip: CREATE SCHEMA -> CTAS -> read the
    //      CATALOG table back (not the source relation), proving the
    //      namespace + materialization layer end-to-end
    Query("q_s3_s4_ctas", (s, dir) => {
      etl.CatalogOps.createNamespace(s, "graft_ctas")
      s.sql("DROP TABLE IF EXISTS graft_ctas.region_stats")
      val p = new org.apache.hadoop.fs.Path(
        s.conf.get("spark.sql.warehouse.dir") + "/graft_ctas.db/region_stats")
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
      etl.CatalogOps.materialize(
        region(s, dir).select(col("r_regionkey"), col("r_name"),
          length(col("r_name")).cast("long").as("name_len")),
        "graft_ctas.region_stats")
      s.table("graft_ctas.region_stats").orderBy("r_regionkey")
    },
      """SELECT r_regionkey, r_name,
                CAST(length(r_name) AS BIGINT) AS name_len
         FROM region ORDER BY r_regionkey"""),

    // ---- P4/P7 3VL exclusion: NULL-predicate rows survive the delete
    //      (osm-road-graphs.sql:19-28 semantics on TPC-H data)
    Query("q_p4_3vl_exclude", (s, dir) => {
      val li = lineitem(s, dir).withColumn("nf", expr("nullif(l_returnflag, 'N')"))
      RelOps.deleteWhere(li, col("nf").isin("R") || col("l_discount") > 0.09)
        .groupBy("l_returnflag").agg(count(lit(1)).as("cnt"))
        .orderBy("l_returnflag")
    },
      """SELECT l_returnflag, count(*) AS cnt FROM lineitem
         WHERE NOT coalesce((nullif(l_returnflag, 'N') IN ('R'))
                            OR l_discount > 0.09, false)
         GROUP BY l_returnflag ORDER BY l_returnflag"""),

    // ---- F2-F7 array function pack (element_at 1-based, size, reverse,
    //      array_sort, array_remove on split tokens)
    Query("q_f_array_pack", (s, dir) => {
      val toks = split(col("p_type"), " ")
      part(s, dir).select(col("p_partkey"),
          element_at(toks, 1).as("first_tok"),
          element_at(toks, -1).as("last_tok"),
          size(toks).cast("long").as("n_toks"),
          array_join(reverse(toks), " ").as("rev"),
          array_join(array_sort(toks), " ").as("sorted"),
          array_join(array_remove(toks, "PLATED"), " ").as("no_plated"))
        .orderBy("p_partkey")
    },
      """SELECT p_partkey,
                string_split(p_type, ' ')[1] AS first_tok,
                string_split(p_type, ' ')[-1] AS last_tok,
                len(string_split(p_type, ' ')) AS n_toks,
                array_to_string(list_reverse(string_split(p_type, ' ')), ' ') AS rev,
                array_to_string(list_sort(string_split(p_type, ' ')), ' ') AS sorted,
                array_to_string(list_filter(string_split(p_type, ' '),
                                            t -> t != 'PLATED'), ' ') AS no_plated
         FROM part ORDER BY p_partkey"""),

    // ---- F12-F16 case/math/cast pack
    Query("q_f_math_case", (s, dir) => {
      lineitem(s, dir).select(col("l_orderkey"), col("l_linenumber"),
          ceil(col("l_quantity") / 2.0).cast("long").as("half_up"),
          greatest(col("l_tax"), col("l_discount")).as("max_rate"),
          least(col("l_tax"), col("l_discount")).as("min_rate"),
          pmod(col("l_orderkey"), lit(7)).as("bucket"),
          when(col("l_quantity") > 25, "big").otherwise("small").as("qty_class"),
          col("l_quantity").cast("string").as("qty_str"))
        .orderBy("l_orderkey", "l_linenumber", "qty_str")
    },
      """SELECT l_orderkey, l_linenumber,
                CAST(ceil(l_quantity / 2.0) AS BIGINT) AS half_up,
                greatest(l_tax, l_discount) AS max_rate,
                least(l_tax, l_discount) AS min_rate,
                CAST(mod(l_orderkey, 7) AS BIGINT) AS bucket,
                CASE WHEN l_quantity > 25 THEN 'big' ELSE 'small' END AS qty_class,
                CAST(l_quantity AS VARCHAR) AS qty_str
         FROM lineitem ORDER BY l_orderkey, l_linenumber, qty_str"""),

    // ---- F19 timestamp/date function surface
    Query("q_f_dates", (s, dir) => {
      orders(s, dir).select(col("o_orderkey"),
          year(col("o_orderdate")).cast("long").as("yr"),
          month(col("o_orderdate")).cast("long").as("mo"),
          dayofmonth(col("o_orderdate")).cast("long").as("dom"),
          datediff(col("o_orderdate"), lit("1995-01-01").cast("date"))
            .cast("long").as("days_since"))
        .orderBy("o_orderkey")
    },
      """SELECT o_orderkey,
                CAST(year(o_orderdate) AS BIGINT) AS yr,
                CAST(month(o_orderdate) AS BIGINT) AS mo,
                CAST(day(o_orderdate) AS BIGINT) AS dom,
                CAST(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS days_since
         FROM orders ORDER BY o_orderkey"""),

    // ---- F9/P6 substring position
    Query("q_f9_instr", (s, dir) => {
      part(s, dir)
        .select(instr(col("p_type"), "BRASS").cast("long").as("pos"))
        .groupBy("pos").agg(count(lit(1)).as("cnt"))
        .orderBy("pos")
    },
      """SELECT CAST(strpos(p_type, 'BRASS') AS BIGINT) AS pos, count(*) AS cnt
         FROM part GROUP BY pos ORDER BY pos"""),

    // ---- O3 LIMIT n OFFSET m over a total order
    Query("q_o3_limit_offset", (s, dir) => {
      orders(s, dir)
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .offset(10).limit(100)
    },
      """SELECT o_orderkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 100 OFFSET 10"""),

    // ---- X5 weighted median, scalar form (general-functions.sql:52-75)
    //      with integer weights so cumulative sums are exact
    Query("q_x5_weighted_median", (s, dir) => {
      import s.implicits._
      val li = lineitem(s, dir).select(col("l_quantity").as("x"),
        round(col("l_extendedprice")).cast("long").as("w"))
      val wm = WeightedMedian.weightedMedian(li, "x", "w")
      Seq(wm.getOrElse(Double.NaN)).toDF("weighted_median")
    },
      """WITH src AS (SELECT l_quantity AS x,
                             CAST(round(l_extendedprice) AS BIGINT) AS w
                      FROM lineitem),
         wm AS (SELECT x,
                  sum(coalesce(w, 0)) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS runsum,
                  sum(coalesce(w, 0)) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prevsum,
                  sum(coalesce(w, 0)) OVER () AS total
                FROM src)
         SELECT avg(x) AS weighted_median FROM wm
         WHERE total / 2 BETWEEN prevsum AND runsum"""),

    // ---- X6 weighted median by group (general-functions.sql:84-106)
    Query("q_x6_wm_by_group", (s, dir) => {
      val li = lineitem(s, dir).select(col("l_returnflag"),
        col("l_quantity").as("x"),
        round(col("l_extendedprice")).cast("long").as("w"))
      WeightedMedian.weightedMedianByGroup(li, "x", "w", "l_returnflag")
        .orderBy("group_id")
    },
      """WITH src AS (SELECT l_returnflag AS g, l_quantity AS x,
                             CAST(round(l_extendedprice) AS BIGINT) AS w
                      FROM lineitem),
         wm AS (SELECT g, x,
                  sum(coalesce(w, 0)) OVER (PARTITION BY g ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS runsum,
                  sum(coalesce(w, 0)) OVER (PARTITION BY g ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prevsum,
                  sum(coalesce(w, 0)) OVER (PARTITION BY g) AS total
                FROM src)
         SELECT CAST(g AS VARCHAR) AS group_id, CAST(max(x) AS DOUBLE) AS weighted_median
         FROM wm WHERE total / 2 BETWEEN prevsum AND runsum
         GROUP BY g ORDER BY group_id"""),

    // ---- J7 spatial-style join, grid-salted scale path: equi-join on
    //      coarse cells (neighbor cells exploded on ONE side only), exact
    //      band predicate after — never an all-pairs cross join
    //      (osm-road-graphs-fix.sql:91 is the anti-pattern)
    Query("q_j7_grid", (s, dir) => {
      val c = customer(s, dir)
        .withColumn("cell", floor(col("c_acctbal") / 5.0).cast("long"))
      val sup = supplier(s, dir)
        .withColumn("cell0", floor(col("s_acctbal") / 5.0).cast("long"))
        .withColumn("cell", explode(array(col("cell0") - 1, col("cell0"), col("cell0") + 1)))
      c.join(sup, Seq("cell"))
        .filter(col("c_nationkey") === col("s_nationkey") &&
          abs(col("c_acctbal") - col("s_acctbal")) <= 5.0)
        .groupBy("c_nationkey").agg(count(lit(1)).as("pairs"))
        .orderBy("c_nationkey")
    },
      """SELECT c_nationkey, count(*) AS pairs
         FROM customer, supplier
         WHERE c_nationkey = s_nationkey AND abs(c_acctbal - s_acctbal) <= 5.0
         GROUP BY c_nationkey ORDER BY c_nationkey"""),

    // ---- S2/S4 SQL surface: temp views + spark.sql text query
    Query("q_sql_surface", (s, dir) => {
      customer(s, dir).createOrReplaceTempView("customer_v")
      orders(s, dir).createOrReplaceTempView("orders_v")
      s.sql("""SELECT c_mktsegment, count(*) AS cnt,
                      round(avg(o_totalprice), 2) AS avg_price
               FROM orders_v JOIN customer_v ON o_custkey = c_custkey
               GROUP BY c_mktsegment ORDER BY c_mktsegment""")
    },
      """SELECT c_mktsegment, count(*) AS cnt,
                round(avg(o_totalprice), 2) AS avg_price
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment ORDER BY c_mktsegment"""),

    // ---- X5 scalable form: range-partitioned prefix sums instead of a
    //      global window — must agree with the window semantics, so it
    //      shares q_x5's oracle
    Query("q_x5b_wm_scalable", (s, dir) => {
      import s.implicits._
      val li = lineitem(s, dir).select(col("l_quantity").as("x"),
        round(col("l_extendedprice")).cast("long").as("w"))
      val wm = WeightedMedian.weightedMedianScalable(li, "x", "w")
      Seq(wm.getOrElse(Double.NaN)).toDF("weighted_median")
    },
      """WITH src AS (SELECT l_quantity AS x,
                             CAST(round(l_extendedprice) AS BIGINT) AS w
                      FROM lineitem),
         wm AS (SELECT x,
                  sum(coalesce(w, 0)) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS runsum,
                  sum(coalesce(w, 0)) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prevsum,
                  sum(coalesce(w, 0)) OVER () AS total
                FROM src)
         SELECT avg(x) AS weighted_median FROM wm
         WHERE total / 2 BETWEEN prevsum AND runsum"""),

    // ---- event-time tumbling window aggregation (the batch shape of the
    //      Structured Streaming windowed agg)
    Query("q_e_tumbling_window", (s, dir) => {
      events(s, dir)
        .groupBy(window(col("ts"), "1 hour").as("w"))
        .agg(count(lit(1)).as("cnt"), round(avg(col("value")), 4).as("avg_value"))
        .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("hour_start"),
          col("cnt"), col("avg_value"))
        .orderBy("hour_start")
    },
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
                count(*) AS cnt, round(avg(value), 4) AS avg_value
         FROM events GROUP BY hour_start ORDER BY hour_start"""),

    // ---- event-time HOPPING window (1h length, 30m slide): every event
    //      lands in exactly two windows — the sliding-window batch shape;
    //      Spark expands via its internal window generator, the oracle
    //      expands the same two bucket starts explicitly
    //      value sums ride exact integer cents (BIGINT), not double or
    //      DECIMAL: the 2x window expansion reorders float summation
    //      onto half-ulp boundaries, and DECIMAL hashes non-portably
    //      across parquet writers (scale/physical-type differences) —
    //      round(value*100) as long is bit-portable by construction
    Query("q_e_hopping_window", (s, dir) => {
      events(s, dir)
        .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"))
        .agg(count(lit(1)).as("cnt"),
          sum(round(col("value") * 100).cast("long")).as("sum_cents"))
        .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
          col("cnt"), col("sum_cents"))
        .orderBy("win_start")
    },
      """WITH w AS (
           SELECT value, unnest([
             time_bucket(INTERVAL 30 MINUTE, ts),
             time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE]) AS ws
           FROM events)
         SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS win_start,
                count(*) AS cnt,
                CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
         FROM w GROUP BY win_start ORDER BY win_start"""),

    // ---- batch gaps-and-islands sessionization: lag flags a >30-min
    //      gap, a running sum over the same window numbers the islands
    //      — the batch shape of streaming sessionize, and the classic
    //      two-window idiom (both windows share ONE partition-sort)
    Query("q_e_sessions", (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      events(s, dir)
        .withColumn("__gap",
          when(col("ts").cast("double") -
            lag(col("ts"), 1).over(w).cast("double") > 1800.0, 1L)
            .otherwise(0L))
        .withColumn("sess_id", sum(col("__gap")).over(w))
        .groupBy("user_id")
        .agg(countDistinct(col("sess_id")).as("n_sessions"),
          count(lit(1)).as("n_events"))
        .orderBy("user_id")
    },
      """WITH g AS (
           SELECT user_id, ts, event_id,
                  CASE WHEN epoch(ts) - epoch(lag(ts) OVER w) > 1800.0
                       THEN 1 ELSE 0 END AS gap
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         s AS (
           SELECT user_id,
                  sum(gap) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS sess_id
           FROM g)
         SELECT user_id, count(DISTINCT sess_id) AS n_sessions,
                count(*) AS n_events
         FROM s GROUP BY user_id ORDER BY user_id"""),

    // ---- built-in session_window (the batch face of streaming
    //      sessionization): merges [ts, ts+30m) intervals per user, so
    //      a >=30-min silence starts a new session — cross-checked
    //      against the gaps-and-islands oracle computing the same cuts
    Query("q_e_session_builtin", (s, dir) => {
      events(s, dir)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value")), 4).as("sum_value"))
        .select(col("user_id"),
          date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("sess_start"),
          col("n_events"), col("sum_value"))
        .orderBy("user_id", "sess_start")
    },
      // gaps-and-islands mirror of session_window's interval-merge: a new
      // session starts exactly when ts - prev_ts >= the 30-min gap
      """WITH g AS (
           SELECT user_id, ts, value, event_id,
                  CASE WHEN epoch(ts) - epoch(lag(ts) OVER w) >= 1800.0
                       THEN 1 ELSE 0 END AS gap
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         s AS (
           SELECT user_id, ts, value,
                  sum(gap) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS sid
           FROM g)
         SELECT user_id, strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS sess_start,
                count(*) AS n_events, round(sum(value), 4) AS sum_value
         FROM s GROUP BY user_id, sid ORDER BY user_id, sess_start"""),

    // ---- JSON functions over the events props column (SURVEY §2.9)
    Query("q_e_json_props", (s, dir) => {
      events(s, dir)
        .select(get_json_object(col("props"), "$.k").cast("int").as("k"))
        .groupBy("k").agg(count(lit(1)).as("cnt"))
        .orderBy("k")
    },
      """SELECT CAST(json_extract_string(props, '$.k') AS INT) AS k, count(*) AS cnt
         FROM events GROUP BY k ORDER BY k"""),
  )
}
