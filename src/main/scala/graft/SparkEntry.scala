package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables._
import graft.functions.{Geo, GraftFunctions => GF, WeightedMedian}
import graft.ops.RelOps

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each entry exercises one (or a small family of) SURVEY §2 operators,
  * expressed Spark-first over the driver testdata, with a DuckDB oracle
  * in [[oracleSql]] using identical column names/types. Deterministic
  * output ordering everywhere so hash-compares are stable.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_flagship_tag_freq")(spark, "/root/testdata/sf0.001")

  /** Fixture temp dirs registered here live until JVM exit, then the
    * whole tree is removed (ADVICE r19: every Verify/Bench rep of the
    * index/stream fixtures leaked an encoded-corpus copy into /tmp).
    * Exit-time — not eager — cleanup on purpose: the returned
    * DataFrames read these dirs LAZILY (Verify materializes them after
    * the builder returns, and PlanDump explains the un-materialized
    * plan), so deleting before JVM exit would break both consumers. */
  private val tmpFixtureDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      tmpFixtureDirs.forEach { p =>
        try java.nio.file.Files.walk(p)
          .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .forEach(f =>
            try { java.nio.file.Files.deleteIfExists(f); () }
            catch { case _: Throwable => () })
        catch { case _: Throwable => () }
      }
    }))
  }
  private def tempFixtureDir(prefix: String): java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    tmpFixtureDirs.add(p)
    p
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- flagship: scan -> map ops -> filter -> agg -> sort (P1,P2,A1,O1;
    //      osm-explore.sql:9-16 shape). tags is a real MapType column so the
    //      hstore surface (element_at / map_contains_key) is exercised.
    "q_flagship_tag_freq" -> ((s, dir) => {
      customer(s, dir)
        .select(map(
          lit("mktsegment"), col("c_mktsegment"),
          lit("nation"), col("c_nationkey").cast("string")).as("tags"))
        .filter(map_contains_key(col("tags"), lit("mktsegment")))
        .select(element_at(col("tags"), "mktsegment").as("tag_value"))
        .groupBy("tag_value").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("tag_value"))
    }),

    // ---- P3 `each(tags)` explode + A2 multi-key group (osm-explore.sql:43-56)
    "q_explore_tag_kv" -> ((s, dir) => {
      customer(s, dir)
        .select(map(
          lit("mktsegment"), col("c_mktsegment"),
          lit("nation"), col("c_nationkey").cast("string")).as("tags"))
        .select(explode(col("tags")).as(Seq("tag", "value")))
        .groupBy("tag", "value").agg(count(lit(1)).as("cnt"))
        .orderBy("tag", "value")
    }),

    // ---- J1 inner equi-join, broadcast dimension (osm-road-graphs.sql:144-147)
    "q_j1_inner" -> ((s, dir) => {
      orders(s, dir)
        .join(broadcast(customer(s, dir)), col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("c_name"), col("o_totalprice"))
        .orderBy("o_orderkey")
    }),

    // ---- J2 attribute-copy join (osm-road-graphs.sql:149-159 shape)
    "q_j2_attr_copy" -> ((s, dir) => {
      lineitem(s, dir)
        .join(broadcast(part(s, dir)), col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey"), col("l_linenumber"), col("p_brand"),
          round(col("l_extendedprice") - col("p_retailprice") * col("l_quantity"), 2)
            .as("margin"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // ---- J3 range join: equi key + BETWEEN band (osm-road-graphs.sql:119-127)
    "q_j3_range" -> ((s, dir) => {
      lineitem(s, dir)
        .join(broadcast(part(s, dir)),
          col("l_partkey") === col("p_partkey") &&
            col("l_quantity").between(col("p_size") - 5, col("p_size") + 5))
        .groupBy("p_brand").agg(count(lit(1)).as("cnt"))
        .orderBy("p_brand")
    }),

    // ---- J4/J5 left-semi (osm-road-graphs.sql:60,72,94)
    "q_j4_semi" -> ((s, dir) => {
      val big = lineitem(s, dir).filter(col("l_quantity") >= 48)
      orders(s, dir)
        .join(big, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy("o_orderkey")
    }),

    // ---- J6 left-anti (osm-road-graphs.sql:161-165)
    "q_j6_anti" -> ((s, dir) => {
      // anti-join against HIGH-VALUE orders: every sf customer has
      // some order, so the unrestricted form returns 0 rows — a
      // vacuous check any always-empty bug would pass. The 300k
      // restriction leaves a real absent-set (30 rows at sf0.01).
      customer(s, dir)
        .join(orders(s, dir).filter(col("o_totalprice") > 300000.0),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy("c_custkey")
    }),

    // ---- J8 driver-composed scalar subquery (general-functions.sql:61,68)
    "q_j8_scalar" -> ((s, dir) => {
      val o = orders(s, dir)
      val maxPrice = o.agg(max(col("o_totalprice"))).head().getDouble(0)
      o.filter(col("o_totalprice") > lit(0.9 * maxPrice))
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy("o_orderkey")
    }),

    // ---- as-of join (point-in-time): each event gets the user's latest
    //      click at-or-before its timestamp — composed as union +
    //      running last() (one shuffle, no join node); oracle is
    //      DuckDB's native ASOF LEFT JOIN
    "q_j9_asof" -> ((s, dir) => {
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
    }),

    // ---- A1+A3 group-count + HAVING-style post-filter (osm-road-graphs.sql:66-76)
    "q_a1_a3_having" -> ((s, dir) => {
      lineitem(s, dir)
        .groupBy("l_partkey").agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") > 35)
        .orderBy("l_partkey")
    }),

    // ---- A2/A5 multi-key group with count/sum/avg
    "q_a2_a5_groupstats" -> ((s, dir) => {
      lineitem(s, dir)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("cnt"),
          sum(col("l_quantity")).as("sum_qty"),
          round(avg(col("l_discount")), 4).as("avg_disc"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // ---- A15 ROLLUP: multi-level aggregate in ONE pass (Expand feeds a
    //      single hash agg — no union of per-level scans); subtotal rows
    //      carry NULL group keys exactly like the SQL standard
    "q_a15_rollup" -> ((s, dir) => {
      lineitem(s, dir)
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("cnt"), sum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)
    }),

    // ---- A16 PIVOT: long->wide conditional aggregation with an
    //      explicit value list (keeps the plan a single hash agg; an
    //      unlisted pivot would need a distinct-scan first)
    "q_a16_pivot" -> ((s, dir) => {
      documents(s, dir)
        .groupBy("lang")
        .pivot("source", Seq("src0", "src1", "src2"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy("lang")
    }),

    // ---- A17 CUBE + GROUPING(): all four grouping-set levels in one
    //      Expand->hash-agg pass; grouping_id disambiguates real NULL
    //      keys from subtotal rows (keys coalesced to 'ALL' for the
    //      deterministic compare)
    "q_a17_cube" -> ((s, dir) => {
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
    }),

    // ---- A18 explicit GROUPING SETS (the free-built-ins row beside
    //      rollup/cube): a set list NO rollup/cube can express —
    //      ((flag,status),(status),()) skips the (flag) level — still
    //      one Expand->hash-agg pass
    "q_a18_grouping_sets" -> ((s, dir) => {
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
    }),

    // ---- A6/O2 ordered array_agg (osm-road-graphs.sql:144): deterministic
    //      via array_sort(collect_list(struct(...))), never bare collect_list
    "q_a6_ordered_agg" -> ((s, dir) => {
      lineitem(s, dir)
        .groupBy("l_orderkey")
        .agg(
          array_join(
            RelOps.orderedListAgg(col("l_linenumber"), col("l_partkey").cast("string")),
            ",").as("parts_csv"),
          count(lit(1)).as("cnt"))
        .orderBy("l_orderkey")
    }),

    // ---- A10/X4 custom median Aggregator (general-functions.sql:29-34)
    //      BENCH NOTE: this typed-Aggregator path is ~4.7x slower than
    //      q_a10b_median_native on identical input — the gap is encoder
    //      round-trips on the ArrayBuffer state (every update() deserializes
    //      and reserializes the buffer), not engine cost. It is kept as the
    //      deliberate X4 surface demo; the native twin below is the
    //      implementation a production path should use.
    "q_a10_median" -> ((s, dir) => {
      lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(GF.medianExact(col("l_quantity")).as("med_qty"))
        .orderBy("l_returnflag")
    }),

    // ---- A10 again through the native TypedImperativeAggregate path
    //      (raw buffer + binary partial state vs the typed Aggregator)
    "q_a10b_median_native" -> ((s, dir) => {
      lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(GF.medianExactNative(col("l_quantity")).as("med_qty"))
        .orderBy("l_returnflag")
    }),

    // ---- A10 polymorphic: the reference median is `anyelement`
    //      (general-functions.sql:29-34); MedianAny covers the
    //      non-numeric types the numeric aggregators can't. Text
    //      median = LOWER-MIDDLE order statistic on even counts
    //      (DuckDB's ordinal rule; PG replaying the reference's
    //      avg-of-middles would ERROR on text — choice documented in
    //      MedianAny's scaladoc), type-preserved.
    "q_a10d_median_text" -> ((s, dir) => {
      orders(s, dir)
        .groupBy("o_orderstatus")
        .agg(GF.medianAny(col("o_orderpriority")).as("med_prio"))
        .orderBy("o_orderstatus")
    }),

    // ---- A10 polymorphic, timestamp: even counts take the MIDPOINT
    //      of the two middle instants (DuckDB interpolation). Trunc to
    //      seconds keeps the micros mean exact in both engines.
    "q_a10e_median_ts" -> ((s, dir) => {
      events(s, dir)
        .groupBy("event_type")
        .agg(GF.medianAny(date_trunc("second", col("ts")))
          // NTZ: DuckDB TIMESTAMP is timezone-naive; session TZ is UTC
          // so the cast is value-preserving
          .cast("timestamp_ntz").as("med_ts"))
        .orderBy("event_type")
    }),

    // ---- A10 at 100 TB: percentile_approx twin. Both exact medians above
    //      hold every group value in memory (PG-parity semantics); this is
    //      the documented scale variant — a GK sketch with bounded memory
    //      and mergeable partials, so a group of 10^10 rows costs O(accuracy)
    //      per task instead of O(n) on one. The sketch's output depends on
    //      its accuracy parameter and isn't portable across engines, so the
    //      gate is relative error vs the exact median (<= 0.1%), asserted
    //      through a literal VALUES oracle — same pattern as q_s_ivf_ann.
    "q_a10c_median_approx" -> ((s, dir) => {
      val li = lineitem(s, dir)
      val exact = li.groupBy("l_returnflag")
        .agg(GF.medianExactNative(col("l_quantity")).as("exact_med"))
      val approx = li.groupBy("l_returnflag")
        .agg(percentile_approx(col("l_quantity"), lit(0.5), lit(10000))
          .as("approx_med"))
      approx.join(exact, "l_returnflag")
        .select(col("l_returnflag"),
          (abs(col("approx_med") - col("exact_med")) <=
            abs(col("exact_med")) * lit(0.001)).as("approx_ok"))
        .orderBy("l_returnflag")
    }),

    // ---- A12 at 100 TB: approx_count_distinct (HLL++) twin of the
    //      exact DISTINCT — mergeable fixed-size sketches instead of an
    //      exact distinct's full shuffle of the key space. Same gate
    //      pattern as q_a10c: sketches aren't engine-portable, the
    //      error bound (<= 5% vs exact, rsd 0.01) is the contract.
    "q_a12b_approx_distinct" -> ((s, dir) => {
      // two lean aggs joined (a10c shape): countDistinct NEXT TO another
      // aggregate makes Catalyst EXPAND every input row once per distinct
      // aggregate — separate aggs keep both sides expansion-free. BENCH
      // NOTE: the one-shot bench charges this query ~6 s, of which ~5 s
      // is first-use codegen compilation of the HLL++ aggregate
      // (QueryBench steady state: 1.2 s) — compile latency, not
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
    }),

    // ---- A11 percentile_cont within group (osm-complete-graphs.sql:33-38)
    "q_a11_percentile" -> ((s, dir) => {
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
    }),

    // ---- A13/O4 DISTINCT ON top-1-per-group (osm-road-graphs.sql:78-85)
    "q_a13_top1" -> ((s, dir) => {
      RelOps.top1PerGroup(orders(s, dir), Seq("o_custkey"),
          Seq(col("o_orderdate").desc, col("o_orderkey").desc))
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          col("o_totalprice"))
        .orderBy("o_custkey")
    }),

    // ---- W1 lag with default (osm-road-graphs.sql:97-104)
    "q_w1_lag" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      orders(s, dir)
        .select(col("o_custkey"), col("o_orderkey"),
          lag(col("o_totalprice"), 1, 0.0).over(w).as("prev_price"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    // ---- W3/W4 running + lagged running sums (general-functions.sql:63-67)
    "q_w3_w4_runsum" -> ((s, dir) => {
      val base = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      val run = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val prev = base.rowsBetween(Window.unboundedPreceding, -1)
      orders(s, dir)
        .select(col("o_custkey"), col("o_orderkey"),
          round(sum(col("o_totalprice")).over(run), 2).as("run_sum"),
          round(coalesce(sum(col("o_totalprice")).over(prev), lit(0.0)), 2).as("prev_sum"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    // ---- W5 whole-table total as scalar agg + broadcast cross join —
    //      NOT `SUM() OVER ()` (single-partition collapse, SURVEY §7.4-6)
    "q_w5_share" -> ((s, dir) => {
      RelOps.withGlobalAgg(orders(s, dir), sum(col("o_totalprice")).as("__total"))
        .select(col("o_orderkey"),
          round(col("o_totalprice") / col("__total") * 100, 6).as("share"))
        .orderBy("o_orderkey")
    }),

    // ---- F1/X1 custom Catalyst expression get_ints_from_text
    //      (general-functions.sql:3-5) through the injected function
    "q_f1_extract_ints" -> ((s, dir) => {
      orders(s, dir)
        .select(element_at(GF.extractInts(col("o_orderpriority")), 1).as("prio_num"))
        .groupBy("prio_num").agg(count(lit(1)).as("cnt"))
        .orderBy("prio_num")
    }),

    // ---- U1 UNION distinct (osm-road-graphs.sql:60)
    "q_u1_union_distinct" -> ((s, dir) => {
      RelOps.unionDistinct(Seq(
          customer(s, dir).select(col("c_nationkey").as("n_key")),
          supplier(s, dir).select(col("s_nationkey").as("n_key"))))
        .orderBy("n_key")
    }),

    // ---- U2/P8 multi-branch UNION ALL with literal key columns —
    //      the POI pivot shape (osm-pois-extract.sql:3-48)
    "q_u2_unpivot" -> ((s, dir) => {
      val p = part(s, dir)
      RelOps.unionAll(Seq(
          p.select(col("p_partkey"), lit("brand").as("key"), col("p_brand").as("value")),
          p.select(col("p_partkey"), lit("type").as("key"), col("p_type").as("value"))))
        .orderBy("p_partkey", "key")
    }),

    // ---- exact dedup by content hash: keeper = min id per fingerprint
    "q_d_exact_dedup" -> ((s, dir) => {
      spreadDocs(s, dir)
        .groupBy(md5(col("text")).as("fp"))
        .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("cnt"))
        .orderBy("fp")
    }),

    // ---- near-dup by normalized fingerprint (distinct-word-set hash):
    //      hash-groupBy dedup, single shuffle, no pairwise stage
    "q_d_fingerprint_dedup" -> ((s, dir) => {
      spreadDocs(s, dir)
        .select(col("doc_id"),
          md5(array_join(array_sort(array_distinct(split(col("text"), " "))), " "))
            .as("fp"))
        .groupBy("fp")
        .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("cnt"))
        .filter(col("cnt") > 1)
        .orderBy("fp")
    }),

    // ---- text analysis: token counting + quality-score features
    "q_t_text_stats" -> ((s, dir) => {
      val toks = split(col("text"), " ")
      documents(s, dir)
        .select(col("doc_id"),
          length(col("text")).cast("long").as("nchars"),
          size(toks).cast("long").as("ntokens"),
          size(array_distinct(toks)).cast("long").as("nuniq"),
          round(length(col("text")).cast("double") / size(toks), 4).as("avg_tok_len"))
        .orderBy("doc_id")
    }),

    // ---- A4 scalar count
    "q_a4_count" -> ((s, dir) =>
      lineitem(s, dir).agg(count(lit(1)).as("cnt"))),

    // ---- A12 DISTINCT projection
    "q_a12_distinct" -> ((s, dir) =>
      lineitem(s, dir).select("l_returnflag", "l_linestatus").distinct()
        .orderBy("l_returnflag", "l_linestatus")),

    // ---- W2 last_value over a running frame ending 1 PRECEDING
    //      (the weighted-median building block, general-functions.sql:64)
    "q_w2_lastval" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, -1)
      orders(s, dir).select(col("o_custkey"), col("o_orderkey"),
          last(col("o_totalprice")).over(w).as("prev_carried"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    // ---- W6 row_number
    "q_w6_rownum" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
      orders(s, dir).select(col("o_custkey"), col("o_orderkey"),
          row_number().over(w).cast("long").as("rn"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    // ---- W8 rank family: ntile / percent_rank / cume_dist / dense_rank
    //      share ONE window partition-sort (one shuffle, one sort —
    //      Catalyst collapses same-spec windows into a single Window op)
    "q_w8_ranks" -> ((s, dir) => {
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      orders(s, dir).select(col("o_orderkey"), col("o_orderpriority"),
          ntile(4).over(w).cast("long").as("quartile"),
          round(percent_rank().over(w), 6).as("pct_rank"),
          round(cume_dist().over(w), 6).as("cume"),
          dense_rank().over(w).cast("long").as("drank"))
        .orderBy("o_orderkey")
    }),

    // ---- U3 INTERSECT / EXCEPT
    "q_u3_setops" -> ((s, dir) => {
      val c = customer(s, dir).select(col("c_nationkey").as("n_key"))
      val sup = supplier(s, dir).select(col("s_nationkey").as("n_key"))
      c.intersect(sup).withColumn("op", lit("both"))
        .unionByName(c.except(sup).withColumn("op", lit("customer_only")))
        .orderBy("op", "n_key")
    }),

    // ---- S6 INSERT..VALUES literal rows joined to a table
    "q_s6_values" -> ((s, dir) => {
      import s.implicits._
      val v = Seq((0, "AFRICA-X"), (1, "AMERICA-X")).toDF("r_key", "label")
      region(s, dir).join(broadcast(v), col("r_regionkey") === col("r_key"))
        .select(col("r_regionkey"), col("r_name"), col("label"))
        .orderBy("r_regionkey")
    }),

    // ---- S10 JDBC export round-trip: supplier -> embedded Derby
    //      (batched parallel INSERTs) -> partitioned JDBC read-back ->
    //      aggregate. The oracle aggregates the parquet directly, so a
    //      green row proves the database hand-off is lossless.
    // ---- S12: ANSI MERGE INTO (upsert) as the full-outer-join
    //      rewrite — one keyed shuffle, no window; matched keys take
    //      source values for the update columns, source-only keys
    //      insert whole, target-only rows pass through
    "q_s12_merge" -> ((s, dir) => {
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
    }),

    "q_s10_jdbc_roundtrip" -> ((s, dir) => {
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
    }),

    // ---- S11 bucketed materialization round-trip inside the
    //      correctness gate: both sides bucketed on the join key, read
    //      back from the catalog, co-located join, aggregate. Oracle
    //      aggregates the parquet directly — green proves the bucketed
    //      write/read path is lossless.
    "q_s11_bucketed" -> ((s, dir) => {
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
    }),

    // ---- S3+S4 catalog round-trip: CREATE SCHEMA -> CTAS -> read the
    //      CATALOG table back (not the source relation), proving the
    //      namespace + materialization layer end-to-end
    "q_s3_s4_ctas" -> ((s, dir) => {
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
    }),

    // ---- P4/P7 3VL exclusion: NULL-predicate rows survive the delete
    //      (osm-road-graphs.sql:19-28 semantics on TPC-H data)
    "q_p4_3vl_exclude" -> ((s, dir) => {
      val li = lineitem(s, dir).withColumn("nf", expr("nullif(l_returnflag, 'N')"))
      RelOps.deleteWhere(li, col("nf").isin("R") || col("l_discount") > 0.09)
        .groupBy("l_returnflag").agg(count(lit(1)).as("cnt"))
        .orderBy("l_returnflag")
    }),

    // ---- F2-F7 array function pack (element_at 1-based, size, reverse,
    //      array_sort, array_remove on split tokens)
    "q_f_array_pack" -> ((s, dir) => {
      val toks = split(col("p_type"), " ")
      part(s, dir).select(col("p_partkey"),
          element_at(toks, 1).as("first_tok"),
          element_at(toks, -1).as("last_tok"),
          size(toks).cast("long").as("n_toks"),
          array_join(reverse(toks), " ").as("rev"),
          array_join(array_sort(toks), " ").as("sorted"),
          array_join(array_remove(toks, "PLATED"), " ").as("no_plated"))
        .orderBy("p_partkey")
    }),

    // ---- F12-F16 case/math/cast pack
    "q_f_math_case" -> ((s, dir) => {
      lineitem(s, dir).select(col("l_orderkey"), col("l_linenumber"),
          ceil(col("l_quantity") / 2.0).cast("long").as("half_up"),
          greatest(col("l_tax"), col("l_discount")).as("max_rate"),
          least(col("l_tax"), col("l_discount")).as("min_rate"),
          pmod(col("l_orderkey"), lit(7)).as("bucket"),
          when(col("l_quantity") > 25, "big").otherwise("small").as("qty_class"),
          col("l_quantity").cast("string").as("qty_str"))
        .orderBy("l_orderkey", "l_linenumber", "qty_str")
    }),

    // ---- F19 timestamp/date function surface
    "q_f_dates" -> ((s, dir) => {
      orders(s, dir).select(col("o_orderkey"),
          year(col("o_orderdate")).cast("long").as("yr"),
          month(col("o_orderdate")).cast("long").as("mo"),
          dayofmonth(col("o_orderdate")).cast("long").as("dom"),
          datediff(col("o_orderdate"), lit("1995-01-01").cast("date"))
            .cast("long").as("days_since"))
        .orderBy("o_orderkey")
    }),

    // ---- F9/P6 substring position
    "q_f9_instr" -> ((s, dir) => {
      part(s, dir)
        .select(instr(col("p_type"), "BRASS").cast("long").as("pos"))
        .groupBy("pos").agg(count(lit(1)).as("cnt"))
        .orderBy("pos")
    }),

    // ---- O3 LIMIT n OFFSET m over a total order
    "q_o3_limit_offset" -> ((s, dir) => {
      orders(s, dir)
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .offset(10).limit(100)
    }),

    // ---- X5 weighted median, scalar form (general-functions.sql:52-75)
    //      with integer weights so cumulative sums are exact
    "q_x5_weighted_median" -> ((s, dir) => {
      import s.implicits._
      val li = lineitem(s, dir).select(col("l_quantity").as("x"),
        round(col("l_extendedprice")).cast("long").as("w"))
      val wm = WeightedMedian.weightedMedian(li, "x", "w")
      Seq(wm.getOrElse(Double.NaN)).toDF("weighted_median")
    }),

    // ---- X6 weighted median by group (general-functions.sql:84-106)
    "q_x6_wm_by_group" -> ((s, dir) => {
      val li = lineitem(s, dir).select(col("l_returnflag"),
        col("l_quantity").as("x"),
        round(col("l_extendedprice")).cast("long").as("w"))
      WeightedMedian.weightedMedianByGroup(li, "x", "w", "l_returnflag")
        .orderBy("group_id")
    }),

    // ---- J7 spatial-style join, grid-salted scale path: equi-join on
    //      coarse cells (neighbor cells exploded on ONE side only), exact
    //      band predicate after — never an all-pairs cross join
    //      (osm-road-graphs-fix.sql:91 is the anti-pattern)
    "q_j7_grid" -> ((s, dir) => {
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
    }),

    // ---- S2/S4 SQL surface: temp views + spark.sql text query
    "q_sql_surface" -> ((s, dir) => {
      customer(s, dir).createOrReplaceTempView("customer_v")
      orders(s, dir).createOrReplaceTempView("orders_v")
      s.sql("""SELECT c_mktsegment, count(*) AS cnt,
                      round(avg(o_totalprice), 2) AS avg_price
               FROM orders_v JOIN customer_v ON o_custkey = c_custkey
               GROUP BY c_mktsegment ORDER BY c_mktsegment""")
    }),

    // ---- blocked near-dup: word-set Jaccard within (lang, source)
    //      blocks — candidate generation is an equi-join on the block
    //      key, never an all-pairs cross join
    "q_d_jaccard_pairs" -> ((s, dir) => {
      // salted self-join: block sizes are data-dependent and unbounded
      // (one giant lang x source block would otherwise land on ONE
      // task). Left rows replicate R times, right rows carry
      // hash(id) % R; joining on (block, replica == salt) matches every
      // pair exactly once while capping per-task work at |block|^2/R.
      val R = 8
      val d = spreadDocs(s, dir).select(col("doc_id"), col("lang"), col("source"),
        array_distinct(split(col("text"), " ")).as("ws"))
      // candidate generation runs on SLIM rows (id + set size): the
      // salted 8x replication never duplicates the word arrays, and the
      // size-ratio prefilter — J(A,B) <= min/max set size, so failing
      // pairs can't reach 0.6 — prunes before the wide fetch.
      val slim = d.select(col("lang"), col("source"), col("doc_id"),
        size(col("ws")).as("n"))
      val a = slim.select(col("lang"), col("source"), col("doc_id").as("id_a"),
          col("n").as("na"))
        .withColumn("__rep", explode(typedlit((0 until R).toList)))
      val b = slim.select(col("lang"), col("source"), col("doc_id").as("id_b"),
          col("n").as("nb"))
        .withColumn("__rep", pmod(xxhash64(col("id_b")), lit(R)).cast("int"))
      val cand = a.join(b, Seq("lang", "source", "__rep"))
        .filter(col("id_a") < col("id_b"))
        .filter(least(col("na"), col("nb")).cast("double") >=
          greatest(col("na"), col("nb")) * 0.6)
        .select("id_a", "id_b")
      // wide word arrays join in only for surviving candidates.
      // |A ∪ B| = |A| + |B| - |A ∩ B| for distinct sets: one hash-set
      // build per pair instead of two (array_union would rebuild and
      // dedup a second array just to take its size).
      val wa = d.select(col("doc_id").as("id_a"), col("ws").as("wa"))
      val wb = d.select(col("doc_id").as("id_b"), col("ws").as("wb"))
      cand.join(wa, "id_a").join(wb, "id_b")
        .withColumn("__i", size(array_intersect(col("wa"), col("wb"))))
        .withColumn("jaccard",
          col("__i").cast("double") /
            (size(col("wa")) + size(col("wb")) - col("__i")))
        .filter(col("jaccard") >= 0.6)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
        .orderBy("id_a", "id_b")
    }),

    // ---- MinHash-LSH near-dup (banded candidates -> exact-Jaccard
    //      verify). md5-portable hash family -> the full pipeline is
    //      DuckDB-replicated in the oracle; recall properties in LlmSpec.
    "q_d_minhash_pairs" -> ((s, dir) => {
      llm.Dedup.minhashNearDups(spreadDocs(s, dir), "doc_id", col("text"),
          numPerm = 32, shingleK = 5, bands = 4, threshold = 0.4)
        .orderBy("id_a", "id_b")
    }),

    // ---- edit-distance near-dup: the SAME banded candidates, verified
    //      by exact Levenshtein instead of Jaccard — the character-level
    //      complement (catches in-place edits that barely move shingle
    //      sets). Threshold-form levenshtein abandons far pairs early;
    //      the O(len²) cost only ever touches O(candidates) pairs.
    "q_d_editdist_pairs" -> ((s, dir) => {
      val d = spreadDocs(s, dir)
      val sigs = llm.Dedup.minhashSignatures(d, "doc_id", col("text"),
        numPerm = 32, shingleK = 5)
      val cands = llm.Dedup.lshCandidatePairs(sigs, "doc_id",
        bands = 4, rowsPerBand = 8)
      llm.Dedup.verifyEditDistance(cands, d, "doc_id", col("text"),
          maxDist = 50)
        .orderBy("id_a", "id_b")
    }),

    // ---- the ACTIONABLE dedup: near-dup pairs -> connected-component
    //      clusters -> keep the min-id canonical per cluster. The full
    //      chain (shingles -> signatures -> bands -> verify -> cluster
    //      -> anti-join) is DuckDB-replicated via a recursive CTE.
    "q_d_neardup_keep" -> ((s, dir) => {
      val d = spreadDocs(s, dir)
      val pairs = llm.Dedup.minhashNearDups(d, "doc_id", col("text"),
        numPerm = 32, shingleK = 5, bands = 4, threshold = 0.4)
      llm.Dedup.keepCanonical(d, "doc_id", pairs)
        .groupBy("lang").agg(count(lit(1)).as("kept"))
        .orderBy("lang")
    }),

    // ---- SimHash near-dup (native SimhashAgg fingerprints; candidates
    //      via 2-of-(maxDist+2) composite-chunk pigeonhole keys so any
    //      <=maxDist pair shares two untouched chunks — linear buckets,
    //      DuckDB-replicated oracle via the portable 60-bit md5 hash)
    "q_d_simhash_pairs" -> ((s, dir) => {
      llm.Dedup.simhashNearDups(spreadDocs(s, dir), "doc_id", col("text"),
          maxDist = 6)
        .orderBy("id_a", "id_b")
    }),

    // ---- passage-level duplicate spans (Lee et al.): heavy-hitter
    //      8-grams join back onto their positions; touching flagged
    //      positions merge into maximal spans via a PER-DOC
    //      gaps-and-islands window — no doc-to-doc comparison anywhere
    "q_d_dup_passages" -> ((s, dir) => {
      llm.Dedup.duplicatePassages(spreadDocs(s, dir), "doc_id", col("text"),
          n = 8, minCount = 2)
        .orderBy("doc_id", "span_start")
    }),

    // ---- paragraph-level dedup with reassembly (CCNet/RefinedWeb):
    //      fixed 8-token chunks, globally-first occurrence survives,
    //      documents stitched back from surviving chunks — three keyed
    //      shuffles (winner hash-agg, composite-key join-back, per-doc
    //      regroup), no corpus-wide window
    "q_d_paragraph_dedup" -> ((s, dir) => {
      llm.Dedup.paragraphDedup(spreadDocs(s, dir), "doc_id", col("text"),
          chunkTokens = 8)
        .orderBy("doc_id")
    }),

    // ---- content-defined chunking dedup (the LBFS/FastCDC idea at
    //      token granularity): a chunk boundary opens at every token
    //      whose portable 31-bit md5 hash ≡ 0 (mod 8), so editing a
    //      document re-synchronizes chunk frames at the next boundary
    //      instead of shifting every later fixed-stride frame —
    //      same keep-globally-first rewrite core as paragraph dedup
    "q_d_cdc_dedup" -> ((s, dir) => {
      llm.Dedup.cdcChunkDedup(spreadDocs(s, dir), "doc_id", col("text"),
          avgTokens = 8)
        .orderBy("doc_id")
    }),

    // ---- EXACT substring dedup (Lee et al. 2022 ExactSubstr): every
    //      duplicated >=12-token span removed from all but its first
    //      occurrence, documents reassembled. The corpus is the real
    //      documents table PLUS planted near-copies (docs 0..19 re-keyed
    //      +100000 behind a 2-token prefix) — variable-length duplicated
    //      spans the oracle re-derives from the same construction.
    "q_d_substring_dedup" -> ((s, dir) => {
      val d = documents(s, dir).select(col("doc_id"), col("text"))
      val planted = d.unionByName(d.filter(col("doc_id") < 20)
        .select((col("doc_id") + 100000).as("doc_id"),
          concat(lit("planted prefix "), col("text")).as("text")))
        .repartition(s.sparkContext.defaultParallelism)
      llm.Dedup.substringDedup(planted, "doc_id", col("text"), k = 12)
        .orderBy("doc_id")
    }),

    // ---- language ID by stopword-profile scoring (deterministic formula,
    //      mirrored in the oracle)
    "q_t_language_id" -> ((s, dir) => {
      spreadDocs(s, dir)
        .select(col("doc_id"), llm.TextAnalysis.languageId(col("text")).as("pred_lang"))
        .orderBy("doc_id")
    }),

    // ---- BPE-ish subword pre-tokenizer (regexp_extract_all both sides)
    "q_t_bpe_tokens" -> ((s, dir) => {
      val toks = llm.TextAnalysis.bpeishTokens(col("text"))
      spreadDocs(s, dir)
        .select(col("doc_id"), size(toks).cast("long").as("n_bpe"),
          element_at(toks, 1).as("first_tok"),
          element_at(toks, -1).as("last_tok"))
        .orderBy("doc_id")
    }),

    // ---- TRAINED BPE (replaces the fixed heuristic of q_t_bpe_tokens
    //      for vocabulary prep): 8 merge rounds of adjacent-pair
    //      counting over the word-frequency table — one hash-agg
    //      shuffle per round (BpeSpec plan audit), vocabulary-sized
    //      loop state, the corpus scanned exactly once (wordCounts).
    //      DuckDB replays training: same overlap-counting pair stats,
    //      same (count DESC, l, r) tie-break, same greedy left-to-right
    //      rewrite (string replace over <>-fenced symbols).
    "q_t_bpe_trained" -> ((s, dir) => {
      import s.implicits._
      val merges = llm.Bpe.trainBpe(
        llm.Bpe.wordCounts(documents(s, dir), "text"), numMerges = 8)
      merges.zipWithIndex
        .map { case ((l, r), i) => (i, l, r) }
        .toDF("rank", "left_sym", "right_sym")
        .select(col("rank").cast("int").as("rank"),
          col("left_sym"), col("right_sym"))
        .orderBy("rank")
    }),

    // ---- retokenize with the TRAINED merges (Sennrich apply — rank
    //      order, one greedy pass per merge): per-doc token count and
    //      distinct-token count, vs the oracle's replayed final symbol
    //      table joined back through each doc's word counts.
    "q_t_bpe_apply" -> ((s, dir) => {
      val merges = llm.Bpe.trainBpe(
        llm.Bpe.wordCounts(documents(s, dir), "text"), numMerges = 8)
      llm.Bpe.applyBpe(
          documents(s, dir).filter(col("doc_id") < 20), "doc_id", "text",
          merges)
        .select(col("doc_id"),
          size(col("tokens")).cast("long").as("n_tokens"),
          size(array_distinct(col("tokens"))).cast("long").as("n_distinct"))
        .orderBy("doc_id")
    }),

    // ---- BYTE-LEVEL trained BPE (the GPT-2 tokenizer-training shape,
    //      VERDICT r17 item 8): regex pre-tokenization with the space
    //      prefix convention (Bpe.bytePretokens — the GPT-2 pattern
    //      family minus its lookahead clause so RE2/DuckDB replays it),
    //      initial symbols = UTF-8 bytes as 2-hex-digit strings (full
    //      byte fallback — hex-coding plays the byte-to-unicode role),
    //      then the SAME training loop as q_t_bpe_trained. The oracle
    //      replays pre-tokenization (same regex), byte symbolization
    //      (hex(encode(word))), and all 8 merge rounds.
    "q_t_bpe_bytelevel" -> ((s, dir) => {
      import s.implicits._
      val merges = llm.Bpe.trainBpeBytes(
        llm.Bpe.byteWordCounts(documents(s, dir), "text"), numMerges = 8)
      merges.zipWithIndex
        .map { case ((l, r), i) => (i, l, r) }
        .toDF("rank", "left_sym", "right_sym")
        .select(col("rank").cast("int").as("rank"),
          col("left_sym"), col("right_sym"))
        .orderBy("rank")
    }),

    // ---- retokenize with the trained BYTE-LEVEL merges (the apply
    //      half of the GPT-2 pair): same pre-token regex and hex byte
    //      symbols as training, merges in rank order, one greedy pass
    //      each — a pre-token seen at train time lands on its final
    //      train-time symbols, which is what the oracle's enc8 join
    //      replays.
    "q_t_bpe_byteapply" -> ((s, dir) => {
      val merges = llm.Bpe.trainBpeBytes(
        llm.Bpe.byteWordCounts(documents(s, dir), "text"), numMerges = 8)
      llm.Bpe.applyBpeBytes(
          documents(s, dir).filter(col("doc_id") < 20), "doc_id", "text",
          merges)
        .select(col("doc_id"),
          size(col("tokens")).cast("long").as("n_tokens"),
          size(array_distinct(col("tokens"))).cast("long").as("n_distinct"))
        .orderBy("doc_id")
    }),

    // ---- token-budget document chunking (pre-training sharding: one
    //      doc -> ordered <=40-token chunks, pure column-op explode)
    "q_t_chunks" -> ((s, dir) => {
      llm.TextAnalysis.chunkByTokens(spreadDocs(s, dir), "doc_id",
          col("text"), maxTokens = 40)
        .orderBy("doc_id", "chunk_id")
    }),

    // ---- quality features + composite score
    "q_t_quality" -> ((s, dir) => {
      val f = llm.TextAnalysis.qualityFeatures(col("text"))
      documents(s, dir)
        .select(col("doc_id"),
          f.getField("punct_ratio").as("punct_ratio"),
          f.getField("digit_ratio").as("digit_ratio"),
          f.getField("stopword_ratio").as("stopword_ratio"),
          llm.TextAnalysis.qualityScore(col("text")).as("score"))
        .orderBy("doc_id")
    }),

    // ---- distributed ridge-regression quality fit (normal equations):
    //      ONE moment aggregation over the corpus (map-side partials,
    //      O(d²) state — scales like count(*)), Cramer solve on the
    //      driver, coefficients broadcast back as literals for
    //      scan-local scoring. Integer-count features make every
    //      moment an exact integer (partition-order independent), and
    //      the solve/scoring expression trees are mirrored
    //      token-for-token in the oracle, so β and every ŷ match
    //      bit-for-bit across engines.
    "q_t_quality_fit" -> ((s, dir) => {
      val d = documents(s, dir)
      val chars = length(col("text")).cast("long")
      val toks = size(split(col("text"), " ")).cast("long")
      val vowels = (length(col("text")) -
        length(regexp_replace(col("text"), "[aeiou]", ""))).cast("long")
      val f = llm.Regression.fit2(d, chars, toks, vowels, lambda = 1.0)
      d.select(col("doc_id"), chars.as("chars"), toks.as("toks"),
          vowels.as("vowels"),
          round(llm.Regression.predict2(f, chars, toks), 4).as("yhat"),
          round(vowels.cast("double") -
            llm.Regression.predict2(f, chars, toks), 4).as("resid"))
        .orderBy("doc_id")
    }),

    // ---- Gopher-style named-rule filter: per-rule booleans so drop
    //      rates are auditable per rule; thresholds tuned so the corpus
    //      actually splits on len/stopwords/repetition (not all-true).
    //      Booleans are exact cross-engine: both sides compare the same
    //      integer-count divisions, no rounding tolerance needed.
    "q_t_gopher_filter" -> ((s, dir) => {
      llm.Curation.gopherFilter(documents(s, dir), "doc_id", col("text"),
          minTokens = 30, maxTokens = 10000, maxDupTokenFrac = 0.6)
        .orderBy("doc_id")
    }),

    // ---- temperature-scaled domain mixture weights (w ∝ share^alpha,
    //      normalized): one hash agg + two broadcast scalar aggs, never
    //      a window over the corpus
    "q_t_mixture_weights" -> ((s, dir) => {
      llm.Curation.mixtureWeights(documents(s, dir), "lang", alpha = 0.5)
        .orderBy("lang")
    }),

    // ---- corpus-wide top-20 bigrams by raw count (vocabulary stats):
    //      map-side partial agg shrinks the shuffle to the vocabulary;
    //      orderBy.limit plans as TakeOrderedAndProject, not a global
    //      sort (PlanAudit)
    "q_t_top_ngrams" -> ((s, dir) => {
      llm.TextAnalysis.topNgrams(spreadDocs(s, dir), col("text"), n = 2, k = 20)
    }),

    // ---- exact heavy hitters at unbounded cardinality (two-pass
    //      Misra-Gries): pass 1 folds each partition into a k-counter
    //      sketch (one O(k) summary crosses the wire, never the
    //      vocabulary); pass 2 recounts the <= k candidates exactly.
    //      Word bigrams: 916 distinct at sf0.01 vs k=700, so the
    //      sketch genuinely decrements/evicts and the no-miss bound
    //      (phi=0.0015 > 1/(k+1)) is what keeps the result exact
    "q_t_heavy_hitters" -> ((s, dir) => {
      val toks = spreadDocs(s, dir)
        .select(col("doc_id"),
          posexplode(filter(split(col("text"), " "), w => w =!= ""))
            .as(Seq("pos", "tok")))
      val w = Window.partitionBy("doc_id").orderBy("pos")
      val bigrams = toks
        .withColumn("nxt", lead("tok", 1).over(w))
        .filter(col("nxt").isNotNull)
        .select(concat_ws(" ", col("tok"), col("nxt")).as("item"))
      llm.HeavyHitters.heavyHitters(bigrams, col("item"), k = 700,
          phi = 0.0015)
        .orderBy("item")
    }),

    // ---- per-group exact heavy hitters (the per-language boilerplate
    //      detector): one Misra-Gries sketch per lang (state O(langs*k),
    //      the bigram vocabulary still never shuffles un-sketched),
    //      exact recount of the <= langs*k candidates, threshold
    //      against each group's OWN total
    "q_t_heavy_hitters_grp" -> ((s, dir) => {
      val toks = spreadDocs(s, dir)
        .select(col("doc_id"), col("lang"),
          posexplode(filter(split(col("text"), " "), w => w =!= ""))
            .as(Seq("pos", "tok")))
      val w = Window.partitionBy("doc_id").orderBy("pos")
      val bigrams = toks
        .withColumn("nxt", lead("tok", 1).over(w))
        .filter(col("nxt").isNotNull)
        .select(col("lang"),
          concat_ws(" ", col("tok"), col("nxt")).as("item"))
      llm.HeavyHitters.heavyHittersByGroup(bigrams, col("lang"),
          col("item"), k = 400, phi = 0.0025)
        .orderBy("grp", "item")
    }),

    // ---- Unicode NFC normalization (native codegen'd expression): the
    //      pre-dedup canonicalization pass — composed vs decomposed
    //      "café" is the same text but a different md5/shingle/minhash.
    //      The corpus is ASCII (NFC-stable), so a shared decomposed
    //      probe suffix is appended on BOTH sides to force real
    //      composition work through both engines' normalizers
    "q_t_nfc" -> ((s, dir) => {
      val raw = concat(substring(col("text"), 1, 8), lit(NfcProbeSuffix))
      val norm = call_function("nfc_normalize", raw)
      documents(s, dir)
        .select(col("doc_id"),
          length(raw).cast("long").as("raw_chars"),
          length(norm).cast("long").as("nfc_chars"),
          md5(norm).as("nfc_md5"))
        .orderBy("doc_id")
    }),

    // ---- deterministic stratified sampling + split assignment: the
    //      md5-coin decisions are reproducible across engines, reruns
    //      and partitionings (rand() is none of those) — verified
    //      bit-for-bit by the DuckDB oracle computing the same coins
    "q_t_hash_sample" -> ((s, dir) => {
      val sampled = llm.Curation.sampleByHash(documents(s, dir),
        col("doc_id"), col("lang"),
        Map("en" -> 0.5, "de" -> 0.25, "zh" -> 1.0), defaultRate = 0.1)
      sampled
        .withColumn("split", llm.Curation.splitAssign(col("doc_id")))
        .groupBy("lang", "split").agg(count(lit(1)).as("cnt"))
        .orderBy("lang", "split")
    }),

    // ---- top TF-IDF term per doc (two hash aggs on the doc-term axis,
    //      broadcast df join-back, scalar-agg corpus size — no OVER ())
    "q_t_tfidf" -> ((s, dir) => {
      llm.TextAnalysis.tfidfTopTerms(spreadDocs(s, dir), "doc_id",
          col("text"), k = 1)
        .orderBy("doc_id")
    }),

    // ---- fixed-size deterministic per-stratum sample: the 10 smallest
    //      md5 coins per lang — reservoir sampling's reproducible twin
    "q_t_stratified_fixed" -> ((s, dir) => {
      llm.Curation.sampleFixedPerStratum(documents(s, dir),
          col("doc_id"), col("lang"), n = 10)
        .select("doc_id", "lang", "source")
        .orderBy("lang", "doc_id")
    }),

    // ---- benchmark decontamination: every doc sharing any word 8-gram
    //      with the benchmark subset (doc_id % 97 == 0) is dropped;
    //      broadcast semi-join of the tiny gram set, anti-join back
    // ---- fastText-style quality classifier: hashed 1..2-gram features
    //      (portable md5 buckets), batch-GD logistic regression, every
    //      doc scored — the CCNet filter shape. Label = "mentions
    //      spark" (the one text-DERIVED signal the synthetic corpus
    //      carries; its `lang` column is vocabulary-independent noise,
    //      which a classifier correctly refuses to learn — spec-gated
    //      non-vacuous: accuracy must beat the class prior). The
    //      oracle replays features + all 24 gradient rounds + scoring
    //      in doubles, round(5) absorbing exp() ulps.
    "q_t_quality_model" -> ((s, dir) => {
      val d = spreadDocs(s, dir)
      // checkpoint the featurization: it feeds the fit AND two branches
      // of the scoring plan (features + the intercept's distinct-ids) —
      // uncheckpointed, the explode+md5+agg pass ran 3x per query
      val feats = llm.Regression.hashedNgramFeatures(
        d, "doc_id", col("text"), dim = 1024, binary = true)
        .localCheckpoint(true)
      val labels = d.select(col("doc_id"),
        array_contains(llm.TextAnalysis.tokens(col("text")), "spark")
          .cast("int").as("y"))
      val w = llm.Regression.fitLogistic(feats, "doc_id", labels, "y",
        iters = 24, lr = 8.0)
      llm.Regression.predictLogistic(feats, "doc_id", w)
        .select(col("doc_id"), round(col("p"), 5).as("p_pos"),
          (round(col("p"), 5) > 0.5).as("pred_pos"))
        .orderBy("doc_id")
    }),

    // ---- the batch curation pipeline END-TO-END: gopher quality gate →
    //      language ID → exact dedup (min doc_id per content hash) →
    //      benchmark decontamination → per-language stratified sampling
    //      + split assignment — every stage a previously-oracled
    //      operator, composed here so the CROSS-STAGE dataflow is also
    //      value-checked (the oracle replays the whole chain). Scale
    //      shape: union of the stages' own shapes — scan-local filters,
    //      one hash-agg, two semi/anti joins, no window, no collect.
    "q_t_pipeline" -> ((s, dir) => {
      val d = spreadDocs(s, dir)
      // scan-local gopher gate (same survivors as the audit-table
      // join-back — doc_id is unique — minus one scan of d and a join)
      val passing = d.filter(llm.Curation.gopherPass(col("text"),
        minTokens = 30, maxTokens = 10000, maxDupTokenFrac = 0.6))
      val lang = passing.withColumn("pred_lang",
        llm.TextAnalysis.languageId(col("text")))
      val keepers = llm.Dedup.exactDedup(lang, "doc_id", md5(col("text")))
        .select(col("keeper").as("doc_id"))
      val deduped = lang.join(keepers, Seq("doc_id"))
      val benchmark = d.filter(col("doc_id") % 97 === 0)
      val cleaned = llm.Curation.decontaminate(deduped, benchmark,
        "doc_id", col("text"), n = 8)
      val sampled = llm.Curation.sampleByHash(cleaned, col("doc_id"),
        col("pred_lang"), Map("en" -> 0.7, "und" -> 0.3),
        defaultRate = 0.5)
      // split coin SALTED away from the sampling coin: with the same
      // key both decisions correlate (every sampling survivor has
      // coin < 0.7, so split would read 'train' for all of them)
      sampled.select(col("doc_id"), col("pred_lang"),
          llm.Curation.splitAssign(
            concat(col("doc_id").cast("string"), lit(":split")))
            .as("split"))
        .orderBy("doc_id")
    }),

    "q_t_decontam" -> ((s, dir) => {
      val d = spreadDocs(s, dir)
      val benchmark = d.filter(col("doc_id") % 97 === 0)
      llm.Curation.decontaminate(d, benchmark, "doc_id", col("text"), n = 8)
        .groupBy("lang").agg(count(lit(1)).as("kept"))
        .orderBy("lang")
    }),

    // ---- Bloom-prefiltered decontamination: same fixture and SAME
    //      oracle as q_t_decontam — the bloom is a scan-local
    //      prefilter whose false positives die in the exact verify
    //      join, so the result is bit-identical by construction; what
    //      changes is the scale path (bench grams shipped as a
    //      ~14-bit/gram filter instead of a broadcast string relation)
    "q_t_decontam_bloom" -> ((s, dir) => {
      val d = spreadDocs(s, dir)
      val benchmark = d.filter(col("doc_id") % 97 === 0)
      llm.Curation.decontaminateBloom(d, benchmark, "doc_id", col("text"),
          n = 8)
        .groupBy("lang").agg(count(lit(1)).as("kept"))
        .orderBy("lang")
    }),

    // ---- Thresholded (fractional-overlap) decontamination: the
    //      benchmark is a 20-word PREFIX EXCERPT of every 97th doc, so
    //      each source doc shares exactly 13 of its distinct 8-grams
    //      and the overlap FRACTION varies with doc length (measured
    //      0.19..0.81 at sf0.01). maxOverlapFrac = 0.4 splits them —
    //      short heavy-overlap docs drop, long light-overlap docs
    //      survive — which is precisely the over-dropping the binary
    //      any-gram rule can't avoid
    "q_t_decontam_overlap" -> ((s, dir) => {
      val d = spreadDocs(s, dir)
      val benchmark = d.filter(col("doc_id") % 97 === 0)
        .select(col("doc_id"),
          array_join(slice(split(col("text"), " "), 1, 20), " ").as("text"))
      llm.Curation.decontaminateOverlap(d, benchmark, "doc_id", col("text"),
          n = 8, maxOverlapFrac = 0.4)
        .groupBy("lang").agg(count(lit(1)).as("kept"))
        .orderBy("lang")
    }),

    // ---- URL canonicalization (C4-style web hygiene): a maximally
    //      messy deterministic URL per doc (mixed case, www, default
    //      port, utm params, trailing slash, fragment) through the
    //      RE2-safe regexp fold; the oracle replays the identical
    //      rewrites in DuckDB, string-exact
    "q_t_url_normalize" -> ((s, dir) => {
      val url = concat(lit("HTTPS://WWW."), upper(col("source")),
        lit(".Example.COM:443/Docs/"), col("doc_id"),
        lit("/?utm_source=feed&utm_campaign=a1&id="), col("doc_id"),
        lit("#sec2"))
      val norm = llm.Curation.normalizeUrl(url)
      documents(s, dir).select(col("doc_id"), norm.as("url_norm"),
          llm.Curation.registeredDomain(norm).as("domain"))
        .orderBy("doc_id")
    }),

    // ---- URL-keyed dedup: docs 0..249 carry the clean URL form,
    //      250..499 the messy twin of the SAME page (www + port +
    //      trailing slash); only canonicalization makes them collide.
    //      Survivor per key = longest text, tie → smallest id. The
    //      oracle derives the canonical key independently (it knows
    //      both forms normalize to the clean one) — different
    //      formulation, same rows
    "q_t_url_dedup" -> ((s, dir) => {
      val cls = col("doc_id") % 250
      val url = concat(
        when(col("doc_id") < 250, lit("https://example.com/p/"))
          .otherwise(lit("HTTPS://WWW.EXAMPLE.COM:443/p/")),
        cls,
        when(col("doc_id") < 250, lit("")).otherwise(lit("/")))
      llm.Curation.dedupByUrl(documents(s, dir), url,
          Seq(col("n_chars").desc, col("doc_id")))
        .select("doc_id", "n_chars")
        .orderBy("doc_id")
    }),

    // ---- domain blocklist filter: per-doc host www.<source>.net →
    //      registered domain <source>.net; a 3-domain blocklist
    //      broadcast anti-joins the corpus (UT1-style blocklists are
    //      corpus-independent, so the broadcast is a contract like
    //      decontaminate's). Blocked sources vanish from the rollup
    "q_t_domain_filter" -> ((s, dir) => {
      import s.implicits._
      val url = concat(lit("https://WWW."), col("source"), lit(".net/a/"),
        col("doc_id"))
      val block = Seq("src3.net", "src7.net", "src15.net").toDF("domain")
      llm.Curation.domainBlocklistFilter(documents(s, dir), url, block)
        .groupBy("source").agg(count(lit(1)).as("kept"))
        .orderBy("source")
    }),

    // ---- CCNet-style corpus-LM quality score: add-k bigram model fit
    //      on the corpus itself (two vocabulary-sized hash aggs from
    //      ONE gram explode), each doc scored by mean bigram ln-prob.
    //      Only the final mean is float → round(4) is the whole
    //      cross-engine tolerance story
    "q_t_lm_score" -> ((s, dir) => {
      llm.TextAnalysis.ngramLmScore(spreadDocs(s, dir), "doc_id",
          col("text"), k = 0.5)
        .orderBy("doc_id")
    }),

    // ---- within-doc repetition (Gopher-style boilerplate filter):
    //      one-pass native RepetitionStats expression — scan-local, NOT
    //      an explode+groupBy (which would shuffle the whole corpus on
    //      (doc, bigram) at 100 TB); the struct is materialized in its
    //      own projection so it is computed ONCE per row (CollapseProject
    //      won't inline a non-cheap alias referenced twice); the oracle
    //      computes the same numbers relationally
    "q_t_repetition" -> ((s, dir) => {
      documents(s, dir)
        .withColumn("__f", llm.TextAnalysis.repetitionFeatures(col("text")))
        .select(col("doc_id"),
          col("__f").getField("dup_token_frac").as("dup_token_frac"),
          col("__f").getField("top_bigram_frac").as("top_bigram_frac"))
        .orderBy("doc_id")
    }),

    // ---- PII redaction + audit counts over a deterministically
    //      enriched column (the synthetic corpus has no PII, so both
    //      engines splice identical email/IP/phone strings in before
    //      the regexes run — the counts are then provably non-zero)
    "q_t_pii" -> ((s, dir) => {
      val enriched = concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com via 10.0."),
        pmod(col("doc_id"), lit(256)).cast("string"),
        lit(".7 tel 555-"),
        lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"))
      val counts = llm.Curation.piiCounts(enriched)
      documents(s, dir)
        .select(col("doc_id"),
          counts.getField("n_email").as("n_email"),
          counts.getField("n_ipv4").as("n_ipv4"),
          counts.getField("n_phone").as("n_phone"),
          llm.Curation.redactPii(enriched).as("redacted"))
        .orderBy("doc_id")
    }),

    // ---- GPT-style sequence packing: global token offsets without a
    //      global window — per-block running sums + a tiny block-prefix
    //      relation broadcast back (no single-partition stage over the
    //      corpus); the oracle IS the global window, proving the
    //      block-decomposed form computes identical offsets
    "q_t_packing" -> ((s, dir) => {
      val d = spreadDocs(s, dir)
      llm.Curation.packSequences(d, "doc_id",
          llm.TextAnalysis.tokenCount(col("text")), seqLen = 512,
          blockSize = 64L)
        .orderBy("doc_id")
    }),

    // ---- per-slice packing manifest: the (seq, doc, doc_off, seq_off,
    //      len) rows a sample writer consumes; slice algebra is
    //      scan-local on top of q_t_packing's block-decomposed offsets
    //      (zero added shuffles), and the oracle re-derives every slice
    //      from the textbook global window
    "q_t_pack_slices" -> ((s, dir) => {
      val d = spreadDocs(s, dir)
      llm.Curation.packSlices(d, "doc_id",
          llm.TextAnalysis.tokenCount(col("text")), seqLen = 512,
          blockSize = 64L)
        .orderBy("seq_id", "seq_off")
    }),

    // ---- no-split bin packing (fine-tuning shape): whole documents
    //      into capacity-512 bins, next-fit in id order inside
    //      deterministic 64-doc blocks — one keyed shuffle + a
    //      codegen'd aggregate fold per block; the oracle replays the
    //      identical walk as a rank-stepped recursive CTE
    "q_t_pack_bins" -> ((s, dir) => {
      val d = spreadDocs(s, dir)
      llm.Curation.packBinsNextFit(d, "doc_id",
          llm.TextAnalysis.tokenCount(col("text")), seqLen = 512,
          blockSize = 64L)
        .orderBy("doc_id")
    }),

    // ---- histogram-driven BFD packing (the Graphcore sequence-packing
    //      shape): solve once on the <=512-row length histogram, place
    //      every doc by decomposed-rank arithmetic + one broadcast
    //      strategy join. Assignment is solver-dependent, so the gate
    //      is literal-truth (q_s_pca policy): every invariant of a
    //      correct packing must hold — coverage, capacity, oversize
    //      isolation, and beating the blockwise next-fit (59 vs 61
    //      bins at sf0.01, token lower bound 54; the 11/9 proxy bound
    //      is fixture-witnessed with 8 bins of headroom)
    "q_t_pack_bfd" -> ((s, dir) => {
      val d = spreadDocs(s, dir)
      val nTok = llm.TextAnalysis.tokenCount(col("text"))
      val dpos = d.filter(nTok >= 1)
      val asg = llm.Curation.packBinsHistogram(d, "doc_id", nTok,
        seqLen = 512, blockSize = 64L)
      val nf = llm.Curation.packBinsNextFit(dpos, "doc_id", nTok,
        seqLen = 512, blockSize = 64L)
      val docsAgg = dpos.agg(
        count(lit(1)).as("n_docs"),
        sum(when(nTok > 512, 1L).otherwise(0L)).as("n_oversize"),
        sum(nTok).as("total_tokens"))
      val binsAgg = asg
        .groupBy("bin_id").agg(sum("n_tokens").as("fill"),
          count(lit(1)).as("ndoc"), max("n_tokens").as("mx"))
        .agg(count(lit(1)).as("bins_used"),
          sum(when(col("fill") > 512 && col("ndoc") > 1, 1L)
            .otherwise(0L)).as("bad_bins"),
          sum(when(col("mx") > 512, 1L).otherwise(0L)).as("over_bins"),
          sum(when(col("mx") > 512 && col("ndoc") > 1, 1L)
            .otherwise(0L)).as("shared_over"),
          sum(when(col("mx") <= 512, col("fill")).otherwise(0L))
            .as("tok_normal"))
      val asgAgg = asg.agg(count(lit(1)).as("n_asg"),
        countDistinct("doc_id").as("n_asg_docs"))
      val nfAgg = nf.agg(countDistinct("bin_id").as("nf_bins"))
      docsAgg.crossJoin(binsAgg).crossJoin(asgAgg).crossJoin(nfAgg)
        .select(col("n_docs"), col("n_oversize"), col("total_tokens"),
          (col("n_asg") === col("n_docs") &&
            col("n_asg_docs") === col("n_docs")).as("ok_coverage"),
          (col("bad_bins") === 0L).as("ok_capacity"),
          (col("over_bins") === col("n_oversize") &&
            col("shared_over") === 0L).as("ok_oversize_isolated"),
          (col("bins_used") <= col("nf_bins")).as("ok_beats_nextfit"),
          ((col("bins_used") - col("over_bins")).cast("double") <=
            ceil(col("tok_normal") / lit(512.0) * lit(11.0 / 9.0)) + 1.0)
            .as("ok_bfd_bound"))
    }),

    // ---- distributed PCA over the embedding corpus: ONE moment pass
    //      (count + vector_sum(outer_upper(x)) — native codegen'd
    //      per-row moments, O(d²) agg state, map-side partials), cyclic
    //      Jacobi on the driver, MatVec projection. Distributed float
    //      sums are partition-order dependent in the last bits, so the
    //      gate checks INVARIANTS the true decomposition must satisfy
    //      (unit columns, orthogonality, descending nonnegative
    //      eigenvalues, and the residual identity mse == totalVar −
    //      Σλ, which fails if either the eigensolve or the projection
    //      is wrong) — same policy as the Lloyd IVF recall gate.
    "q_s_pca" -> ((s, dir) => {
      import s.implicits._
      val emb = spreadEmb(s, dir)
      val model = llm.Pca.fit(emb, col("embedding"), k = 4)
      val mse = llm.Pca.reconstructionMse(emb, col("embedding"), model)
      def dot(a: Array[Double], b: Array[Double]) =
        a.zip(b).map(p => p._1 * p._2).sum
      val cs = model.components
      val rows = cs.indices.map { i =>
        val unit = math.abs(dot(cs(i), cs(i)) - 1.0) < 1e-9
        val orth = cs.indices.filter(_ != i)
          .map(j => math.abs(dot(cs(i), cs(j)))).forall(_ < 1e-9)
        val desc = i == 0 ||
          model.eigenvalues(i) <= model.eigenvalues(i - 1) + 1e-12
        val nonneg = model.eigenvalues(i) >= -1e-12
        val recon =
          math.abs(mse - (model.totalVar - model.eigenvalues.sum)) < 1e-6
        (i.toLong, unit, orth, desc, nonneg, recon)
      }
      rows.toDF("comp_id", "ok_unit", "ok_orth", "ok_desc",
        "ok_nonneg", "ok_recon").orderBy("comp_id")
    }),

    // ---- int8 embedding quantization: scale = max|x|/127, codes
    //      round(x/scale) — 4x storage cut ahead of ANN; integer code
    //      stats keep the oracle comparison exact; withInt8 keeps the
    //      scale fold in its own projection (O(dim) per row, not
    //      O(dim²) from re-folding inside the codes lambda)
    "q_s_quantize" -> ((s, dir) => {
      llm.Similarity.withInt8(embeddings(s, dir), col("embedding"),
          "__s", "__c")
        .select(col("vec_id"), round(col("__s"), 6).as("scale"), col("__c"))
        .select(col("vec_id"), col("scale"),
          aggregate(col("__c"), lit(0L), (a, x) => a + x).as("code_sum"),
          array_min(col("__c")).as("code_min"),
          array_max(col("__c")).as("code_max"))
        .orderBy("vec_id")
    }),

    // ---- brute-force cosine top-k (exact ANN baseline; driver-collected
    //      query vector spliced as a literal)
    "q_s_cosine_topk" -> ((s, dir) => {
      val e = spreadEmb(s, dir)
      val q = e.filter(col("vec_id") === 0).select("embedding")
        .head().getSeq[Float](0)
      llm.Similarity.bruteForceTopK(e, "vec_id", "embedding", q, 10)
        .select(col("vec_id"), round(col("cos"), 6).as("cos"))
        .orderBy(col("cos").desc, col("vec_id"))
    }),

    // ---- int8-domain search (the query half of q_s_quantize): scoring
    //      runs on the codes alone — scales cancel in cosine, so no
    //      dequantize, 4x less scan bandwidth — and integer dots are
    //      exact, so the ranking gets a FULL value oracle, not a recall
    //      gate
    "q_s_int8_topk" -> ((s, dir) => {
      val e = spreadEmb(s, dir)
      val queries = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding"))
      llm.Similarity.int8TopKPerQuery(e, queries, "vec_id", "embedding",
          "query_id", k = 5)
        .select(col("query_id"), col("vec_id"),
          round(col("cos_i8"), 6).as("cos_i8"))
        .orderBy(col("query_id"), col("cos_i8").desc, col("vec_id"))
    }),

    // ---- LSH-bucketed ANN (scale path). The seeded hyperplanes are
    //      spliced into the DuckDB oracle as literals, so the whole
    //      bucket->join->rescore->rank pipeline is independently checked
    "q_s_ann_lsh" -> ((s, dir) => {
      val e = spreadEmb(s, dir)
      val queries = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding"))
      llm.Similarity.annTopKPerQuery(e, queries, "vec_id", "embedding",
          "query_id", k = 5, numBits = 6)
        .select(col("query_id"), col("vec_id"), round(col("cos"), 6).as("cos"))
        .orderBy(col("query_id"), col("cos").desc, col("vec_id"))
    }),

    // ---- embedding-cosine near-dup (OR-amplified LSH self-join + exact
    //      verify). Oracle is the exact brute force: sound because the
    //      amplification is sized for THIS threshold — at cos 0.9 the
    //      per-plane agreement is p = 1-acos(0.9)/pi ~= 0.856, and the
    //      16x12 default only reaches ~93% recall here. Of the two ways
    //      to buy recall back, MORE TABLES at full width beats FEWER
    //      BITS: 32x12 gives 1-(1-p^12)^32 ~= 99.6% with candidate mass
    //      n^2 * 32/2^12, 8x cheaper than 16x8's n^2 * 16/2^8 at equal
    //      recall (candidate verify dominates; the extra matvec width is
    //      codegen'd and trivial). False positives are impossible
    //      (exact rescore).
    // ---- SemDeDup: near-dup pairs restricted to k-means cluster
    //      co-membership (fixed init centroids so DuckDB reproduces the
    //      partition; the Lloyd-refined variant is spec-tested).
    //      Threshold 0.45 sits in the data's real pair regime (max
    //      pair cosine in the synthetic embeddings is ~0.51, nearest
    //      off-threshold gap > 1e-3) — the row is NON-vacuous, unlike
    //      a 0.9 threshold on this corpus.
    "q_d_semantic_pairs" -> ((s, dir) => {
      val e = spreadEmb(s, dir)
      val cents = llm.Similarity.initCentroids(e, "vec_id", "embedding",
        nlist = 8)
      llm.Dedup.semanticDupPairs(e, "vec_id", "embedding", cents,
          threshold = 0.45)
        .orderBy("cluster", "id_a", "id_b")
    }),

    "q_d_embedding_pairs" -> ((s, dir) => {
      val e = spreadEmb(s, dir)
      // planted exact duplicates: ids <8 re-keyed +100000 and scaled by
      // 2.0f — a power-of-two scaling is exact in float and flips no
      // LSH projection sign, so recall of the planted pairs is
      // GUARANTEED (same buckets in every table) and cosine is exactly
      // 1.0 on both engines. Without them this row was green-on-empty:
      // no natural pair in the synthetic corpus clears 0.9.
      val planted = e.select(col("vec_id"), col("embedding"))
        .unionByName(e.filter(col("vec_id") < 8)
          .select((col("vec_id") + 100000L).as("vec_id"),
            transform(col("embedding"), x => (x * lit(2.0f)).cast("float"))
              .as("embedding")))
      llm.Dedup.embeddingNearDups(planted, "vec_id", "embedding",
          threshold = 0.9, numBits = 12, numTables = 32)
        .orderBy("id_a", "id_b")
    }),

    // ---- IVF-style ANN with Lloyd-trained centroids, gated by RECALL
    //      against the exact brute force (r5/r6 verdict: the raw top-k
    //      can't be oracled — Lloyd centroids are partition-order float
    //      sums — so the correctness row is the quality contract
    //      instead: every query's recall@5 must clear 0.95, i.e. with
    //      k=5 the IVF answer must BE the exact answer per query. The
    //      output is only (query_id, recall_ok) against a literal
    //      VALUES oracle — no nondeterministic column escapes — and
    //      LlmSpec "IVF recall" pins the exact per-query recall on the
    //      fixed sf0.001 corpus. nprobe=12 (not 4) is what buys recall
    //      1.0 here: a recall sweep at sf0.01 measured nprobe=4 → two
    //      queries at 0.8, nprobe=8/10 → one at 0.8, nprobe=12 → all
    //      1.0. Probing 12/16 lists prunes little on THIS corpus —
    //      synthetic near-isotropic random vectors have no cluster
    //      structure, so true neighbors scatter across cells; on real
    //      embedding corpora (which cluster heavily) the same operator
    //      hits high recall at nprobe ~= nlist/8. The dial is the
    //      user's; the gate pins this config's quality.
    "q_s_ivf_ann" -> ((s, dir) => {
      val e = spreadEmb(s, dir)
      val queries = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val ann = llm.Similarity.ivfTopKPerQuery(e, queries, "vec_id",
        "embedding", "query_id", k = 5, nlist = 16, nprobe = 12)
      val exact = llm.Similarity.topKPerQuery(e, queries, "vec_id",
        "embedding", "query_id", k = 5)
      llm.Similarity.recallAtK(ann, exact, "query_id", "vec_id")
        .select(col("query_id"), (col("recall") >= 0.95).as("recall_ok"))
        .orderBy("query_id")
    }),

    // ---- two-stage retrieval: PCA candidate generation + exact
    //      rescore (the production compressed-index shape — scan the
    //      16-dim projection, fetch full vectors only for candidates).
    //      Gated by recall like the Lloyd IVF row: PCA components are
    //      partition-order float sums, so the quality contract is the
    //      oracle. Measured on this corpus: 16 dims + candK 50 leaves
    //      recall 0.6 on two queries — near-isotropic random vectors
    //      are the worst case for projection pruning (no variance to
    //      concentrate); 32/64 dims + candK 100 measures recall 1.0
    //      with a full notch of margin (1.0 already at candK 75).
    //      Real embedding corpora concentrate variance and prune far
    //      harder at far smaller dims.
    "q_s_pca_ann" -> ((s, dir) => {
      val e = spreadEmb(s, dir)
      val model = llm.Pca.fit(e, col("embedding"), k = 32)
      val red = e.select(col("vec_id"),
        llm.Pca.project(col("embedding"), model).as("pv"))
      val queries = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val redQ = red.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("pv"))
      val ann = llm.Similarity.rescoreTopKPerQuery(e, red, queries, redQ,
        "vec_id", "embedding", "pv", "query_id", k = 5, candK = 100)
      // session-memoized ground truth (cosine metric, so not the L2
      // helper — same memo policy)
      val exact = llm.Similarity.memoizedGroundTruth(
        s"$dir|raw5|cos|5", s)(
        llm.Similarity.topKPerQuery(e, queries, "vec_id",
          "embedding", "query_id", k = 5))
      llm.Similarity.recallAtK(ann, exact, "query_id", "vec_id")
        .select(col("query_id"), (col("recall") >= 0.95).as("recall_ok"))
        .orderBy("query_id")
    }),

    // ---- IVF with the FIXED deterministic quantizer (first-nlist
    //      centroids, no Lloyd refinement): same search machinery as
    //      q_s_ivf_ann but reproducible by an independent SQL oracle —
    //      centroid scoring, nprobe pruning, rescore and ranking all
    //      recomputed in DuckDB.
    "q_s_ivf_fixed" -> ((s, dir) => {
      val e = spreadEmb(s, dir)
      val queries = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val cents = llm.Similarity.initCentroids(e, "vec_id", "embedding", 16)
      llm.Similarity.ivfTopKWithCentroids(e, queries, "vec_id", "embedding",
          "query_id", k = 5, cents, nprobe = 4)
        .select(col("query_id"), col("vec_id"), round(col("cos"), 6).as("cos"))
        .orderBy(col("query_id"), col("cos").desc, col("vec_id"))
    }),

    // ---- product-quantization ADC search (the IVF-PQ index family's
    //      scoring half): fixed per-subspace codebooks from the first
    //      16 vectors (oracle-rebuildable), corpus scanned as 8 codes
    //      per vector, per-query m×k distance table broadcast, each
    //      candidate scored by 8 table lookups. DuckDB re-derives
    //      codebooks, codes, and exact ADC distances.
    "q_s_pq_adc" -> ((s, dir) => {
      val e = spreadEmb(s, dir)
      val queries = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val cb = llm.Similarity.pqCodebooksFixed(e, "vec_id", "embedding",
        m = 8, k = 16)
      llm.Similarity.pqAdcTopK(e, queries, "vec_id", "embedding",
          "query_id", k = 10, cb)
        .select(col("query_id"), col("vec_id"), round(col("adc"), 6).as("adc"))
        .orderBy("query_id", "vec_id")
    }),

    // ---- PQ under Lloyd-TRAINED codebooks in the production shape:
    //      ADC candidate generation (candK=100) + exact L2 rescore of
    //      candidates only, gated on recall@10 vs the full exact
    //      search (the q_s_ivf_ann/q_s_pca_ann policy — trained
    //      centroids are partition-order float sums, so recall is the
    //      sound cross-engine contract). Measured on this corpus:
    //      raw ADC top-10 is 0.3-0.4 (isotropic random vectors are
    //      PQ's worst case — the PCA row documents the same), 4-bit
    //      codebooks plateau at 0.9 even at candK 200, and 6-bit
    //      codebooks (k=64, L2-Lloyd-trained) + candK 150 measure
    //      recall 1.0 on every query — a 3.3x prune with a full notch
    //      of margin over the 0.9 gate (candK 100 left one query at
    //      0.8).
    "q_s_pq_recall" -> ((s, dir) => {
      // decode-once (the r21 pattern, guide §1.2/§5): the corpus frame
      // feeds Lloyd training, the ADC scan, the exact-rescore join and
      // the ground-truth arm — materialize the spread ONCE instead of
      // re-paying the parquet read + repartition per consumer
      val e = spreadEmb(s, dir).localCheckpoint(true)
      val queries = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val cb = llm.Similarity.pqCodebooksLloyd(e, "vec_id", "embedding",
        m = 8, k = 64, iters = 2, trainMaxRows = trainCap)
      val cand = llm.Similarity.pqAdcTopK(e, queries, "vec_id", "embedding",
        "query_id", k = 150, cb).select(col("query_id"), col("vec_id"))
      val q2 = queries.select(col("query_id"), col("embedding").as("__qv"))
      def l2TopK(pairs: org.apache.spark.sql.DataFrame, k: Int) = pairs
        .join(e.select(col("vec_id"), col("embedding")), "vec_id")
        .join(broadcast(q2), "query_id")
        .withColumn("__l2",
          llm.Similarity.dot(col("embedding"), col("embedding"))
            - llm.Similarity.dot(col("embedding"), col("__qv")) * 2
            + llm.Similarity.dot(col("__qv"), col("__qv")))
        .withColumn("__rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("query_id")
            .orderBy(col("__l2").asc, col("vec_id"))))
        .filter(col("__rn") <= k)
        .select(col("query_id"), col("vec_id"))
      val ann = l2TopK(cand, 10)
      // session-memoized ground truth, SHARED with q_s_ivfpq_resid_recall
      // (same raw fixture, same 5-query panel, same k)
      val exact = llm.Similarity.exactL2TopKCached(s"$dir|raw5",
        e, queries, "vec_id", "embedding", "query_id", k = 10)
      llm.Similarity.recallAtK(ann, exact, "query_id", "vec_id")
        .select(col("query_id"), (col("recall") >= 0.9).as("recall_ok"))
        .orderBy("query_id")
    }),

    // ---- full IVF-PQ: coarse-cell prune (fixed centroids, nprobe=4)
    //      then ADC scoring over codes — the deterministic compose of
    //      q_s_ivf_fixed and q_s_pq_adc, value-checked end-to-end.
    "q_s_ivfpq" -> ((s, dir) => {
      val e = spreadEmb(s, dir)
      val queries = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val cents = llm.Similarity.initCentroids(e, "vec_id", "embedding", 16)
      val cb = llm.Similarity.pqCodebooksFixed(e, "vec_id", "embedding",
        m = 8, k = 16)
      llm.Similarity.ivfPqTopK(e, queries, "vec_id", "embedding",
          "query_id", k = 10, cents, nprobe = 4, cb)
        .select(col("query_id"), col("vec_id"), round(col("adc"), 6).as("adc"))
        .orderBy("query_id", "vec_id")
    }),

    // ---- residual-encoding IVF-PQ (FAISS IndexIVFPQ layout): PQ codes
    //      cover the residual to the assigned coarse cell, and each
    //      query probe re-centers into that cell's frame before building
    //      its ADC table. Fixed first-16 quantizers (coarse AND product)
    //      keep the whole path value-exact: DuckDB re-derives centroids,
    //      assignments, residuals, residual codebooks, codes, and ADC.
    "q_s_ivfpq_residual" -> ((s, dir) => {
      val e = spreadEmb(s, dir)
      val queries = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val cents = llm.Similarity.initCentroids(e, "vec_id", "embedding", 16)
      // codebook seeds from ids 16..31, NOT 0..15: the first 16 vectors
      // ARE the coarse centroids, so their residuals are all zero and
      // would make every codebook entry the zero vector (degenerate
      // all-zero ADC). The next 16 ids give nontrivial codes.
      val cb = llm.Similarity.pqCodebooksFixed(
        llm.Similarity.residualCorpus(e, "vec_id", "embedding", cents)
          .filter(col("vec_id").between(16, 31)),
        "vec_id", "embedding", m = 8, k = 16)
      llm.Similarity.ivfPqResidualTopK(e, queries, "vec_id", "embedding",
          "query_id", k = 10, cents, nprobe = 4, cb)
        .select(col("query_id"), col("vec_id"), round(col("adc"), 6).as("adc"))
        .orderBy("query_id", "vec_id")
    }),

    // ---- the reason residual encoding exists, measured: ADC-ONLY
    //      recall@10 (no exact rescore anywhere) of residual IVF-PQ vs
    //      raw-vector PQ, same corpus, same Lloyd budget (m=8, k=16,
    //      2 iters). Raw ADC measures ~0.38 here (isotropic vectors are
    //      PQ's worst case); residual re-centering lifts it to ~0.54 —
    //      codebooks spend their 4 bits on within-cell variance instead
    //      of re-describing cell means. Gate: residual strictly beats
    //      raw AND clears 0.45 absolute (raw+0.16 measured, wide margin
    //      over Lloyd float-sum wobble). Trained quantizers are not
    //      value-portable, so the contract is this verdict row — the
    //      q_s_ivf_ann / q_s_pq_recall policy.
    "q_s_ivfpq_resid_recall" -> ((s, dir) => {
      // decode-once: e feeds kmeans, two Lloyd trainings, two index
      // scans and the ground-truth arm (~8 rescans of the spread)
      val e = spreadEmb(s, dir).localCheckpoint(true)
      val queries = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val cents = llm.Similarity.kmeansCentroids(e, "vec_id", "embedding",
        nlist = 16, iters = 3, trainMaxRows = trainCap)
      val cbRaw = llm.Similarity.pqCodebooksLloyd(e, "vec_id", "embedding",
        m = 8, k = 16, iters = 2, trainMaxRows = trainCap)
      val cbRes = llm.Similarity.pqCodebooksLloyd(
        llm.Similarity.residualCorpus(e, "vec_id", "embedding", cents),
        "vec_id", "embedding", m = 8, k = 16, iters = 2,
        trainMaxRows = trainCap)
      val rawTop = llm.Similarity.pqAdcTopK(e, queries, "vec_id",
        "embedding", "query_id", k = 10, cbRaw)
        .select(col("query_id"), col("vec_id"))
      val resTop = llm.Similarity.ivfPqResidualTopK(e, queries, "vec_id",
        "embedding", "query_id", k = 10, cents, nprobe = 4, cbRes)
        .select(col("query_id"), col("vec_id"))
      // session-memoized ground truth (the measurement, not the index)
      val exact = llm.Similarity.exactL2TopKCached(s"$dir|raw5",
        e, queries, "vec_id", "embedding", "query_id", k = 10)
      val rawAvg = llm.Similarity.recallAtK(rawTop, exact, "query_id",
        "vec_id").agg(avg("recall")).head().getDouble(0)
      val resAvg = llm.Similarity.recallAtK(resTop, exact, "query_id",
        "vec_id").agg(avg("recall")).head().getDouble(0)
      import s.implicits._
      Seq((resAvg > rawAvg, resAvg >= 0.45))
        .toDF("resid_beats_raw", "resid_ok")
    }),

    // ---- parametric OPQ (Ge et al. 2013, eigenvalue allocation): PCA
    //      rotation + greedy dealing of principal directions so every
    //      PQ subspace carries comparable variance. Measured on this
    //      deterministically-anisotropized corpus (dim j scaled by
    //      1+j — naive PQ's last subspace drowns): ADC-only recall@10
    //      0.50 rotated vs 0.26 naive. Gate: OPQ strictly beats naive
    //      AND clears 0.4 absolute; trained rotation + codebooks are
    //      float-sum state, so the contract is the verdict row (the
    //      q_s_pq_recall policy).
    "q_s_opq_recall" -> ((s, dir) => {
      // decode-once: the anisotropized frame feeds both ADC arms, the
      // PCA fit and the ground-truth arm — materialize it once
      val e = spreadEmb(s, dir)
        .select(col("vec_id"), transform(col("embedding"),
          (x, j) => x * (j.cast("double") + 1.0)).as("embedding"))
        .localCheckpoint(true)
      val queries = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding"))
      // session-memoized ground truth (the measurement, not the index)
      val exact = llm.Similarity.exactL2TopKCached(s"$dir|aniso5",
        e, queries, "vec_id", "embedding", "query_id", k = 10)
      def adcRecall(cps: org.apache.spark.sql.DataFrame,
          qs: org.apache.spark.sql.DataFrame): Double = {
        val cb = llm.Similarity.pqCodebooksLloyd(cps, "vec_id",
          "embedding", m = 8, k = 16, iters = 2, trainMaxRows = trainCap)
        val top = llm.Similarity.pqAdcTopK(cps, qs, "vec_id", "embedding",
          "query_id", k = 10, cb).select(col("query_id"), col("vec_id"))
        llm.Similarity.recallAtK(top, exact, "query_id", "vec_id")
          .agg(avg(col("recall"))).head().getDouble(0)
      }
      val naive = adcRecall(e, queries)
      val rot = llm.Similarity.opqEigenAllocation(e, "embedding", m = 8)
      val opq = adcRecall(
        e.select(col("vec_id"),
          llm.Pca.project(col("embedding"), rot).as("embedding")),
        queries.select(col("query_id"),
          llm.Pca.project(col("embedding"), rot).as("embedding")))
      import s.implicits._
      Seq((opq > naive, opq >= 0.4)).toDF("opq_beats_naive", "opq_ok")
    }),

    // ---- iterative OPQ (full Ge et al. alternating optimization):
    //      Procrustes rotation updates descend the actual quantization
    //      error, so on a corpus whose principal axes STRADDLE subspace
    //      boundaries (the anisotropic scaling composed with a fixed
    //      cross-dim mixing) it must hold or beat its own parametric
    //      seed. Trained rotation + codebooks are float-sum state → the
    //      literal-verdict gate (q_s_pq_recall policy); the invariants
    //      (orthonormal R, factorization) are spec-gated in LlmSpec.
    "q_s_opq_iter_recall" -> ((s, dir) => {
      val e = spreadEmb(s, dir)
        .select(col("vec_id"), transform(col("embedding"),
          (x, j) => x * (j.cast("double") + 1.0)).as("__a"))
        // mix dim j with dim (j+5)%64: allocation alone cannot unmix
        .select(col("vec_id"), zip_with(col("__a"),
          concat(slice(col("__a"), 6, 59), slice(col("__a"), 1, 5)),
          (x, y) => x * 0.8 + y * 0.6).as("embedding"))
        // decode-once: the alternation rescans this frame every round
        .localCheckpoint(true)
      val queries = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding"))
      // session-memoized ground truth (the measurement, not the index)
      val exact = llm.Similarity.exactL2TopKCached(s"$dir|aniso-mix5",
        e, queries, "vec_id", "embedding", "query_id", k = 10)
      def adcRecall(rot: llm.Pca.PcaModel,
          cb: Seq[Seq[Seq[Double]]]): Double = {
        val cps = e.select(col("vec_id"),
          llm.Pca.project(col("embedding"), rot).as("embedding"))
        val qs = queries.select(col("query_id"),
          llm.Pca.project(col("embedding"), rot).as("embedding"))
        val top = llm.Similarity.pqAdcTopK(cps, qs, "vec_id", "embedding",
          "query_id", k = 10, cb).select(col("query_id"), col("vec_id"))
        llm.Similarity.recallAtK(top, exact, "query_id", "vec_id")
          .agg(avg(col("recall"))).head().getDouble(0)
      }
      // iteration 1 of the alternation IS the parametric seed + Lloyd,
      // and opqIterative hands back that iteration's MSE — no separate
      // seed retrain (halves the query's training cost)
      val (rot, cb, iterMse, seedMse) = llm.Similarity.opqIterative(
        e, "vec_id", "embedding", m = 8, k = 16, opqIters = 2,
        lloydIters = 2)
      val iter = adcRecall(rot, cb)
      import s.implicits._
      // the alternation's contract: quantization error never worse than
      // the parametric seed (exact — the returned model is the argmin
      // over iterates including the seed), and ADC-only recall clears
      // the same absolute floor as q_s_opq_recall
      Seq((iterMse <= seedMse, iter >= 0.4))
        .toDF("iter_holds_seed", "iter_ok")
    }),

    // ---- OPQ composed into residual IVF-PQ, value-exact variant: the
    //      FAISS `OPQ8,IVF16,PQ8` chain with every trained slot pinned
    //      to its fixed analog — rotation = a literal permutation
    //      (y_i = x_{5i mod 64}; orthonormal and arithmetic-free, so
    //      floats move exactly), cells = first-16-ids, codebooks =
    //      first-16 residual slices. The permutation REMIXES which dims
    //      land in which PQ subspace (5 coprime to 64), so codes and
    //      ADC genuinely differ from q_s_ivfpq_residual while staying
    //      reproducible bit-for-bit by the DuckDB oracle.
    "q_s_opq_ivfpq" -> ((s, dir) => {
      val e = spreadEmb(s, dir)
      val queries = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val rot = llm.Similarity.permutationRotation(
        (0 until 64).map(i => i * 5 % 64))
      val er = e.select(col("vec_id"),
        llm.Pca.project(col("embedding"), rot).as("embedding"))
      val cents = llm.Similarity.initCentroids(er, "vec_id", "embedding", 16)
      // seeds from ids 16..31 — ids 0..15 are the centroids themselves
      // (zero residuals, degenerate codebooks); see q_s_ivfpq_residual
      val cb = llm.Similarity.pqCodebooksFixed(
        llm.Similarity.residualCorpus(er, "vec_id", "embedding", cents)
          .filter(col("vec_id").between(16, 31)),
        "vec_id", "embedding", m = 8, k = 16)
      llm.Similarity.opqIvfPqResidualTopK(e, queries, "vec_id", "embedding",
          "query_id", k = 10, rot, cents, nprobe = 4, cb)
        .select(col("query_id"), col("vec_id"), round(col("adc"), 6).as("adc"))
        .orderBy("query_id", "vec_id")
    }),

    // ---- the composed chain's payoff, measured: ADC-only recall@10 of
    //      OPQ∘residual-IVF-PQ vs PLAIN residual IVF-PQ, same corpus
    //      (the anisotropized one — dim j scaled by 1+j), same budgets
    //      (nlist=16/3 k-means iters, m=8/k=16/2 Lloyd iters, nprobe=4).
    //      Residual re-centering alone can't fix subspace imbalance —
    //      the last subspace's variance still drowns its 4-bit codebook;
    //      rotating FIRST (eigenvalue allocation) balances what the
    //      residual codebooks must cover. Trained quantizers aren't
    //      value-portable → literal-verdict gate (q_s_pq_recall policy).
    "q_s_opq_ivfpq_recall" -> ((s, dir) => {
      // decode-once: e feeds kmeans, Lloyd, the plain index arm, the
      // PCA fit and the rotated arm (~12 rescans of the spread)
      val e = spreadEmb(s, dir)
        .select(col("vec_id"), transform(col("embedding"),
          (x, j) => x * (j.cast("double") + 1.0)).as("embedding"))
        .localCheckpoint(true)
      // 20 queries, not 5: recall@10 over 5 queries moves in 0.02 steps
      // and the measured margins here are ~0.04 — the wider panel is
      // what makes the beats-plain verdict stable run to run
      val queries = e.filter(col("vec_id") < 20)
        .select(col("vec_id").as("query_id"), col("embedding"))
      // session-memoized ground truth (the measurement, not the index)
      val exact = llm.Similarity.exactL2TopKCached(s"$dir|aniso20",
        e, queries, "vec_id", "embedding", "query_id", k = 10)
      def recallOf(top: org.apache.spark.sql.DataFrame): Double =
        llm.Similarity.recallAtK(top.select(col("query_id"), col("vec_id")),
            exact, "query_id", "vec_id")
          .agg(avg(col("recall"))).head().getDouble(0)
      // plain residual IVF-PQ arm (no rotation)
      val cents = llm.Similarity.kmeansCentroids(e, "vec_id", "embedding",
        nlist = 16, iters = 3, trainMaxRows = trainCap)
      val cb = llm.Similarity.pqCodebooksLloyd(
        llm.Similarity.residualCorpus(e, "vec_id", "embedding", cents),
        "vec_id", "embedding", m = 8, k = 16, iters = 2,
        trainMaxRows = trainCap)
      val plain = recallOf(llm.Similarity.ivfPqResidualTopK(e, queries,
        "vec_id", "embedding", "query_id", k = 10, cents, nprobe = 4, cb))
      // OPQ∘residual arm: rotate, then train BOTH quantizers rotated
      val rot = llm.Similarity.opqEigenAllocation(e, "embedding", m = 8)
      // the rotated frame trains BOTH quantizers — rotate once
      val er = e.select(col("vec_id"),
        llm.Pca.project(col("embedding"), rot).as("embedding"))
        .localCheckpoint(true)
      val cents2 = llm.Similarity.kmeansCentroids(er, "vec_id", "embedding",
        nlist = 16, iters = 3, trainMaxRows = trainCap)
      val cb2 = llm.Similarity.pqCodebooksLloyd(
        llm.Similarity.residualCorpus(er, "vec_id", "embedding", cents2),
        "vec_id", "embedding", m = 8, k = 16, iters = 2,
        trainMaxRows = trainCap)
      val opq = recallOf(llm.Similarity.opqIvfPqResidualTopK(e, queries,
        "vec_id", "embedding", "query_id", k = 10, rot, cents2,
        nprobe = 4, cb2))
      import s.implicits._
      // measured: plain 0.42, pre-transform OPQ 0.46 — floor 0.4 (the
      // q_s_opq_recall absolute bar) leaves room for Lloyd float wobble
      Seq((opq > plain, opq >= 0.4))
        .toDF("opq_ivfpq_beats_plain", "opq_ivfpq_ok")
    }),

    // ---- LOPQ-style global residual rotation, value-exact variant:
    //      cells + residuals in RAW space (identical to
    //      q_s_ivfpq_residual up to the residual), then the RESIDUAL is
    //      permuted y_i = r_{5i mod 64} before codebook slicing, encode,
    //      and ADC. Fixed slots throughout -> bit-reproducible by the
    //      DuckDB oracle. NOTE the deliberately different shape from
    //      q_s_opq_ivfpq (m=4 wide subspaces, nprobe=3): for a fixed
    //      permutation with cosine assignment + first-id init the two
    //      compositions are EQUIVARIANT (identical output at identical
    //      parameters — spec-gated in LlmSpec), so the distinct
    //      parameters are what make this a distinct correctness row.
    "q_s_lopq" -> ((s, dir) => {
      val e = spreadEmb(s, dir)
      val queries = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val rot = llm.Similarity.permutationRotation(
        (0 until 64).map(i => i * 5 % 64))
      val cents = llm.Similarity.initCentroids(e, "vec_id", "embedding", 16)
      val resRot = llm.Similarity
        .residualCorpus(e, "vec_id", "embedding", cents)
        .select(col("vec_id"),
          llm.Pca.project(col("embedding"), rot).as("embedding"))
      // seeds from ids 16..31 — ids 0..15 are the centroids themselves
      // (zero residuals, degenerate codebooks); see q_s_ivfpq_residual
      val cb = llm.Similarity.pqCodebooksFixed(
        resRot.filter(col("vec_id").between(16, 31)), "vec_id",
        "embedding", m = 4, k = 16)
      llm.Similarity.ivfOpqResidualTopK(e, queries, "vec_id", "embedding",
          "query_id", k = 10, cents, nprobe = 3, rot, cb)
        .select(col("query_id"), col("vec_id"), round(col("adc"), 6).as("adc"))
        .orderBy("query_id", "vec_id")
    }),

    // ---- LOPQ-style composition's payoff: rotation trained on the
    //      RESIDUAL distribution (the covariance the codebooks actually
    //      quantize), cells untouched in raw space. Measured on the
    //      anisotropized corpus: 0.475 vs plain residual IVF-PQ 0.42 —
    //      also above the pre-transform chain's 0.46, which is the point
    //      of rotating residuals instead of raw vectors. Trained state →
    //      literal-verdict gate.
    "q_s_lopq_recall" -> ((s, dir) => {
      // decode-once: e feeds kmeans, the residual map, two index arms
      // and the ground-truth arm
      val e = spreadEmb(s, dir)
        .select(col("vec_id"), transform(col("embedding"),
          (x, j) => x * (j.cast("double") + 1.0)).as("embedding"))
        .localCheckpoint(true)
      val queries = e.filter(col("vec_id") < 20)
        .select(col("vec_id").as("query_id"), col("embedding"))
      // session-memoized ground truth, SHARED with q_s_opq_ivfpq_recall
      // (same anisotropized fixture, same 20-query panel, same k)
      val exact = llm.Similarity.exactL2TopKCached(s"$dir|aniso20",
        e, queries, "vec_id", "embedding", "query_id", k = 10)
      def recallOf(top: org.apache.spark.sql.DataFrame): Double =
        llm.Similarity.recallAtK(top.select(col("query_id"), col("vec_id")),
            exact, "query_id", "vec_id")
          .agg(avg(col("recall"))).head().getDouble(0)
      val cents = llm.Similarity.kmeansCentroids(e, "vec_id", "embedding",
        nlist = 16, iters = 3, trainMaxRows = trainCap)
      // the residual corpus is consumed THREE times (plain Lloyd, the
      // rotation fit, the rotated Lloyd) — materialize it once
      val resPlain = llm.Similarity.residualCorpus(e, "vec_id",
        "embedding", cents).localCheckpoint(true)
      val cb = llm.Similarity.pqCodebooksLloyd(resPlain, "vec_id",
        "embedding", m = 8, k = 16, iters = 2, trainMaxRows = trainCap)
      val plain = recallOf(llm.Similarity.ivfPqResidualTopK(e, queries,
        "vec_id", "embedding", "query_id", k = 10, cents, nprobe = 4, cb))
      val rot = llm.Similarity.opqEigenAllocation(resPlain, "embedding",
        m = 8)
      val cbRot = llm.Similarity.pqCodebooksLloyd(
        resPlain.select(col("vec_id"),
          llm.Pca.project(col("embedding"), rot).as("embedding")),
        "vec_id", "embedding", m = 8, k = 16, iters = 2,
        trainMaxRows = trainCap)
      val lopq = recallOf(llm.Similarity.ivfOpqResidualTopK(e, queries,
        "vec_id", "embedding", "query_id", k = 10, cents, nprobe = 4,
        rot, cbRot))
      import s.implicits._
      Seq((lopq > plain, lopq >= 0.42))
        .toDF("lopq_beats_plain", "lopq_ok")
    }),

    // ---- the 100 TB quantizer-training contract, witnessed: train the
    //      coarse quantizer on a BOUNDED hash-sample (Similarity.
    //      boundedTrainingSample — 256 of the corpus: sampling engages
    //      at BOTH sweep scales, 256/500 at sf0.01 and 256/2000 at
    //      sf0.1), index the FULL
    //      corpus, and hold recall. The fixture is the embeddings table
    //      pushed onto 16 well-separated deterministic cluster centers
    //      (vec = sin((c+1)(j+1)) + raw embedding as noise, c = id%16)
    //      — the shape real embedding corpora have and the regime where
    //      sampled training is sound; the raw ISOTROPIC fixture is the
    //      opposite extreme (recall there comes from near-memorizing
    //      the indexed points, which is why the q_s_*_recall family
    //      trains full at fixture size — see trainCap). Trained
    //      centroids are float-sum state → literal-verdict gate
    //      (q_s_ivf_ann policy): sampled recall clears 0.9 absolute
    //      AND holds full-training recall within 0.05, at both sweep
    //      scales.
    "q_s_sampled_train" -> ((s, dir) => {
      // decode-once: the clustered frame feeds two kmeans trainings,
      // two index scans and the ground-truth arm — and the per-row
      // sin() synth is itself the expensive part of the scan
      val clustered = spreadEmb(s, dir)
        .select(col("vec_id"),
          transform(col("embedding"), (x, j) =>
            sin(((col("vec_id") % 16) + 1).cast("double")
              * (j.cast("double") + 1.0)) + x.cast("double"))
            .as("embedding"))
        .localCheckpoint(true)
      val queries = clustered.filter(col("vec_id") < 20)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val exact = llm.Similarity.exactL2TopKCached(s"$dir|clust20",
        clustered, queries, "vec_id", "embedding", "query_id", k = 10)
      def recallOf(cents: Seq[Seq[Double]]): Double =
        llm.Similarity.recallAtK(
            llm.Similarity.ivfTopKWithCentroids(clustered, queries,
              "vec_id", "embedding", "query_id", k = 10, cents, nprobe = 4)
              .select(col("query_id"), col("vec_id")),
            exact, "query_id", "vec_id")
          .agg(avg(col("recall"))).head().getDouble(0)
      val full = recallOf(llm.Similarity.kmeansCentroids(clustered,
        "vec_id", "embedding", nlist = 16, iters = 3))
      val sampled = recallOf(llm.Similarity.kmeansCentroids(clustered,
        "vec_id", "embedding", nlist = 16, iters = 3, trainMaxRows = 256))
      import s.implicits._
      Seq((sampled >= full - 0.05, sampled >= 0.9))
        .toDF("sampled_holds_full", "sampled_ok")
    }),

    // ---- trained-index persistence (the production retrieval
    //      lifecycle): build a residual IVF-PQ index with fixed
    //      quantizers, SAVE its complete state to parquet (centroids /
    //      codebooks / cell-partitioned codes), RELOAD it from disk
    //      alone — IndexStore.load touches no in-session state, raw
    //      corpus, or training sample — and serve top-k (nprobe=3,
    //      distinct from q_s_ivfpq_residual's 4) from the loaded codes.
    //      The oracle re-derives the whole chain from the raw corpus,
    //      so a round-trip that loses a double anywhere hash-fails.
    "q_s_index_persist" -> ((s, dir) => {
      val e = spreadEmb(s, dir)
      val queries = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val cents = llm.Similarity.initCentroids(e, "vec_id", "embedding", 16)
      val cb = llm.Similarity.pqCodebooksFixed(
        llm.Similarity.residualCorpus(e, "vec_id", "embedding", cents)
          .filter(col("vec_id").between(16, 31)),
        "vec_id", "embedding", m = 8, k = 16)
      val idxDir = tempFixtureDir("graft-ivfpq-index").toString
      llm.IndexStore.save(
        llm.IndexStore.build("ivfpq_residual", e, "vec_id", "embedding",
          cents, cb), idxDir)
      llm.IndexStore.load(s, idxDir)
        .search(queries, "query_id", "embedding", k = 10, nprobe = 3)
        .select(col("query_id"), col("vec_id"), round(col("adc"), 6).as("adc"))
        .orderBy("query_id", "vec_id")
    }),

    // ---- index MAINTENANCE as a driver-checked row: build the
    //      residual IVF-PQ index over HALF the corpus (even vec_ids),
    //      save, then APPEND the odd half with the frozen quantizers
    //      and serve — the daily-crawl-growth lifecycle. The oracle is
    //      the same full-corpus re-derivation as q_s_index_persist
    //      (nprobe=3): a correct append is indistinguishable from a
    //      one-shot build, so any dropped/duplicated/mis-celled code
    //      in the append path hash-fails.
    "q_s_index_append" -> ((s, dir) => {
      val e = spreadEmb(s, dir)
      val queries = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding"))
      // quantizers from the FULL corpus (frozen model state; the split
      // only affects which half is encoded at build vs append time)
      val cents = llm.Similarity.initCentroids(e, "vec_id", "embedding", 16)
      val cb = llm.Similarity.pqCodebooksFixed(
        llm.Similarity.residualCorpus(e, "vec_id", "embedding", cents)
          .filter(col("vec_id").between(16, 31)),
        "vec_id", "embedding", m = 8, k = 16)
      val idxDir = tempFixtureDir("graft-ivfpq-append").toString
      llm.IndexStore.save(
        llm.IndexStore.build("ivfpq_residual",
          e.filter(col("vec_id") % 2 === 0), "vec_id", "embedding",
          cents, cb), idxDir)
      llm.IndexStore.append(llm.IndexStore.load(s, idxDir), idxDir,
          e.filter(col("vec_id") % 2 === 1), "embedding")
        .search(queries, "query_id", "embedding", k = 10, nprobe = 3)
        .select(col("query_id"), col("vec_id"), round(col("adc"), 6).as("adc"))
        .orderBy("query_id", "vec_id")
    }),

    // ---- index COMPACTION (VERDICT r19 item 3a): a daily-append
    //      deployment accumulates one part file per touched cell per
    //      append until scan planning degrades; compact() must restore
    //      the one-file-per-cell layout WITHOUT changing a single
    //      search result. Same save-half/append-half fixture as
    //      q_s_index_append; the require pins the observable (fewer
    //      part files, at most one per cell), the oracle pins the
    //      invariant (post-compact serve == one-shot full build —
    //      q_s_index_append's re-derivation verbatim).
    "q_s_index_compact" -> ((s, dir) => {
      val e = spreadEmb(s, dir)
      val queries = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val cents = llm.Similarity.initCentroids(e, "vec_id", "embedding", 16)
      val cb = llm.Similarity.pqCodebooksFixed(
        llm.Similarity.residualCorpus(e, "vec_id", "embedding", cents)
          .filter(col("vec_id").between(16, 31)),
        "vec_id", "embedding", m = 8, k = 16)
      val idxDir = tempFixtureDir("graft-ivfpq-compact").toString
      llm.IndexStore.save(
        llm.IndexStore.build("ivfpq_residual",
          e.filter(col("vec_id") % 2 === 0), "vec_id", "embedding",
          cents, cb), idxDir)
      val grown = llm.IndexStore.append(llm.IndexStore.load(s, idxDir),
        idxDir, e.filter(col("vec_id") % 2 === 1), "embedding")
      val before = llm.IndexStore.codesFileCount(s, idxDir)
      val compacted = llm.IndexStore.compact(grown, idxDir)
      val after = llm.IndexStore.codesFileCount(s, idxDir)
      require(after < before && after <= 16,
        s"compaction did not shrink the file set: $before -> $after")
      compacted
        .search(queries, "query_id", "embedding", k = 10, nprobe = 3)
        .select(col("query_id"), col("vec_id"), round(col("adc"), 6).as("adc"))
        .orderBy("query_id", "vec_id")
    }),

    // ---- index DELETE (VERDICT r19 item 3b; FAISS remove_ids; the
    //      takedown path a compliant corpus needs — reference anchor:
    //      the actions table's D rows,
    //      etl/pgsnapshot_schema_0.6_action.sql:8-15): tombstone ids
    //      vec_id % 7 == 3 on the saved full-corpus index and serve —
    //      deleted ids must be ABSENT and survivors hash-equal to an
    //      index rebuilt without them (the oracle re-derives codes for
    //      everyone under the same frozen quantizers but scores
    //      survivors only — identical by construction to the rebuild,
    //      since frozen-quantizer codes don't depend on what else is
    //      indexed). id 3 is both a query and its own nearest
    //      neighbor, so the deletion visibly changes the top-10. The
    //      require pins tombstone-serve == physically-compacted serve
    //      (compact applies tombstones and clears them).
    "q_s_index_delete" -> ((s, dir) => {
      val e = spreadEmb(s, dir)
      val queries = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val cents = llm.Similarity.initCentroids(e, "vec_id", "embedding", 16)
      val cb = llm.Similarity.pqCodebooksFixed(
        llm.Similarity.residualCorpus(e, "vec_id", "embedding", cents)
          .filter(col("vec_id").between(16, 31)),
        "vec_id", "embedding", m = 8, k = 16)
      val idxDir = tempFixtureDir("graft-ivfpq-delete").toString
      llm.IndexStore.save(
        llm.IndexStore.build("ivfpq_residual", e, "vec_id", "embedding",
          cents, cb), idxDir)
      val deleted = llm.IndexStore.delete(llm.IndexStore.load(s, idxDir),
        idxDir, e.filter(col("vec_id") % 7 === 3).select("vec_id"))
      def serve(ix: llm.IndexStore.IvfPqIndex) = ix
        .search(queries, "query_id", "embedding", k = 10, nprobe = 3)
        .select(col("query_id"), col("vec_id"), round(col("adc"), 6).as("adc"))
      val viaTombstones = serve(deleted).localCheckpoint(true)
      require(viaTombstones.filter(col("vec_id") % 7 === 3).isEmpty,
        "tombstoned ids leaked into search results")
      // checkpoint: both exceptAll directions read this side — without
      // it the whole compacted-serve chain re-executes for the second
      // require arm (guide §1.2: don't compute things twice)
      val viaCompact = serve(llm.IndexStore.compact(deleted, idxDir))
        .localCheckpoint(true)
      require(viaTombstones.exceptAll(viaCompact).isEmpty &&
          viaCompact.exceptAll(viaTombstones).isEmpty,
        "tombstone serve != physically compacted serve")
      viaTombstones.orderBy("query_id", "vec_id")
    }),

    // ---- X5 scalable form: range-partitioned prefix sums instead of a
    //      global window — must agree with the window semantics, so it
    //      shares q_x5's oracle
    "q_x5b_wm_scalable" -> ((s, dir) => {
      import s.implicits._
      val li = lineitem(s, dir).select(col("l_quantity").as("x"),
        round(col("l_extendedprice")).cast("long").as("w"))
      val wm = WeightedMedian.weightedMedianScalable(li, "x", "w")
      Seq(wm.getOrElse(Double.NaN)).toDF("weighted_median")
    }),

    // ---- multimodal decode through the typed mapPartitions pass
    "q_mm_decode" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val media = llm.Multimodal.asMedia(
        documents(s, dir), "doc_id", "text")
      llm.Multimodal.decode(media).toDF()
        .select(col("doc_id"), col("byte_len"),
          col("meta.width").as("width"), col("meta.height").as("height"),
          col("meta.frames").as("frames"), col("meta.format").as("format"))
        .orderBy("doc_id")
    }),

    // ---- event-time tumbling window aggregation (the batch shape of the
    //      Structured Streaming windowed agg)
    "q_e_tumbling_window" -> ((s, dir) => {
      events(s, dir)
        .groupBy(window(col("ts"), "1 hour").as("w"))
        .agg(count(lit(1)).as("cnt"), round(avg(col("value")), 4).as("avg_value"))
        .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("hour_start"),
          col("cnt"), col("avg_value"))
        .orderBy("hour_start")
    }),

    // ---- event-time HOPPING window (1h length, 30m slide): every event
    //      lands in exactly two windows — the sliding-window batch shape;
    //      Spark expands via its internal window generator, the oracle
    //      expands the same two bucket starts explicitly
    //      value sums ride exact integer cents (BIGINT), not double or
    //      DECIMAL: the 2x window expansion reorders float summation
    //      onto half-ulp boundaries, and DECIMAL hashes non-portably
    //      across parquet writers (scale/physical-type differences) —
    //      round(value*100) as long is bit-portable by construction
    "q_e_hopping_window" -> ((s, dir) => {
      events(s, dir)
        .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"))
        .agg(count(lit(1)).as("cnt"),
          sum(round(col("value") * 100).cast("long")).as("sum_cents"))
        .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
          col("cnt"), col("sum_cents"))
        .orderBy("win_start")
    }),

    // ---- batch gaps-and-islands sessionization: lag flags a >30-min
    //      gap, a running sum over the same window numbers the islands
    //      — the batch shape of streaming sessionize, and the classic
    //      two-window idiom (both windows share ONE partition-sort)
    "q_e_sessions" -> ((s, dir) => {
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
    }),

    // ---- built-in session_window (the batch face of streaming
    //      sessionization): merges [ts, ts+30m) intervals per user, so
    //      a >=30-min silence starts a new session — cross-checked
    //      against the gaps-and-islands oracle computing the same cuts
    "q_e_session_builtin" -> ((s, dir) => {
      events(s, dir)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value")), 4).as("sum_value"))
        .select(col("user_id"),
          date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("sess_start"),
          col("n_events"), col("sum_value"))
        .orderBy("user_id", "sess_start")
    }),

    // ---- JSON functions over the events props column (SURVEY §2.9)
    "q_e_json_props" -> ((s, dir) => {
      events(s, dir)
        .select(get_json_object(col("props"), "$.k").cast("int").as("k"))
        .groupBy("k").agg(count(lit(1)).as("cnt"))
        .orderBy("k")
    }),

    // ---- §2.11 streaming dedup as a DRIVER-CHECKED row (previously
    //      spec-gated only): the events table replayed through a real
    //      MemoryStream micro-batch run of
    //      [[streaming.EventStream.dedupStream]] — two batches, with a
    //      200-row slice of batch 1 RE-DELIVERED in batch 2 (the
    //      at-least-once upstream the operator exists for; cross-batch
    //      state must suppress the replays). Watermark 365d > the 30d
    //      event span, so nothing evicts and the emitted set is exactly
    //      the distinct fingerprint set — which row of a fingerprint
    //      group survives is shuffle-order dependent, so the output
    //      projects the fingerprint fields themselves (deterministic).
    "q_e_dedup_stream" -> ((s, dir) => {
      implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val ev = events(s, dir)
        .select(col("event_id").cast("long"), col("ts"),
          col("user_id").cast("long"), col("event_type"),
          col("value").cast("double"))
        .as[streaming.EventStream.Event].collect().sortBy(_.event_id)
      withShufflePartitions(s, 4) {
        val stream = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[streaming.EventStream.Event]
        val deduped = streaming.EventStream.dedupStream(stream.toDF(),
          concat_ws("|", col("event_type"), col("value")),
          watermark = "365 days")
        val sink = s"q_e_dedup_sink_${System.nanoTime()}"
        val q = deduped.writeStream
          .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
          .format("memory").queryName(sink).start()
        try {
          val (b1, b2) = ev.partition(_.event_id % 2 == 0)
          stream.addData(b1.toIndexedSeq)
          q.processAllAvailable()
          stream.addData((b2 ++ b1.take(200)).toIndexedSeq)
          q.processAllAvailable()
          s.table(sink)
            .select(col("event_type"), col("value"))
            .orderBy("event_type", "value")
            .localCheckpoint(true)
        } finally q.stop()
      }
    }),

    // ---- §2.11 stream-stream interval join, driver-checked: clicks
    //      joined to the views that follow within 1h per user, both
    //      sides fed as two micro-batches (matches must also form
    //      ACROSS batches out of retained state). Inner-join emission
    //      is a set — batch SQL replays it exactly.
    "q_e_interval_join" -> ((s, dir) => {
      implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val ev = events(s, dir)
        .select(col("event_id").cast("long"), col("ts"),
          col("user_id").cast("long"), col("event_type"),
          col("value").cast("double"))
        .as[streaming.EventStream.Event].collect().sortBy(_.event_id)
      withShufflePartitions(s, 4) {
        val ls = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[streaming.EventStream.Event]
        val rs = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[streaming.EventStream.Event]
        val joined = streaming.EventStream.intervalJoin(
          ls.toDF(), rs.toDF(), "user_id",
          horizon = "1 hour", watermark = "365 days")
        val sink = s"q_e_ij_sink_${System.nanoTime()}"
        val q = joined.writeStream
          .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
          .format("memory").queryName(sink).start()
        try {
          val clicks = ev.filter(_.event_type == "click")
          val views = ev.filter(_.event_type == "view")
          ls.addData(clicks.filter(_.event_id % 2 == 0).toIndexedSeq)
          rs.addData(views.filter(_.event_id % 2 == 1).toIndexedSeq)
          q.processAllAvailable()
          ls.addData(clicks.filter(_.event_id % 2 == 1).toIndexedSeq)
          rs.addData(views.filter(_.event_id % 2 == 0).toIndexedSeq)
          q.processAllAvailable()
          s.table(sink)
            .select(col("user_id"),
              col("l_ts").cast("timestamp_ntz").as("l_ts"), col("l_type"),
              col("r_ts").cast("timestamp_ntz").as("r_ts"), col("r_type"),
              col("r_value"))
            .orderBy("user_id", "l_ts", "r_ts")
            .localCheckpoint(true)
        } finally q.stop()
      }
    }),

    // ---- §2.11 streaming MinHash-LSH near-dup candidates, driver-
    //      checked (the last spec-only streaming operator —
    //      streaming/EventStream.scala:112): documents get a synthetic
    //      event time monotone in doc_id, fed in two id-ordered micro-
    //      batches with a 100-doc slice of batch 1 RE-DELIVERED in
    //      batch 2 (cross-batch bucket state must keep the original
    //      first and not re-pair it). "First in bucket" is then min
    //      doc_id, so the emitted candidate SET is exactly the batch
    //      band relation's (first, other) pairs — which the oracle
    //      replays with the same portable md5 hash family. Re-delivery
    //      re-emits a pair (Append mode), so the projection is the
    //      distinct set.
    "q_e_neardup_stream" -> ((s, dir) => {
      implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
      implicit val sp: org.apache.spark.sql.SparkSession = s
      import s.implicits._
      val docs = documents(s, dir)
        .select(col("doc_id"), col("text")).collect()
        .map(r => (r.getLong(0), new java.sql.Timestamp(
          1704067200000L + r.getLong(0) * 1000L), r.getString(1)))
        .sortBy(_._1)
      withShufflePartitions(s, 4) {
        val stream = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(Long, java.sql.Timestamp, String)]
        val cands = streaming.EventStream.nearDupCandidates(
          stream.toDF().toDF("doc_id", "ts", "text"), "doc_id",
          col("text"), watermark = "365 days")
        val sink = s"q_e_neardup_sink_${System.nanoTime()}"
        val q = cands.toDF().writeStream
          .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
          .format("memory").queryName(sink).start()
        try {
          val (b1, b2) = docs.partition(_._1 < docs(docs.length / 2)._1)
          stream.addData(b1.toIndexedSeq)
          q.processAllAvailable()
          stream.addData((b2 ++ b1.take(100)).toIndexedSeq)
          q.processAllAvailable()
          s.table(sink)
            .select(col("id_a"), col("id_b"), col("band"))
            .distinct()
            .orderBy("id_a", "id_b", "band")
            .localCheckpoint(true)
        } finally q.stop()
      }
    }),

    // ---- §2.11 WARC micro-batch streaming source, driver-checked (the
    //      other spec-only streaming component — sources/Warc.scala:226):
    //      the documents table round-trips through two Common-Crawl-
    //      shaped .warc.gz files (even doc_ids / odd doc_ids), the
    //      second file landing only AFTER the first micro-batch commits
    //      — the growing-crawl-dump contract (file-watermark offsets
    //      must pick up exactly the new file, no re-read, no skip).
    //      Output aggregates per doc_id%10 bucket over ids parsed back
    //      from the target URI and byte lengths from Content-Length, so
    //      the oracle replays it from the documents table alone.
    "q_cc_wet_stream" -> ((s, dir) => {
      val docs = documents(s, dir)
        .select(col("doc_id"), col("text")).collect()
        .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
      def wet(part: Array[(Long, String)]): Array[Byte] =
        sources.Warc.writeRecords(part.map { case (id, text) =>
          ("conversion", s"http://graft.test/doc/$id",
            "2024-01-01T00:00:00Z", "text/plain",
            text.getBytes("UTF-8"))
        }.toIndexedSeq, gzipPerRecord = true)
      val fixDir = tempFixtureDir("wet-stream")
      val f1 = fixDir.resolve("wet-00001.warc.gz")
      val f2 = fixDir.resolve("wet-00002.warc.gz")
      java.nio.file.Files.write(f1, wet(docs.filter(_._1 % 2 == 0)))
      withShufflePartitions(s, 4) {
        val recs = sources.Warc.readStream(s, fixDir.toString)
        val agg = recs.select(
            regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1)
              .cast("long").as("doc_id"),
            col("content_length"))
          .groupBy((col("doc_id") % 10).as("bucket"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("content_length")).as("bytes"),
            min(col("doc_id")).as("min_doc"),
            max(col("doc_id")).as("max_doc"))
        val sink = s"q_cc_wet_sink_${System.nanoTime()}"
        val q = agg.writeStream
          .outputMode(org.apache.spark.sql.streaming.OutputMode.Complete())
          .format("memory").queryName(sink).start()
        try {
          q.processAllAvailable()
          // second crawl dump lands after the first batch committed.
          // Write to a dot-prefixed temp (filtered by the stream's
          // listNames) and ATOMIC_MOVE into the watched name, so the
          // trigger loop can never observe a partially written file —
          // file-granularity offsets would otherwise commit a
          // truncated batch and never re-read it.
          val tmp2 = fixDir.resolve(".wet-00002.warc.gz.tmp")
          java.nio.file.Files.write(tmp2, wet(docs.filter(_._1 % 2 == 1)))
          java.nio.file.Files.move(tmp2, f2,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          q.processAllAvailable()
          s.table(sink).orderBy("bucket").localCheckpoint(true)
        } finally q.stop()
      }
    }),

    // ---- the WHOLE streaming curation pipeline as a driver-checked row
    //      (VERDICT r18 item 8; spec-gated until now in
    //      CurationStreamSpec): WET crawl stream -> language gate ->
    //      gopher quality gate -> in-batch URL dedup -> cross-batch URL
    //      dedup vs previously landed batches -> batch-partitioned
    //      landing, then an aggregate over the landed corpus. URLs
    //      carry the dedup group in the path and the doc id in the
    //      FRAGMENT (normalizeUrl strips fragments, so ids 3g..3g+2
    //      share the key "graft.test/g/<g>"); groups straddle the two
    //      crawl files (evens then odds), so the cross-batch anti-join
    //      genuinely fires. Survivor per group = first by
    //      (batch, doc_id) — the in-batch preference is doc_id asc and
    //      an earlier batch's landing always wins — which the oracle
    //      replays as ORDER BY (doc_id % 2, doc_id).
    "q_cc_curation_stream" -> ((s, dir) => {
      val docs = documents(s, dir)
        .select(col("doc_id"), col("text")).collect()
        .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
      def wet(part: Array[(Long, String)]): Array[Byte] =
        sources.Warc.writeRecords(part.map { case (id, text) =>
          ("conversion", s"http://graft.test/g/${id / 3}#d$id",
            "2024-03-01T12:00:00Z", "text/plain", text.getBytes("UTF-8"))
        }.toIndexedSeq, gzipPerRecord = true)
      val fixDir = tempFixtureDir("cur-stream")
      val outDir = tempFixtureDir("cur-landed")
      java.nio.file.Files.write(fixDir.resolve("wet-00001.warc.gz"),
        wet(docs.filter(_._1 % 2 == 0)))
      def curateBatch(batch: org.apache.spark.sql.DataFrame,
          batchId: Long): Unit = {
        val decoded = batch
          .filter(col("record_type") === "conversion")
          .select(col("target_uri"),
            regexp_extract(col("target_uri"), "#d(\\d+)$", 1)
              .cast("long").as("doc_id"),
            col("payload").cast("string").as("text"))
          .filter(llm.TextAnalysis.languageId(col("text")) === "en")
        // gate with the scan-local pass column, not the audit-table
        // join-back: the upstream is a gzip WARC decode, and the join's
        // second branch re-decoded every record (guide §2.4)
        val kept = decoded.filter(llm.Curation.gopherPass(col("text"),
          minTokens = 30, maxTokens = 10000, maxDupTokenFrac = 0.6))
        val inBatch = llm.Curation.dedupByUrl(kept, col("target_uri"),
          Seq(col("doc_id")))
        // enumerate landed batches through the FS abstraction, not
        // java.io (ADVICE r19): the landing dir is parquet-through-
        // any-object-store like every other sink in this file
        val outPath = new org.apache.hadoop.fs.Path(outDir.toString)
        val ofs = outPath.getFileSystem(
          batch.sparkSession.sessionState.newHadoopConf())
        val priorDirs =
          (if (ofs.exists(outPath)) ofs.listStatus(outPath).toSeq else Nil)
            .filter(st => st.isDirectory &&
              st.getPath.getName.startsWith("batch="))
            .filter(_.getPath.getName.stripPrefix("batch=").toLong < batchId)
            .map(_.getPath.toString)
        val fresh =
          if (priorDirs.isEmpty) inBatch
          else {
            val seen = batch.sparkSession.read.parquet(priorDirs: _*)
              .select(llm.Curation.normalizeUrl(col("target_uri")).as("__u"))
            inBatch.join(seen,
              llm.Curation.normalizeUrl(col("target_uri")) === col("__u"),
              "left_anti")
          }
        // batchId-keyed OVERWRITE: replay rewrites, never appends —
        // exactly-once landed output from at-least-once execution
        fresh.write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
      }
      withShufflePartitions(s, 4) {
        val q = sources.Warc.readStream(s, fixDir.toString)
          .writeStream
          .foreachBatch((df: org.apache.spark.sql.DataFrame, id: Long) =>
            curateBatch(df, id))
          .start()
        try {
          q.processAllAvailable()
          val tmp2 = fixDir.resolve(".wet-00002.warc.gz.tmp")
          java.nio.file.Files.write(tmp2, wet(docs.filter(_._1 % 2 == 1)))
          java.nio.file.Files.move(tmp2, fixDir.resolve("wet-00002.warc.gz"),
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          q.processAllAvailable()
        } finally q.stop()
        s.read.parquet(outDir.toString)
          .groupBy((col("doc_id") % 10).as("bucket"))
          .agg(count(lit(1)).as("n_docs"),
            min(col("doc_id")).as("min_doc"),
            max(col("doc_id")).as("max_doc"),
            sum(length(col("text")).cast("long")).as("sum_chars"))
          .orderBy("bucket").localCheckpoint(true)
      }
    }),

    // ---- STREAMING index maintenance (VERDICT r19 item 4) — the last
    //      edge of the crawl->curate->index lifecycle: the same WET
    //      crawl stream and curation gates as q_cc_curation_stream,
    //      but each batch's survivors also fetch their precomputed
    //      embeddings (vec_id = doc_id — the upstream-embedder
    //      contract) and IndexStore.appendBatch them under FROZEN
    //      quantizers as a batchId-keyed idempotent delta
    //      (codes_inc/batch=<id> overwrite — exactly-once from
    //      at-least-once replay, same discipline as the curated
    //      landing sink; crash-replay is pinned in IndexStoreSpec).
    //      The base index holds the codebook-training slice 16..31
    //      from before the stream; streamed survivors skip those ids.
    //      Serve happens from a FRESH load (disk alone). The oracle
    //      re-derives the whole thing: curation survivors in SQL, then
    //      the q_s_index_persist ADC chain scored over
    //      {16..31} UNION survivors — so a dropped batch, a replayed
    //      duplicate, or a mis-celled delta all hash-fail. The require
    //      pins serve-after-stream == a one-shot in-memory build over
    //      the same id set.
    "q_s_index_stream" -> ((s, dir) => {
      val e = spreadEmb(s, dir)
      val queries = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val cents = llm.Similarity.initCentroids(e, "vec_id", "embedding", 16)
      val cb = llm.Similarity.pqCodebooksFixed(
        llm.Similarity.residualCorpus(e, "vec_id", "embedding", cents)
          .filter(col("vec_id").between(16, 31)),
        "vec_id", "embedding", m = 8, k = 16)
      val idxDir = tempFixtureDir("graft-ivfpq-stream").toString
      llm.IndexStore.save(
        llm.IndexStore.build("ivfpq_residual",
          e.filter(col("vec_id").between(16, 31)), "vec_id", "embedding",
          cents, cb), idxDir)
      val baseIdx = llm.IndexStore.load(s, idxDir)
      val docs = documents(s, dir)
        .select(col("doc_id"), col("text")).collect()
        .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
      def wet(part: Array[(Long, String)]): Array[Byte] =
        sources.Warc.writeRecords(part.map { case (id, text) =>
          ("conversion", s"http://graft.test/g/${id / 3}#d$id",
            "2024-03-01T12:00:00Z", "text/plain", text.getBytes("UTF-8"))
        }.toIndexedSeq, gzipPerRecord = true)
      val fixDir = tempFixtureDir("idx-stream")
      val outDir = tempFixtureDir("idx-landed")
      java.nio.file.Files.write(fixDir.resolve("wet-00001.warc.gz"),
        wet(docs.filter(_._1 % 2 == 0)))
      def curateAndIndex(batch: org.apache.spark.sql.DataFrame,
          batchId: Long): Unit = {
        val decoded = batch
          .filter(col("record_type") === "conversion")
          .select(col("target_uri"),
            regexp_extract(col("target_uri"), "#d(\\d+)$", 1)
              .cast("long").as("doc_id"),
            col("payload").cast("string").as("text"))
          .filter(llm.TextAnalysis.languageId(col("text")) === "en")
        // scan-local gopher gate — same one-pass rationale as
        // q_cc_curation_stream's curateBatch
        val kept = decoded.filter(llm.Curation.gopherPass(col("text"),
          minTokens = 30, maxTokens = 10000, maxDupTokenFrac = 0.6))
        val inBatch = llm.Curation.dedupByUrl(kept, col("target_uri"),
          Seq(col("doc_id")))
        val outPath = new org.apache.hadoop.fs.Path(outDir.toString)
        val ofs = outPath.getFileSystem(
          batch.sparkSession.sessionState.newHadoopConf())
        val priorDirs =
          (if (ofs.exists(outPath)) ofs.listStatus(outPath).toSeq else Nil)
            .filter(st => st.isDirectory &&
              st.getPath.getName.startsWith("batch="))
            .filter(_.getPath.getName.stripPrefix("batch=").toLong < batchId)
            .map(_.getPath.toString)
        val fresh =
          if (priorDirs.isEmpty) inBatch
          else {
            val seen = batch.sparkSession.read.parquet(priorDirs: _*)
              .select(llm.Curation.normalizeUrl(col("target_uri")).as("__u"))
            inBatch.join(seen,
              llm.Curation.normalizeUrl(col("target_uri")) === col("__u"),
              "left_anti")
          }
        fresh.write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
        // the new edge: survivors fetch their embeddings and append to
        // the index as this batch's idempotent delta. The landed batch
        // (just written) is the source of truth, so a replay re-derives
        // the identical delta. Ids 16..31 are already in the base.
        val embs = batch.sparkSession.read.parquet(s"$outDir/batch=$batchId")
          .select(col("doc_id"))
          .filter(!col("doc_id").between(16, 31))
          .join(spreadEmb(batch.sparkSession, dir),
            col("doc_id") === col("vec_id"))
          .select(col("vec_id"), col("embedding"))
        llm.IndexStore.appendBatch(baseIdx, idxDir, embs, "embedding",
          batchId)
      }
      withShufflePartitions(s, 4) {
        val q = sources.Warc.readStream(s, fixDir.toString)
          .writeStream
          .foreachBatch((df: org.apache.spark.sql.DataFrame, id: Long) =>
            curateAndIndex(df, id))
          .start()
        try {
          q.processAllAvailable()
          val tmp2 = fixDir.resolve(".wet-00002.warc.gz.tmp")
          java.nio.file.Files.write(tmp2, wet(docs.filter(_._1 % 2 == 1)))
          java.nio.file.Files.move(tmp2, fixDir.resolve("wet-00002.warc.gz"),
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          q.processAllAvailable()
        } finally q.stop()
      }
      def fmt(df: DataFrame) = df
        .select(col("query_id"), col("vec_id"), round(col("adc"), 6).as("adc"))
      val served = fmt(llm.IndexStore.load(s, idxDir)
          .search(queries, "query_id", "embedding", k = 10, nprobe = 3))
        .localCheckpoint(true)
      // one-shot build over the same survivor set must be
      // indistinguishable from the streamed appends
      val survivorIds = s.read.parquet(outDir.toString).select(col("doc_id"))
      val oneShotCorpus = e.join(survivorIds,
          col("vec_id") === col("doc_id"), "left_semi")
        .unionByName(e.filter(col("vec_id").between(16, 31)))
        .distinct()
      // checkpoint: both exceptAll directions read the one-shot serve —
      // without it the full build+search chain re-executes for the
      // second require arm (guide §1.2: don't compute things twice)
      val oneShot = fmt(llm.IndexStore
        .build("ivfpq_residual", oneShotCorpus, "vec_id", "embedding",
          cents, cb)
        .search(queries, "query_id", "embedding", k = 10, nprobe = 3))
        .localCheckpoint(true)
      require(served.exceptAll(oneShot).isEmpty &&
          oneShot.exceptAll(served).isEmpty,
        "streamed index serve != one-shot build over the same survivors")
      served.orderBy("query_id", "vec_id")
    }),

    // ---- the way-splitter at data scale: lineitem reinterpreted as
    //      way_nodes (way=order, node=part, seq=line order) — the full
    //      shared-node split chain on 600k rows at sf0.1, hash-checked
    //      against DuckDB running the same reference-shaped SQL
    "q_osm_split_scale" -> ((s, dir) => {
      val w = Window.partitionBy("way_id").orderBy("l_linenumber", "node_id")
      val wn = lineitem(s, dir)
        .select(col("l_orderkey").as("way_id"), col("l_partkey").as("node_id"),
          col("l_linenumber"))
        .withColumn("sequence_id", (row_number().over(w) - 1).cast("int"))
        .drop("l_linenumber")
        .localCheckpoint(true) // feeds 5 downstream stages
      // materialize every reused intermediate once, like the reference's
      // step tables (osm-road-graphs.sql creates a table per step): the
      // chain references shared/lengths/limits 2-4x each, and left as
      // views the DAG inlines each use — measured 48 scans of wn and 52
      // shuffles in one plan. Staged, the plan is linear and each stage
      // computes once. (On a cluster these would be bucketed step
      // tables / reliable checkpoints — see q_s11_bucketed.)
      val net = wn.select(col("way_id").as("edge_id")).distinct()
        .localCheckpoint(true)
      val ntm = osm.RoadGraph.splitChain(wn, net, net)
      val segs = ntm.groupBy("way_id", "group_id")
        .agg(array_join(
          RelOps.orderedListAgg(col("sequence_id"), col("node_id").cast("string")),
          ",").as("nodes_csv"))
        .select("way_id", "nodes_csv")
      val unsplit = wn
        .join(ntm.select("way_id").distinct(), Seq("way_id"), "left_anti")
        .groupBy("way_id")
        .agg(array_join(
          RelOps.orderedListAgg(col("sequence_id"), col("node_id").cast("string")),
          ",").as("nodes_csv"))
      segs.unionByName(unsplit).orderBy("way_id", "nodes_csv")
    }),

    // ---- the SAME split at data scale, array-first: 3 shuffles total
    //      (node ref-count, count join-back, per-way ordered collect) +
    //      codegen'd array slicing — no window, no range join, no step
    //      materialization. Same oracle as the relational chain: the
    //      two formulations must be row-identical.
    "q_osm_split_array" -> ((s, dir) => {
      val wn0 = lineitem(s, dir)
        .select(col("l_orderkey").as("way_id"), col("l_partkey").as("node_id"),
          col("l_linenumber"))
      osm.RoadGraph.splitSegments(wn0, "way_id", "node_id",
          struct(col("l_linenumber"), col("node_id")))
        .select(col("way_id"),
          array_join(transform(col("nodes"), _.cast("string")), ",")
            .as("nodes_csv"))
        .orderBy("way_id", "nodes_csv")
    }),

    // ---- complete-graph mode-flag cascade at DATA SCALE: ways
    //      synthesized deterministically from `part` (sf-proportional),
    //      full build chain (network -> median imputation -> cascade),
    //      aggregated per highway class. The oracle re-derives the same
    //      synthesis + cascade in SQL.
    "q_osm_complete_scale" -> ((s, dir) => {
      osm.CompleteGraph.build(scaleWays(s, dir), strictOsmSemantics = true)
        .groupBy("highway")
        .agg(count(lit(1)).as("cnt"),
          sum(when(col("car") === 1, 1L).otherwise(0L)).as("car_yes"),
          sum(when(col("car") === 0, 1L).otherwise(0L)).as("car_no"),
          sum(when(col("pedestrian") === 1, 1L).otherwise(0L)).as("ped_yes"),
          sum(when(col("bicycle") === 1, 1L).otherwise(0L)).as("bike_yes"),
          sum(col("speed_limit").cast("long")).as("speed_sum"))
        .orderBy("highway")
    }),

    // ---- tag k/v exploration at DATA SCALE over the same synthesized
    //      ways (osm-explore.sql:43-56 shape on sf-proportional rows)
    "q_osm_explore_scale" -> ((s, dir) => {
      osm.TagExplore.tagKvCounts(scaleWays(s, dir), "highway")
    }),

    // ---- OSM flagship pipeline on the micro fixture (the oracle rebuilds
    //      the same fixture with VALUES CTEs and re-derives the splitting
    //      in reference-shaped SQL — osm-road-graphs.sql:66-165)
    "q_osm_split_merge" -> ((s, dir) => {
      val t = osm.OsmModel.microFixture(s)
      val net = osm.RoadGraph.imputeSpeedLimits(
        osm.RoadGraph.excludeModes(osm.RoadGraph.carNetwork(t.ways)))
      osm.RoadGraph.buildMergedNetworkCached(t, "micro")
        .select(col("edge_id"),
          col("start_node"), col("end_node"),
          array_join(col("nodes").cast("array<string>"), ",").as("nodes_csv"))
        .orderBy("edge_id", "nodes_csv")
    }),

    // ---- OSM directed expansion, strict reference semantics incl. the
    //      NULL-oneway motorway drop (osm-road-graphs.sql:183-220)
    "q_osm_directed" -> ((s, dir) => {
      val t = osm.OsmModel.microFixture(s)
      // the merged network feeds all four direction branches: checkpoint
      // once instead of re-running the split chain per branch
      osm.RoadGraph.directed(
          osm.RoadGraph.buildMergedNetworkCached(t, "micro"),
          strictOsmSemantics = true)
        .select(col("edge_id"), col("start_node"), col("end_node"),
          array_join(col("nodes").cast("array<string>"), ",").as("nodes_csv"))
        .orderBy("edge_id", "start_node", "end_node", "nodes_csv")
    }),

    // ---- directed expansion under the documented evident-intent mode:
    //      NULL-oneway motorways become forward edges instead of
    //      silently vanishing in the reference's 3VL trap
    "q_osm_directed_intent" -> ((s, dir) => {
      val t = osm.OsmModel.microFixture(s)
      osm.RoadGraph.directed(
          osm.RoadGraph.buildMergedNetworkCached(t, "micro"),
          strictOsmSemantics = false)
        .select(col("edge_id"), col("start_node"), col("end_node"),
          array_join(col("nodes").cast("array<string>"), ",").as("nodes_csv"))
        .orderBy("edge_id", "start_node", "end_node", "nodes_csv")
    }),

    // ---- connected-components health check over the merged network
    //      (iterative min-label propagation; oracle = recursive CTE)
    // ---- exact triangle counting + local clustering coefficient
    //      (igraph count_triangles/transitivity_local): degree-ordered
    //      wedge join — orientation caps out-neighborhoods at O(sqrt m)
    //      so the wedge self-join is O(m^1.5) worst case, not sum-deg².
    //      Synthetic graph from lineitem keys mod 200 (sparse at
    //      sf0.01: varied clustering, non-vacuous triangles)
    "q_osm_triangles" -> ((s, dir) => {
      val e = lineitem(s, dir).select(
        (col("l_partkey") % 200).cast("long").as("start_node"),
        (col("l_suppkey") % 200).cast("long").as("end_node"))
      osm.GraphCheck.triangleCounts(e)
        .select(col("node_id"), col("degree"), col("triangles"),
          round(col("clustering"), 6).as("clustering"))
        .orderBy("node_id")
    }),

    // ---- k-core numbers by synchronous H-index iteration (8 fixed
    //      rounds, oracle-replayed; fixpoint = igraph coreness, spec-
    //      gated against sequential peeling)
    "q_osm_coreness" -> ((s, dir) => {
      val e = lineitem(s, dir).select(
        (col("l_partkey") % 200).cast("long").as("start_node"),
        (col("l_suppkey") % 200).cast("long").as("end_node"))
      osm.GraphCheck.coreness(e, rounds = 8)
        .orderBy("node_id")
    }),

    // ---- degree assortativity over the same synthetic graph: exact
    //      long sums, one float ratio at the end
    "q_osm_assortativity" -> ((s, dir) => {
      val e = lineitem(s, dir).select(
        (col("l_partkey") % 200).cast("long").as("start_node"),
        (col("l_suppkey") % 200).cast("long").as("end_node"))
      osm.GraphCheck.degreeAssortativity(e)
        .select(col("n_pairs"),
          round(col("assortativity"), 6).as("assortativity"))
    }),

    // ---- global transitivity over the same synthetic graph: 6T / Σd(d−1),
    //      exact longs until the final ratio
    "q_osm_transitivity" -> ((s, dir) => {
      val e = lineitem(s, dir).select(
        (col("l_partkey") % 200).cast("long").as("start_node"),
        (col("l_suppkey") % 200).cast("long").as("end_node"))
      osm.GraphCheck.globalTransitivity(e)
        .select(col("n_triangles"), col("wedges_x2"),
          round(col("transitivity"), 6).as("transitivity"))
    }),

    "q_osm_components" -> ((s, dir) => {
      val t = osm.OsmModel.microFixture(s)
      osm.GraphCheck.connectedComponents(
          osm.RoadGraph.buildMergedNetworkCached(t, "micro"))
        .orderBy("node_id")
    }),

    // ---- community detection: synchronous LPA, 3 fixed rounds,
    //      (max count, min label) tie order — a pure function of the
    //      edge set, replayed round-for-round by the oracle
    "q_osm_lpa" -> ((s, dir) => {
      val t = osm.OsmModel.microFixture(s)
      osm.GraphCheck.labelPropagation(
          osm.RoadGraph.buildMergedNetworkCached(t, "micro"), rounds = 3)
        .select(col("node_id"), col("label").as("community"))
        .orderBy("node_id")
    }),

    // ---- Newman modularity of the LPA communities — the first number
    //      every igraph user computes after community detection. Exact
    //      DECIMAL(38,0) numerator, one double ratio (the assortativity
    //      numeric contract), bit-matched by the oracle's HUGEINT sums.
    "q_osm_modularity" -> ((s, dir) => {
      val t = osm.OsmModel.microFixture(s)
      val edges = osm.RoadGraph.buildMergedNetworkCached(t, "micro")
      val labels = osm.GraphCheck.labelPropagation(edges, rounds = 3)
      osm.GraphCheck.modularity(edges, labels)
    }),

    // ---- one synchronous local-move refinement round (parallel
    //      Louvain phase-1 step) over the LPA labels: exact-integer
    //      gain test, all moves simultaneous — a pure function of the
    //      graph, replayed move-for-move by the oracle
    "q_osm_refine" -> ((s, dir) => {
      val t = osm.OsmModel.microFixture(s)
      val edges = osm.RoadGraph.buildMergedNetworkCached(t, "micro")
      val labels = osm.GraphCheck.labelPropagation(edges, rounds = 3)
      osm.GraphCheck.refineCommunities(edges, labels)
        .select(col("node_id"), col("label").as("community"))
        .orderBy("node_id")
    }),

    // ---- the full distributed Louvain phase-1 loop: three chained
    //      synchronous local-move rounds over the LPA labels, every
    //      round's stats recomputed from the previous — the oracle
    //      unrolls the identical three rounds in HUGEINT
    "q_osm_louvain" -> ((s, dir) => {
      val t = osm.OsmModel.microFixture(s)
      val edges = osm.RoadGraph.buildMergedNetworkCached(t, "micro")
      val labels = osm.GraphCheck.labelPropagation(edges, rounds = 3)
      osm.GraphCheck.refineCommunitiesRounds(edges, labels, rounds = 3)
        .select(col("node_id"), col("label").as("community"))
        .orderBy("node_id")
    }),

    // ---- Louvain phase-2 coarsening: LPA communities collapsed to
    //      super-nodes, internal edges riding self-loops — the exact
    //      weighted community graph the multi-level loop runs on
    "q_osm_coarsen" -> ((s, dir) => {
      val t = osm.OsmModel.microFixture(s)
      val edges = osm.RoadGraph.buildMergedNetworkCached(t, "micro")
      val labels = osm.GraphCheck.labelPropagation(edges, rounds = 3)
      osm.GraphCheck.coarsenGraph(edges, labels)
        .select(col("start_node").as("community_a"),
          col("end_node").as("community_b"), col("w"))
        .orderBy("community_a", "community_b")
    }),

    // ---- weighted modularity of the coarsened graph under identity
    //      labels — must equal q_osm_modularity's Q bit-for-bit (the
    //      invariant multi-level Louvain rests on), re-derived by the
    //      oracle from the coarse graph's self-loops and strengths
    "q_osm_modularity2" -> ((s, dir) => {
      val t = osm.OsmModel.microFixture(s)
      val edges = osm.RoadGraph.buildMergedNetworkCached(t, "micro")
      val labels = osm.GraphCheck.labelPropagation(edges, rounds = 3)
      val ident = labels.select(col("label").as("node_id")).distinct()
        .withColumn("label", col("node_id"))
      osm.GraphCheck.modularityWeighted(
        osm.GraphCheck.coarsenGraph(edges, labels), ident)
    }),

    // ---- two-level Louvain: 3 phase-1 sweeps, coarsen, 2 weighted
    //      parity-alternated sweeps on the community graph, project
    //      back — every move replayed in HUGEINT by the oracle
    "q_osm_louvain2" -> ((s, dir) => {
      val t = osm.OsmModel.microFixture(s)
      val edges = osm.RoadGraph.buildMergedNetworkCached(t, "micro")
      val labels = osm.GraphCheck.labelPropagation(edges, rounds = 3)
      osm.GraphCheck.louvainTwoLevel(edges, labels,
          level1Rounds = 3, level2Rounds = 2)
        .select(col("node_id"), col("label").as("community"))
        .orderBy("node_id")
    }),

    // ---- connected components at DATA SCALE on a worst-case topology:
    //      64-node CHAIN components synthesized from part (edge k->k+1
    //      unless k % 64 == 0). Chains are the adversarial case for
    //      naive min-label propagation (needs 64 rounds = the diameter);
    //      pointer jumping converges in ~log2(64). The oracle is the
    //      closed form of the block structure.
    "q_osm_components_scale" -> ((s, dir) => {
      val edges = part(s, dir)
        .filter(col("p_partkey") % 64 =!= 0)
        .select(col("p_partkey").cast("long").as("start_node"),
          (col("p_partkey") + 1).cast("long").as("end_node"))
      osm.GraphCheck.connectedComponents(edges).orderBy("node_id")
    }),

    // ---- OSM median speed imputation (osm-road-graphs.sql:43-54)
    "q_osm_impute" -> ((s, dir) => {
      val t = osm.OsmModel.microFixture(s)
      osm.RoadGraph.imputeSpeedLimits(
          osm.RoadGraph.excludeModes(osm.RoadGraph.carNetwork(t.ways)))
        .select(col("edge_id"), col("highway"), col("speed_limit"))
        .orderBy("edge_id")
    }),

    // ---- osm-explore flagship summary on the fixture (tagValueCounts,
    //      osm-explore.sql:10-16 — the §7.2 minimum slice on OSM data)
    "q_osm_explore" -> ((s, dir) => {
      val t = osm.OsmModel.microFixture(s)
      osm.TagExplore.tagValueCounts(t.ways, "highway")
    }),

    // ---- relations tag summaries (osm-explore.sql:211-249): the four
    //      *_relations_values tables stacked with a tag discriminator
    "q_rel_explore" -> ((s, dir) => {
      val (rels, _) = osm.OsmModel.microRelations(s)
      val stacked = Seq("amenity", "leisure", "sport", "landuse").map { k =>
        osm.TagExplore.tagValueCounts(rels, k)
          .select(lit(k).as("tag"), col(k).as("value"), col("count"))
      }
      RelOps.unionAll(stacked).orderBy("tag", "value")
    }),

    // ---- relation_members end-to-end: relation 'type' x member_type
    //      membership stats through the members join
    "q_rel_members" -> ((s, dir) => {
      val (rels, members) = osm.OsmModel.microRelations(s)
      rels.select(col("id").as("relation_id"),
          element_at(col("tags"), "type").as("rel_type"))
        .join(members, "relation_id")
        .groupBy("rel_type", "member_type")
        .agg(count(lit(1)).as("cnt"),
          countDistinct(col("relation_id")).as("n_rels"))
        .orderBy("rel_type", "member_type")
    }),

    // ---- multipolygon assembly from raw pgsnapshot relation members:
    //      ring stitching across split/reversed ways, holes subtracted.
    //      Areas in milli-degree² on the 0.001° fixture grid; the
    //      oracle restates the hand-derived ring accounting (301:
    //      4×4 outer − 1×1 hole; 302: right triangle 3×3/2; 303: 3×3
    //      stitched from 3 ways, one reversed; 304: two unit squares).
    "q_rel_multipolygon" -> ((s, dir) => {
      val (members, ways) = osm.Multipolygon.fixture(s)
      osm.Multipolygon.multipolygonAreas(members, ways)
        .select(col("relation_id"), col("n_outer"), col("n_inner"),
          round(col("area_deg2") * 1e6, 6).as("area_mdeg2"))
        .orderBy("relation_id")
    }),

    // ---- point-in-multipolygon (ST_Contains with holes): probes
    //      chosen per regime — interior, inside-the-hole (must drop),
    //      each disjoint outer, and fully outside. Grid-bucketed
    //      containment join + hole anti-join; oracle restates the
    //      hand-checked membership.
    "q_rel_mp_contains" -> ((s, dir) => {
      import s.implicits._
      val (members, ways) = osm.Multipolygon.fixture(s)
      val pts = Seq(
        (1L, 0.003, 0.003),   // 301 interior (outside the hole)
        (2L, 0.0015, 0.0015), // inside 301's hole -> NOT contained
        (3L, 0.011, 0.0005),  // 302 triangle interior
        (4L, 0.021, 0.001),   // 303 interior
        (5L, 0.0335, 0.0005), // 304's second square
        (6L, 0.05, 0.05))     // outside everything
        .toDF("point_id", "lon", "lat")
        .select(col("point_id"),
          struct(col("lon"), col("lat")).as("p"))
      osm.Multipolygon.containsJoin(pts, "point_id", col("p"),
          members, ways, cellDeg = 0.002)
        .orderBy("point_id", "relation_id")
    }),

    // ---- complete multi-modal network with car/pedestrian/bicycle
    //      flags (osm-complete-graphs.sql:8-151, strict semantics incl.
    //      the AND/OR-precedence quirk; oracle mirrors the cascade)
    "q_osm_complete_flags" -> ((s, dir) => {
      val t = osm.OsmModel.microFixture(s)
      osm.CompleteGraph.build(t.ways, strictOsmSemantics = true)
        .select(col("edge_id"), col("highway"),
          col("car").cast("short").as("car"),
          col("pedestrian").cast("short").as("pedestrian"),
          col("bicycle").cast("short").as("bicycle"))
        .orderBy("edge_id")
    }),

    // ---- mode-flag cascade under evident intent: the NULL-guard
    //      distributes over both disjuncts of the pedestrian/bicycle
    //      dedicated rules, so a designated-footway match can no longer
    //      overturn an earlier pedestrian=0
    "q_osm_complete_intent" -> ((s, dir) => {
      val t = osm.OsmModel.microFixture(s)
      osm.CompleteGraph.build(t.ways, strictOsmSemantics = false)
        .select(col("edge_id"), col("highway"),
          col("car").cast("short").as("car"),
          col("pedestrian").cast("short").as("pedestrian"),
          col("bicycle").cast("short").as("bicycle"))
        .orderBy("edge_id")
    }),

    // ---- OSM POI pivot from nodes (osm-pois-extract.sql:3-48)
    "q_osm_pois_nodes" -> ((s, dir) => {
      val t = osm.OsmModel.microFixture(s)
      osm.PoisExtract.poisNodes(t.nodes)
        .select(col("node_id"), col("key"), col("values"), col("name"))
        .orderBy("node_id", "key")
    }),

    // ---- distributed routing (pgr_dijkstra analog): single-source
    //      shortest paths over the strict directed graph by Pregel
    //      relaxation — one equi-join + min-agg per round, rounds
    //      bounded by shortest-path-tree hop depth. Weights ride exact
    //      integer CENTIMETERS (round(length*100)::BIGINT) so path
    //      sums are bit-portable across engines — the hopping-window
    //      lesson applied to routing. Unreachable nodes absent.
    // ---- turn-restricted routing (pgr_trsp analog): SSSP over the
    //      edge-expanded diamond fixture with restrictions extracted
    //      from type=restriction relations by the REAL extractor — the
    //      banned straight-on (201->202 via 2) forces the 2-3-4 detour
    //      (dist 4 instead of 2) and the mandatory only_right
    //      (205->204 via 3) closes the 2-3-5 shortcut (dist 4 via the
    //      long branch instead of 3)
    "q_osm_route_restricted" -> ((s, dir) => {
      import s.implicits._
      val edges = Seq(
        (1L, 1L, 2L, 1L, 201L), (2L, 2L, 4L, 1L, 202L),
        (3L, 1L, 3L, 3L, 203L), (4L, 3L, 4L, 2L, 204L),
        (5L, 2L, 3L, 1L, 205L), (6L, 3L, 5L, 1L, 206L)
      ).toDF("edge_id", "start_node", "end_node", "w", "way_id")
      val (rels, mems) = osm.OsmModel.restrictionRelations(s)
      val restr = osm.RoadGraph.turnRestrictions(rels, mems)
      osm.GraphCheck.restrictedShortestPaths(edges, restr, source = 1L)
        .orderBy("node_id")
    }),

    // ---- the full pgr_trsp surface: point-to-point restricted route
    //      WITH path reconstruction — pgRouting-shaped rows
    //      (seq, node_id, edge_id, agg_cost); the banned straight-on
    //      forces 1-2-3-4 over the direct 1-2-4
    "q_osm_route_restricted_path" -> ((s, dir) => {
      import s.implicits._
      val edges = Seq(
        (1L, 1L, 2L, 1L, 201L), (2L, 2L, 4L, 1L, 202L),
        (3L, 1L, 3L, 3L, 203L), (4L, 3L, 4L, 2L, 204L),
        (5L, 2L, 3L, 1L, 205L), (6L, 3L, 5L, 1L, 206L)
      ).toDF("edge_id", "start_node", "end_node", "w", "way_id")
      val (rels, mems) = osm.OsmModel.restrictionRelations(s)
      val restr = osm.RoadGraph.turnRestrictions(rels, mems)
      val (es, ns, _) = osm.GraphCheck.restrictedRoute(
        edges, restr, source = 1L, target = 4L).get
      val w = edges.filter(col("edge_id").isin(es: _*))
        .select(col("edge_id"), col("w")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val rows = (0L, ns.head, None: Option[Long], 0L) +:
        es.zipWithIndex.map { case (e, i) =>
          ((i + 1).toLong, ns(i + 1), Some(e): Option[Long],
            es.take(i + 1).map(w).sum)
        }
      rows.toDF("seq", "node_id", "edge_id", "agg_cost").orderBy("seq")
    }),

    // ---- VIA-WAY restrictions (the pgr_trsp surface node-via bans
    //      cannot express): shadow states ban the full F-V-T sequence
    //      while partial uses of V stay legal — route r1 (1->4) must
    //      exit V mid-way, route r0 (0->4, side entry) keeps V->T.
    //      The oracle is a completely different algorithm: hop-bounded
    //      path enumeration banning the contiguous edge triple.
    "q_osm_route_viaway" -> ((s, dir) => {
      import s.implicits._
      val edges = Seq(
        (1L, 1L, 2L, 1L, 101L), (2L, 2L, 3L, 1L, 102L),
        (3L, 3L, 4L, 1L, 103L), (4L, 2L, 5L, 5L, 104L),
        (5L, 5L, 4L, 5L, 105L), (6L, 3L, 6L, 1L, 106L),
        (7L, 6L, 4L, 4L, 107L), (8L, 0L, 2L, 1L, 108L)
      ).toDF("edge_id", "start_node", "end_node", "w", "way_id")
      val (rels, mems) = osm.OsmModel.viaWayRestrictionRelations(s)
      val restr = osm.RoadGraph.turnRestrictionsVia(rels, mems)
      // build + checkpoint the shadow-state expansion ONCE for both
      // routes (r21): it is a pure function of (edges, restr), and the
      // per-route form re-derived its whole join chain per od-pair
      val sgRaw = osm.GraphCheck.restrictedStateGraph(edges, restr)
      val sg = (sgRaw._1.localCheckpoint(true), sgRaw._2.localCheckpoint(true))
      def rows(tag: String, src: Long) = {
        val (es, ns, _) = osm.GraphCheck.restrictedRouteOn(
          sg, edges, src, 4L).get
        val wm = edges.filter(col("edge_id").isin(es: _*))
          .select(col("edge_id"), col("w")).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        (tag, 0L, ns.head, None: Option[Long], 0L) +:
          es.zipWithIndex.map { case (e, i) =>
            (tag, (i + 1).toLong, ns(i + 1), Some(e): Option[Long],
              es.take(i + 1).map(wm).sum)
          }
      }
      (rows("r0", 0L) ++ rows("r1", 1L))
        .toDF("route", "seq", "node_id", "edge_id", "agg_cost")
        .orderBy("route", "seq")
    }),

    "q_osm_route" -> ((s, dir) => {
      val t = osm.OsmModel.microFixture(s)
      val merged = osm.RoadGraph.buildMergedNetworkCached(t, "micro")
      val e = osm.RoadGraph.directed(merged)
        .select(col("start_node"), col("end_node"),
          round(col("length") * 100).cast("long").as("w"))
      osm.GraphCheck.shortestPaths(e, source = 1L)
        .select(col("node_id"), col("dist").as("dist_cm"))
        .orderBy("node_id")
    }),

    // ---- accessibility (multi-source SSSP): each node's network
    //      distance to its NEAREST amenity — the street-network
    //      analysis the reference's graphs exist to serve. Seeding
    //      every POI node at distance 0 costs the same as one source;
    //      integer-centimeter weights keep it hash-exact.
    "q_osm_accessibility" -> ((s, dir) => {
      val t = osm.OsmModel.microFixture(s)
      val merged = osm.RoadGraph.buildMergedNetworkCached(t, "micro")
      val e = osm.RoadGraph.directed(merged)
        .select(col("start_node"), col("end_node"),
          round(col("length") * 100).cast("long").as("w"))
      // the POI nodes that are graph vertices (cafe n5, bakery n6)
      osm.GraphCheck.multiSourceShortestPaths(e, Seq(5L, 6L))._1
        .select(col("node_id"), col("dist").as("dist_cm"))
        .orderBy("node_id")
    }),

    // ---- isochrone (pgr_drivingDistance): the service area within a
    //      network-distance cutoff — SSSP composed with a filter, no
    //      new operator needed. Cutoff 3300 m keeps {1, 3} and proves
    //      real pruning (node 4 sits at 3335.85 m).
    "q_osm_isochrone" -> ((s, dir) => {
      val t = osm.OsmModel.microFixture(s)
      val merged = osm.RoadGraph.buildMergedNetworkCached(t, "micro")
      val e = osm.RoadGraph.directed(merged)
        .select(col("start_node"), col("end_node"),
          round(col("length") * 100).cast("long").as("w"))
      osm.GraphCheck.multiSourceShortestPaths(e, Seq(1L))._1
        .filter(col("dist") <= 330000L)
        .select(col("node_id"), col("dist").as("dist_cm"))
        .orderBy("node_id")
    }),

    // ---- isochrone POLYGON (pgr_drivingDistance + pgr_alphaShape —
    //      the pair the reference's pgRouting consumer emits service
    //      areas with): reached nodes within 3400 m of node 1
    //      ({1,3,4,5,6} — node 4 and the two spur nodes sit at
    //      3335.85 m) snap to 0.02-degree cells {(0,0),(1,0),(1,-1)},
    //      whose union outline is a CONCAVE (L-shaped) ring traced
    //      interior-left (ServiceArea.cellUnionRings). Hand-derived
    //      ring oracle; cell relation is area-bounded (the 100 TB
    //      shape), the ring walk is presentation-sized driver work.
    "q_osm_isochrone_poly" -> ((s, dir) => {
      import s.implicits._
      val t = osm.OsmModel.microFixture(s)
      val merged = osm.RoadGraph.buildMergedNetworkCached(t, "micro")
      val e = osm.RoadGraph.directed(merged)
        .select(col("start_node"), col("end_node"),
          round(col("length") * 100).cast("long").as("w"))
      val reached = osm.GraphCheck.multiSourceShortestPaths(e, Seq(1L))._1
        .filter(col("dist") <= 340000L)
      val coords = t.nodes.select(col("id").as("node_id"),
        col("geom.lon").as("lon"), col("geom.lat").as("lat"))
      val cells = osm.ServiceArea.isochroneCells(reached, coords, 0.02)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      osm.ServiceArea.cellUnionRings(cells, 0.02)
        .toDF("ring_id", "seq", "lon", "lat")
        .select(col("ring_id"), col("seq"),
          round(col("lon"), 9).as("lon"), round(col("lat"), 9).as("lat"))
        .orderBy("ring_id", "seq")
    }),

    // ---- sampled closeness centrality (the space-syntax accessibility
    //      measure the reference's igraph hand-off computes): per node,
    //      the exact integer SUM of distances from every sampled source
    //      that reaches it + the reaching count — division happens at
    //      presentation time, so the relation stays hash-exact.
    "q_osm_closeness" -> ((s, dir) => {
      val t = osm.OsmModel.microFixture(s)
      val merged = osm.RoadGraph.buildMergedNetworkCached(t, "micro")
      val e = osm.RoadGraph.directed(merged)
        .select(col("start_node"), col("end_node"),
          round(col("length") * 100).cast("long").as("w"))
      osm.GraphCheck.closenessFromSources(e, Seq(1L, 3L, 4L, 5L, 6L))
        .select(col("node_id"), col("sum_dist").as("sum_cm"), col("n_from"))
        .orderBy("node_id")
    }),

    // ---- sampled harmonic centrality: the disconnected-robust sibling
    //      of closeness (unreached pairs contribute 0); per-meter scale
    //      applied BEFORE rounding so the cm-exact distances keep
    //      six significant digits
    "q_osm_harmonic" -> ((s, dir) => {
      val t = osm.OsmModel.microFixture(s)
      val merged = osm.RoadGraph.buildMergedNetworkCached(t, "micro")
      val e = osm.RoadGraph.directed(merged)
        .select(col("start_node"), col("end_node"),
          round(col("length") * 100).cast("long").as("w"))
      osm.GraphCheck.harmonicFromSources(e, Seq(1L, 3L, 4L, 5L, 6L))
        .select(col("node_id"), col("n_from"),
          round(col("inv_sum") * 100, 6).as("harmonic_per_m"))
        .orderBy("node_id")
    }),

    // ---- sampled eccentricity per seed (max network distance + reach
    //      count): exact integer centimeters; max over seeds = diameter
    //      lower bound, min = radius upper bound
    "q_osm_eccentricity" -> ((s, dir) => {
      val t = osm.OsmModel.microFixture(s)
      val merged = osm.RoadGraph.buildMergedNetworkCached(t, "micro")
      val e = osm.RoadGraph.directed(merged)
        .select(col("start_node"), col("end_node"),
          round(col("length") * 100).cast("long").as("w"))
      osm.GraphCheck.eccentricityFromSources(e, Seq(1L, 3L, 4L, 5L, 6L))
        .select(col("node_id"), col("ecc").as("ecc_cm"), col("reached"))
        .orderBy("node_id")
    }),

    // ---- pseudo-diameter: the classical two-sweep BFS bound (hop
    //      metric, ties to the smallest id) — the scale-sane diameter
    //      estimate; the oracle replays both sweeps
    "q_osm_pseudo_diameter" -> ((s, dir) => {
      val t = osm.OsmModel.microFixture(s)
      val merged = osm.RoadGraph.buildMergedNetworkCached(t, "micro")
      val e = osm.RoadGraph.directed(merged)
      osm.GraphCheck.pseudoDiameter(e, seed = 1L)
    }),

    // ---- HITS hubs/authorities, 10 sum-normalized synchronous rounds
    //      over the directed graph — the oracle unrolls the identical
    //      chain in doubles, round(6) absorbing addition order
    "q_osm_hits" -> ((s, dir) => {
      val t = osm.OsmModel.microFixture(s)
      val merged = osm.RoadGraph.buildMergedNetworkCached(t, "micro")
      val e = osm.RoadGraph.directed(merged)
      osm.GraphCheck.hits(e, iters = 10)
        .select(col("node_id"), round(col("hub"), 6).as("hub"),
          round(col("authority"), 6).as("authority"))
        .orderBy("node_id")
    }),

    // ---- sampled betweenness centrality (Brandes from seed sources) —
    //      completes the space-syntax centrality pair with closeness;
    //      the oracle enumerates ALL simple paths from each seed,
    //      keeps per-(s,t) shortest ones, and counts pass-throughs.
    "q_osm_betweenness" -> ((s, dir) => {
      val t = osm.OsmModel.microFixture(s)
      val merged = osm.RoadGraph.buildMergedNetworkCached(t, "micro")
      val e = osm.RoadGraph.directed(merged)
        .select(col("start_node"), col("end_node"),
          round(col("length") * 100).cast("long").as("w"))
      osm.GraphCheck.betweennessFromSources(e, Seq(1L, 3L, 4L, 5L, 6L))
        .select(col("node_id"),
          round(col("betweenness"), 6).as("betweenness"))
        .orderBy("node_id")
    }),

    // ---- K shortest paths (pgr_ksp, Yen): route alternatives over the
    //      rebuilt graph augmented with two fixed shortcut edges (the
    //      micro network is a tree — without them there is exactly one
    //      simple 1→4 path and KSP is vacuous). Integer-centimeter
    //      weights; rank ties (none here) break on the path string.
    "q_osm_ksp" -> ((s, dir) => {
      import s.implicits._
      val t = osm.OsmModel.microFixture(s)
      val merged = osm.RoadGraph.buildMergedNetworkCached(t, "micro")
      val base = osm.RoadGraph.directed(merged)
        .select(col("start_node"), col("end_node"),
          round(col("length") * 100).cast("long").as("w"))
      val shortcuts = Seq((1L, 5L, 150000L), (6L, 4L, 140000L))
        .toDF("start_node", "end_node", "w")
      val e = base.unionByName(shortcuts)
      osm.GraphCheck.kShortestPaths(e, source = 1L, target = 4L, k = 3)
        .zipWithIndex
        .map { case ((p, d), i) =>
          (i.toLong + 1, p.mkString(","), math.round(d)) }
        .toDF("rank", "path", "dist_cm").orderBy("rank")
    }),

    // ---- strongly connected components (pgr_strongComponents): the
    //      DIRECTED routable-core health check — oneway tags create
    //      one-way-in pockets that undirected components can't see.
    //      Label = max node id of the SCC (deterministic, so the
    //      mutual-reachability oracle reproduces it exactly).
    "q_osm_scc" -> ((s, dir) => {
      val t = osm.OsmModel.microFixture(s)
      val merged = osm.RoadGraph.buildMergedNetworkCached(t, "micro")
      val e = osm.RoadGraph.directed(merged)
        .select(col("start_node"), col("end_node"))
      osm.GraphCheck.stronglyConnectedComponents(e)
        .select(col("node_id"), col("scc"))
        .orderBy("node_id")
    }),

    // ---- PageRank over the strict directed graph: 20 fixed
    //      iterations, dangling mass leaks (both sides implement the
    //      same semantics); 8-place rounding absorbs the ~1e-14
    //      partition-order float drift in the per-node inbound sums.
    "q_osm_pagerank" -> ((s, dir) => {
      val t = osm.OsmModel.microFixture(s)
      val merged = osm.RoadGraph.buildMergedNetworkCached(t, "micro")
      val e = osm.RoadGraph.directed(merged)
        .select(col("start_node"), col("end_node"))
      osm.GraphCheck.pageRank(e, iters = 20)
        .select(col("node_id"), round(col("rank"), 8).as("rank"))
        .orderBy("node_id")
    }),

    // ---- personalized PageRank (random walk with restart from seeds
    //      {1, 4}): teleport mass on the seed set only — the
    //      relevance-to-these-nodes score; identical chain economics
    //      to q_osm_pagerank, oracle unrolls the seeded variant
    "q_osm_ppr" -> ((s, dir) => {
      val t = osm.OsmModel.microFixture(s)
      val merged = osm.RoadGraph.buildMergedNetworkCached(t, "micro")
      val e = osm.RoadGraph.directed(merged)
        .select(col("start_node"), col("end_node"))
      osm.GraphCheck.personalizedPageRank(e, Seq(1L, 4L), iters = 20)
        .select(col("node_id"), round(col("rank"), 8).as("rank"))
        .orderBy("node_id")
    }),

    // ---- pgr_dijkstraCost many-to-many matrix: exact integer-cm
    //      costs, no self rows, unreachable pairs absent — the
    //      VRP/logistics input surface
    "q_osm_cost_matrix" -> ((s, dir) => {
      val t = osm.OsmModel.microFixture(s)
      val merged = osm.RoadGraph.buildMergedNetworkCached(t, "micro")
      val e = osm.RoadGraph.directed(merged)
        .select(col("start_node"), col("end_node"),
          round(col("length") * 100).cast("long").as("w"))
      osm.GraphCheck.costMatrix(e, Seq(1L, 3L, 5L), Seq(4L, 5L, 6L))
        .select(col("start_vid"), col("end_vid"),
          col("agg_cost").as("cost_cm"))
        .orderBy("start_vid", "end_vid")
    }),

    // ---- routing with PATH reconstruction (what pgr_dijkstra actually
    //      returns): predecessor-tracking relaxation + O(path-length)
    //      driver walk-back — never a full collect of the distance
    //      relation. Ties (none on this fixture) break on the smaller
    //      predecessor, so the sequence is deterministic.
    "q_osm_route_path" -> ((s, dir) => {
      import s.implicits._
      val t = osm.OsmModel.microFixture(s)
      val merged = osm.RoadGraph.buildMergedNetworkCached(t, "micro")
      val e = osm.RoadGraph.directed(merged)
        .select(col("start_node"), col("end_node"),
          round(col("length") * 100).cast("long").as("w"))
      val (path, total) = osm.GraphCheck.shortestPathTo(e, 1L, 4L).get
      path.zipWithIndex
        .map { case (n, i) => (i.toLong + 1, n, math.round(total)) }
        .toDF("seq", "node_id", "total_cm").orderBy("seq")
    }),

    // ---- pgRouting result-relation shape (pgr_dijkstra): per-edge
    //      rows (seq, path_seq, node, edge, cost, agg_cost) for the
    //      1→4 route — the exact relation osm-pg-etl.md:55-78
    //      consumers script against. `edge` is the way-derived edge id
    //      from the merged network; terminal row edge=-1, cost=0.
    "q_osm_route_edges" -> ((s, dir) => {
      val t = osm.OsmModel.microFixture(s)
      val merged = osm.RoadGraph.buildMergedNetworkCached(t, "micro")
      // checkpoint ONCE: the route search and the edge-row attribution
      // both consume this relation — without it each re-runs the whole
      // merged-network build
      val e = osm.RoadGraph.directed(merged)
        .select(col("start_node"), col("end_node"), col("edge_id"),
          round(col("length") * 100).cast("long").as("w"))
        .localCheckpoint(true)
      val (path, _) = osm.GraphCheck.shortestPathTo(
        e.select("start_node", "end_node", "w"), 1L, 4L).get
      osm.GraphCheck.routeEdgeRows(e, Seq((1L, path)))
        .select(col("seq"), col("path_seq"), col("node"), col("edge"),
          col("cost").cast("long").as("cost_cm"),
          col("agg_cost").cast("long").as("agg_cm"))
        .orderBy("seq")
    }),

    // ---- pgRouting result-relation shape (pgr_drivingDistance): the
    //      service area within 3400 m of node 1 with each node's
    //      predecessor edge — reaches {1,3,4,5,6} on the micro fixture
    //      (3,5,6 at 2223.9/3335.85/3335.85 m, 4 at 3335.85 m); seed
    //      row carries edge=-1. Attribution is the relational
    //      dist(u)+w=dist(v) join, no pred state in the SSSP loop.
    "q_osm_driving_edges" -> ((s, dir) => {
      val t = osm.OsmModel.microFixture(s)
      val merged = osm.RoadGraph.buildMergedNetworkCached(t, "micro")
      val e = osm.RoadGraph.directed(merged)
        .select(col("start_node"), col("end_node"), col("edge_id"),
          round(col("length") * 100).cast("long").as("w"))
      osm.GraphCheck.drivingDistanceRows(e, Seq(1L), cutoff = 340000.0)
        .select(col("node_id"), col("edge"),
          col("cost").cast("long").as("cost_cm"),
          col("agg_cost").cast("long").as("agg_cm"))
        .orderBy("node_id")
    }),

    // ---- pgRouting result-relation shape (pgr_ksp): the same per-edge
    //      rows with path_id rank over the 3 KSP alternatives on the
    //      shortcut-augmented graph (shortcuts get synthetic edge ids
    //      9001/9002, exactly how pgRouting users tag virtual edges).
    "q_osm_ksp_edges" -> ((s, dir) => {
      import s.implicits._
      val t = osm.OsmModel.microFixture(s)
      val merged = osm.RoadGraph.buildMergedNetworkCached(t, "micro")
      val base = osm.RoadGraph.directed(merged)
        .select(col("start_node"), col("end_node"), col("edge_id"),
          round(col("length") * 100).cast("long").as("w"))
      val shortcuts = Seq((1L, 5L, 9001L, 150000L), (6L, 4L, 9002L, 140000L))
        .toDF("start_node", "end_node", "edge_id", "w")
      val e = base.unionByName(shortcuts).localCheckpoint(true)
      val ks = osm.GraphCheck.kShortestPaths(
        e.select("start_node", "end_node", "w"), 1L, 4L, k = 3)
      osm.GraphCheck.routeEdgeRows(e,
          ks.zipWithIndex.map { case ((p, _), i) => (i.toLong + 1, p) })
        .select(col("seq"), col("path_id"), col("path_seq"), col("node"),
          col("edge"),
          col("cost").cast("long").as("cost_cm"),
          col("agg_cost").cast("long").as("agg_cm"))
        .orderBy("seq")
    }),

    // ---- A* routing (pgr_aStar): the same 1→4 route as
    //      q_osm_route_path through the heuristic-guided search — the
    //      great-circle heuristic is admissible+consistent over
    //      haversine-cm weights, so the path and total are IDENTICAL
    //      to Dijkstra's and the route_path oracle re-verifies them
    //      independently. Coords come from the fixture's node table
    //      (semi-join-pruned inside aStarPathTo).
    "q_osm_astar" -> ((s, dir) => {
      import s.implicits._
      val t = osm.OsmModel.microFixture(s)
      val merged = osm.RoadGraph.buildMergedNetworkCached(t, "micro")
      val e = osm.RoadGraph.directed(merged)
        .select(col("start_node"), col("end_node"),
          round(col("length") * 100).cast("long").as("w"))
      val coords = t.nodes.select(col("id").as("node_id"),
        col("geom.lon").as("lon"), col("geom.lat").as("lat"))
      val (path, total, settled) =
        osm.GraphCheck.aStarPathTo(e, coords, 1L, 4L).get
      require(settled > 0 && settled <= path.size + 2,
        s"A* settled $settled nodes for a ${path.size}-node path")
      path.zipWithIndex
        .map { case (n, i) => (i.toLong + 1, n, math.round(total)) }
        .toDF("seq", "node_id", "total_cm").orderBy("seq")
    }),

    // ---- OSM POI-to-network snap (the pgRouting stop-matching step):
    //      POIs from the micro fixture snapped onto the merged network
    //      via the grid-bucketed nearest-edge join. The bench (n11)
    //      lies on the INTERIOR of W9's chord — the edge snap is exact
    //      where nearest-vertex would be 0.01 deg off. Rounded outputs
    //      (12/9 places) absorb the ~1e-33 projection residue; the
    //      oracle states the known snap set literally.
    "q_osm_snap_pois" -> ((s, dir) => {
      val t = osm.OsmModel.microFixture(s)
      val merged = osm.RoadGraph.buildMergedNetworkCached(t, "micro")
      osm.RoadGraph.snapPois(osm.PoisExtract.poisNodes(t.nodes), merged)
        .select(col("node_id"), col("edge_id"),
          round(col("dist2"), 12).as("d2"),
          round(col("snap_x"), 9).as("snap_x"),
          round(col("snap_y"), 9).as("snap_y"))
        .orderBy("node_id")
    }),

    // ---- OSM POI pivot from ways (osm-pois-extract.sql:51-71): same
    //      branch-union shape as the nodes half plus the `highway IS
    //      NULL` exclusion guard — fixture way 110 carries BOTH leisure
    //      and highway and must be excluded; 112 carries two POI keys
    //      and surfaces once per key
    "q_osm_pois_ways" -> ((s, dir) => {
      osm.PoisExtract.poisWays(osm.OsmModel.poisWaysFixture(s))
        .select(col("way_id"), col("key"), col("values"), col("name"))
        .orderBy("way_id", "key")
    }),

    // ---- Approach 1b: split at TRUE geometric crossings — ways that
    //      cross with no shared vertex (osm-road-graphs-fix.sql:93-111).
    //      Grid-bucketed segment-pair equi-join (never all-pairs; the
    //      reference's own ST_Crosses form is flagged "Does not work
    //      with large maps"); the X fixture must yield 4 halves meeting
    //      at (0.01, 0.01), the endpoint-touch pair must NOT split.
    //      Oracle = the hand-computed expected geometry.
    "q_osm_cross_split" -> ((s, dir) => {
      osm.GeometricSplit.splitWithCrossings(osm.GeometricSplit.crossingFixture(s))
        .select(col("edge_id"),
          round(element_at(col("geom"), 1).getField("lon"), 6).as("x1"),
          round(element_at(col("geom"), 1).getField("lat"), 6).as("y1"),
          round(element_at(col("geom"), -1).getField("lon"), 6).as("x2"),
          round(element_at(col("geom"), -1).getField("lat"), 6).as("y2"))
        .orderBy("edge_id", "x1", "y1")
    }),

    // ---- multimodal plumbing: opaque binary payload column + typed
    //      metadata, exercised through the binary type end-to-end
    "q_mm_binary_meta" -> ((s, dir) => {
      documents(s, dir)
        .select(col("doc_id"), col("text").cast("binary").as("payload"))
        .select(col("doc_id"),
          length(col("payload")).cast("long").as("byte_len"),
          md5(col("payload")).as("payload_md5"))
        .orderBy("doc_id")
    }),

    // ---- multimodal frame sampling: payload split into n byte-chunks
    //      via binary substring, pure column ops (a video pipeline
    //      decodes each chunk downstream). Frames are fingerprinted via
    //      their hex image (DuckDB's md5 is VARCHAR-only), byte-exact
    //      on both sides including multi-byte UTF-8 payloads
    "q_mm_frames" -> ((s, dir) => {
      val media = documents(s, dir)
        .select(col("doc_id"), col("text").cast("binary").as("payload"))
      llm.Multimodal.frameSample(media, "payload", n = 4)
        .select(col("doc_id"),
          size(col("frames")).cast("long").as("n_frames"),
          array_join(transform(col("frames"), f => length(f).cast("long")), ",")
            .as("frame_bytes_csv"),
          md5(hex(element_at(col("frames"), 1))).as("first_frame_md5"))
        .orderBy("doc_id")
    }),

    // ---- multimodal resize pass (typed mapPartitions, payload bytes
    //      rewritten to the pixel budget; codec honestly stubbed as a
    //      truncation, so the oracle replicates it byte-exactly)
    "q_mm_resize" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val media = llm.Multimodal.asMedia(
        documents(s, dir).select(col("doc_id"), col("text").cast("binary").as("payload")),
        "doc_id", "payload")
      llm.Multimodal.resize(media, width = 10, height = 10).toDF()
        .select(col("doc_id"),
          length(col("payload")).cast("long").as("resized_bytes"),
          md5(hex(col("payload"))).as("resized_md5"))
        .orderBy("doc_id")
    }),

    // ---- multimodal feature-extract pass (typed mapPartitions, one
    //      model session per partition; deterministic stub features so
    //      the oracle replicates them from octet_length)
    "q_mm_features" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val media = llm.Multimodal.asMedia(
        documents(s, dir).select(col("doc_id"), col("text").cast("binary").as("payload")),
        "doc_id", "payload")
      llm.Multimodal.featureExtract(media, dim = 8).toDF()
        .select(col("doc_id"),
          element_at(col("features"), 1).as("f1"),
          element_at(col("features"), 8).as("f8"))
        .orderBy("doc_id")
    }),

    // ---- REAL image decode (JDK ImageIO, no stub): per-doc solid-color
    //      PNGs are encoded in a typed pass (dims/pixel derived from
    //      doc_id), then decoded by the actual codec — width/height come
    //      from the raster and px0 proves pixel data round-trips
    //      losslessly. The oracle predicts all of it from the same
    //      arithmetic, so a header-only "decode" would fail on px0.
    "q_mm_decode_png" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      llm.Multimodal.decode(pngMedia(s, dir)).toDF()
        .select(col("doc_id"),
          col("meta.width").as("width"), col("meta.height").as("height"),
          col("meta.frames").as("frames"), col("meta.format").as("format"),
          col("meta.px0").as("px0"))
        .orderBy("doc_id")
    }),

    // ---- REAL JPEG decode (JDK ImageIO): same fixture shape as
    //      q_mm_decode_png but through the LOSSY codec — dims/format
    //      are exactly predictable; the pixel probe gates |decoded -
    //      encoded gray| <= 3 per channel (uniform gray confines JPEG
    //      error to the luma DC quantization step). A header-only
    //      decode has no pixel to pass the gate with.
    "q_mm_decode_jpeg" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val v = (col("doc_id") * 37) % 256
      def ch(shift: Int) =
        shiftright(col("meta.px0"), shift).bitwiseAND(lit(255))
      llm.Multimodal.decode(jpegMedia(s, dir)).toDF()
        .select(col("doc_id"),
          col("meta.width").as("width"), col("meta.height").as("height"),
          col("meta.frames").as("frames"), col("meta.format").as("format"),
          (abs(ch(16) - v) <= 3 && abs(ch(8) - v) <= 3 &&
            abs(ch(0) - v) <= 3).as("px_close"))
        .orderBy("doc_id")
    }),

    // ---- F22 extension: ST_Transform to the reference's planar CRS
    //      (EPSG:3347 Lambert Conformal Conic, osm-road-graphs.sql:11)
    //      as pure column trig; synthetic in-zone points derived from
    //      customer keys. The oracle evaluates the SAME public Snyder
    //      equations in DuckDB — an independent engine computing the
    //      projection from its published definition.
    "q_geo_lcc_project" -> ((s, dir) => {
      customer(s, dir).select(col("c_custkey"),
          struct(
            (lit(-97.0) + (col("c_custkey") % 100).cast("double") / 10.0).as("lon"),
            (lit(49.0) + (col("c_custkey") % 280).cast("double") / 10.0).as("lat"))
            .as("p"))
        .select(col("c_custkey"),
          functions.Geo.lccProject(col("p")).as("pr"))
        .select(col("c_custkey"),
          round(col("pr.x"), 2).as("x"), round(col("pr.y"), 2).as("y"))
        .orderBy("c_custkey")
    }),

    // ---- F22 extension: general ST_Transform(geom, srid) dispatcher —
    //      the same points through WGS84 UTM zone 33N (EPSG:32633,
    //      Snyder TM eqs. 8-9..8-13) and Web Mercator (EPSG:3857) in
    //      one scan. Points stay inside the zone's ±3° span so the
    //      series bound (<1 mm) holds; the oracle re-derives BOTH
    //      projections from their published equations in DuckDB.
    "q_geo_transform" -> ((s, dir) => {
      customer(s, dir).select(col("c_custkey"),
          struct(
            (lit(12.0) + (col("c_custkey") % 60).cast("double") / 10.0).as("lon"),
            (lit(40.0) + (col("c_custkey") % 250).cast("double") / 10.0).as("lat"))
            .as("p"))
        .select(col("c_custkey"),
          functions.Geo.stTransform(col("p"), 32633).as("u"),
          functions.Geo.stTransform(col("p"), 3857).as("m"))
        .select(col("c_custkey"),
          round(col("u.x"), 2).as("utm_x"), round(col("u.y"), 2).as("utm_y"),
          round(col("m.x"), 2).as("merc_x"), round(col("m.y"), 2).as("merc_y"))
        .orderBy("c_custkey")
    }),

    // ---- F22 extension: ST_DWithin as a grid-bucketed distance JOIN
    //      (one equi-join shuffle, 3x3 probe neighborhood, exact
    //      haversine post-filter — never all-pairs). Half-cell-offset
    //      synthetic lattices keep every true distance far from the
    //      1200 m threshold, so the row set is boundary-stable across
    //      engines; the oracle brute-forces the same haversine.
    "q_geo_dwithin" -> ((s, dir) => {
      val cust = customer(s, dir).select(col("c_custkey").as("left_id"),
        struct(((col("c_custkey") % 37) * 0.01).as("lon"),
          ((col("c_custkey") % 23) * 0.01).as("lat")).as("p"))
      val supp = supplier(s, dir).select(col("s_suppkey").as("right_id"),
        struct(((col("s_suppkey") % 37) * 0.01 + 0.005).as("lon"),
          ((col("s_suppkey") % 23) * 0.01 + 0.005).as("lat")).as("p"))
      functions.Geo.distanceJoin(cust, "left_id", col("p"),
          supp, "right_id", col("p"), maxMeters = 1200, cellDeg = 0.02)
        .groupBy("left_id")
        .agg(count(lit(1)).as("n_within"),
          round(min(col("dist_m"))).cast("long").as("min_dist_m"))
        .orderBy("left_id")
    }),

    // ---- F22 extension: nearest-neighbor snap JOIN (pgRouting's
    //      nearest-vertex lookup / snap-to-network, bounded-radius
    //      semantics = snap tolerance). Targets sit at asymmetric
    //      (+0.003, +0.002) lattice offsets so every query's nearest
    //      and second-nearest are separated by hundreds of meters —
    //      the argmin can never flip on a last-ulp disagreement
    //      between engines; ties (impossible here) would break on
    //      target id in both.
    "q_geo_nearest" -> ((s, dir) => {
      val cust = customer(s, dir).select(col("c_custkey").as("query_id"),
        struct(((col("c_custkey") % 37) * 0.01).as("lon"),
          ((col("c_custkey") % 23) * 0.01).as("lat")).as("p"))
      val supp = supplier(s, dir).select(col("s_suppkey").as("nearest_id"),
        struct(((col("s_suppkey") % 37) * 0.01 + 0.003).as("lon"),
          ((col("s_suppkey") % 23) * 0.01 + 0.002).as("lat")).as("p"))
      functions.Geo.nearestJoin(cust, "query_id", col("p"),
          supp, "nearest_id", col("p"), maxMeters = 2000, cellDeg = 0.02)
        .select(col("query_id"), col("nearest_id"),
          round(col("dist_m")).cast("long").as("nearest_m"))
        .orderBy("query_id")
    }),

    // ---- F22 extension: nearest-EDGE snap join + ST_ClosestPoint (the
    //      full pgRouting stop-snapping semantics: nearest polyline
    //      within tolerance plus the snapped projection onto it).
    //      Planar degree-space distance; L-shaped 3-vertex edges on the
    //      supplier lattice, queries on the customer lattice at
    //      asymmetric (+0.002, +0.001) offsets so nearest and runner-up
    //      stay well separated. The per-segment projection formula is
    //      mirrored token-for-token in the oracle, so dist²/snap agree
    //      to the last bits (rounded defensively at 12/9 places).
    "q_geo_snap" -> ((s, dir) => {
      val cust = customer(s, dir).select(col("c_custkey").as("query_id"),
        struct(((col("c_custkey") % 37) * 0.01 + 0.002).as("lon"),
          ((col("c_custkey") % 23) * 0.01 + 0.001).as("lat")).as("p"))
      val ax = (col("s_suppkey") % 37) * 0.01
      val ay = (col("s_suppkey") % 23) * 0.01
      val edges = supplier(s, dir).select(col("s_suppkey").as("edge_id"),
        array(struct(ax.as("lon"), ay.as("lat")),
          struct((ax + 0.004).as("lon"), ay.as("lat")),
          struct((ax + 0.004).as("lon"), (ay + 0.004).as("lat"))).as("geom"))
      functions.Geo.nearestEdgeJoin(cust, "query_id", col("p"),
          edges, "edge_id", col("geom"), maxDist = 0.015, cellDeg = 0.02)
        .select(col("query_id"), col("edge_id"),
          round(col("dist2"), 12).as("d2"),
          round(col("snap_x"), 9).as("snap_x"),
          round(col("snap_y"), 9).as("snap_y"))
        .orderBy("query_id")
    }),

    // ---- F22 extension: ST_Simplify (Douglas–Peucker, native codegen'd
    //      expression). Per-nation triangle-wave polylines with exactly
    //      collinear filler vertices (integer/half-integer coords, all
    //      binary-exact): DP must keep precisely the corners — fillers
    //      sit at distance EXACTLY 0 from the corner-to-corner chords —
    //      and amplitude-0 ways collapse to their endpoints. The oracle
    //      states that closed-form expected vertex set directly; every
    //      coordinate is exact, so the compare is hash-exact.
    "q_geo_simplify" -> ((s, dir) => {
      val ways = nation(s, dir).select(
        col("n_nationkey").cast("long").as("way_id"),
        (col("n_nationkey") % 3).cast("long").as("amp"))
      val line = transform(sequence(lit(0), lit(24)), x =>
        struct(x.cast("double").as("lon"),
          (((lit(4) - abs(x % 8 - 4)) * col("amp")).cast("double") / 2.0).as("lat")))
      ways.withColumn("s",
          functions.GraftFunctions.simplifyLine(line, eps = 0.5))
        .select(col("way_id"), posexplode(col("s")).as(Seq("pos", "v")))
        .select(col("way_id"), col("pos").cast("long").as("pos"),
          col("v.lon").as("lon"), col("v.lat").as("lat"))
        .orderBy("way_id", "pos")
    }),

    // ---- Polygon kernel: ST_Area + ST_Centroid (area-weighted) over
    //      per-nation star polygons built from customer points. All
    //      coordinates are INTEGER-valued doubles and the vertex order
    //      comes from the pseudo-angle (pure +,-,abs,÷ — IEEE-exact, no
    //      libm), so every intermediate is bit-portable across engines:
    //      shoelace sums are exact integers, centroid is one exact
    //      division — no rounding anywhere. The oracle rebuilds the
    //      same ring with window functions (lead + first_value closing
    //      edge) instead of an array fold — independent formulation,
    //      same math.
    "q_geo_polygon" -> ((s, dir) => {
      val pts = customer(s, dir).select(
        col("c_nationkey").cast("long").as("nk"),
        col("c_custkey").as("k"),
        floor(col("c_acctbal")).cast("double").as("x"),
        (col("c_custkey") * 37 % 200).cast("double").as("y"))
      // center at quarter-fraction offsets from the bbox midpoint: never
      // coincides with an integer point (pseudoAngle 0/0 impossible) and
      // (min+max)/2 + 0.25 is exact in binary
      val ctr = pts.groupBy("nk").agg(
        ((min("x") + max("x")) / 2 + 0.25).as("cx"),
        ((min("y") + max("y")) / 2 + 0.25).as("cy"))
      val rings = pts.join(broadcast(ctr), "nk")
        .withColumn("pa", functions.Geo.pseudoAngle(
          col("x") - col("cx"), col("y") - col("cy")))
        .groupBy("nk")
        .agg(transform(
          array_sort(collect_list(struct(col("pa"), col("k"),
            struct(col("x").as("lon"), col("y").as("lat")).as("p")))),
          t => t.getField("p")).as("ring"))
      rings.select(col("nk").as("n_nationkey"),
          size(col("ring")).cast("long").as("nv"),
          functions.Geo.shoelaceSigned(col("ring")).as("s2"),
          functions.Geo.polygonCentroid(col("ring")).as("c"))
        .filter(col("nv") >= 3 && col("s2") =!= 0)
        .select(col("n_nationkey"), col("nv"),
          (abs(col("s2")) / 2).as("area"),
          col("c.lon").as("cx"), col("c.lat").as("cy"))
        .orderBy("n_nationkey")
    }),

    // ---- Polygon kernel: ST_Contains by generic ray casting, graded
    //      against a STRUCTURALLY DIFFERENT oracle — half-plane tests
    //      (all edge crosses > 0) valid for this convex CCW pentagon.
    //      Quarter-fraction vertices vs integer test points make
    //      on-edge hits impossible (min |cross| = 2.5, verified), so
    //      the two algorithms must agree exactly.
    "q_geo_pip" -> ((s, dir) => {
      val ring = array(
        Seq((10.25, 10.25), (90.25, 5.25), (95.25, 60.25),
          (50.25, 95.25), (5.25, 55.25)).map { case (a, b) =>
          struct(lit(a).as("lon"), lit(b).as("lat")) }: _*)
      customer(s, dir).select(col("c_mktsegment"),
          struct((col("c_custkey") * 7 % 100).cast("double").as("lon"),
            (col("c_custkey") * 13 % 100).cast("double").as("lat")).as("p"))
        .withColumn("inside", functions.Geo.containsPoint(ring, col("p")))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_pts"),
          sum(when(col("inside"), 1L).otherwise(0L)).as("n_inside"))
        .orderBy("c_mktsegment")
    }),

    // ---- Polygon kernel: WKT text I/O round-trip through the driver
    //      gate — per-nation bbox ring → ST_AsText POLYGON string
    //      (closing vertex emitted), parsed back with parseWktPolygon,
    //      re-measured. The oracle builds the identical string by
    //      concatenation (Java and DuckDB print integer-valued doubles
    //      identically: "80.0") and computes the bbox area directly —
    //      if parse/asText dropped or reordered a vertex the area
    //      would not survive the round trip.
    "q_geo_wkt" -> ((s, dir) => {
      val ext = customer(s, dir).select(
          col("c_nationkey").cast("long").as("nk"),
          struct(floor(col("c_acctbal")).cast("double").as("lon"),
            (col("c_custkey") * 37 % 200).cast("double").as("lat")).as("p"))
        .groupBy("nk").agg(functions.Geo.extentAgg(col("p")).as("e"))
      val mk = (lonF: String, latF: String) => struct(
        col("e").getField(lonF).as("lon"), col("e").getField(latF).as("lat"))
      val ring = array(
        mk("min_lon", "min_lat"), mk("max_lon", "min_lat"),
        mk("max_lon", "max_lat"), mk("min_lon", "max_lat"))
      ext.select(col("nk").as("n_nationkey"),
          functions.Geo.asTextPolygon(ring).as("wkt"))
        .withColumn("area_rt",
          functions.Geo.polygonArea(functions.Geo.parseWktPolygon(col("wkt"))))
        .orderBy("n_nationkey")
    }),

    // ---- Points-in-polygons JOIN, grid-bucketed (the scale path of
    //      ST_Contains: one equi-join shuffle, never all-pairs): every
    //      customer point vs every nation's INSET bbox polygon
    //      (cross-nation containment, so the join genuinely fans out).
    //      Quarter-fraction polygon bounds vs integer points make
    //      on-edge hits impossible; the vertical-edge ray intersection
    //      is exact (x2-x1 = 0), so the generic ray cast must agree
    //      with the oracle's strict range check to the bit. Degenerate
    //      insets (bbox thinner than 2x10.25) are filtered on both
    //      sides — an inverted rectangle has no interior.
    "q_geo_pip_join" -> ((s, dir) => {
      val pt = struct(floor(col("c_acctbal")).cast("double").as("lon"),
        (col("c_custkey") * 37 % 200).cast("double").as("lat"))
      val pts = customer(s, dir).select(col("c_custkey"), pt.as("p"))
      val ext = customer(s, dir)
        .select(col("c_nationkey").cast("long").as("nk"), pt.as("p"))
        .groupBy("nk").agg(functions.Geo.extentAgg(col("p")).as("e"))
        .filter(col("e.max_lon") - col("e.min_lon") > 20.5 &&
          col("e.max_lat") - col("e.min_lat") > 20.5)
      val ring = array(
        struct((col("e.min_lon") + 10.25).as("lon"), (col("e.min_lat") + 10.25).as("lat")),
        struct((col("e.max_lon") - 10.25).as("lon"), (col("e.min_lat") + 10.25).as("lat")),
        struct((col("e.max_lon") - 10.25).as("lon"), (col("e.max_lat") - 10.25).as("lat")),
        struct((col("e.min_lon") + 10.25).as("lon"), (col("e.max_lat") - 10.25).as("lat")))
      functions.Geo.containsJoin(pts, "c_custkey", col("p"),
          ext.select(col("nk"), ring.as("ring")), "nk", col("ring"),
          cellDeg = 50.0)
        .groupBy("nk").agg(count(lit(1)).as("n_inside"))
        .select(col("nk").as("n_nationkey"), col("n_inside"))
        .orderBy("n_nationkey")
    }),

    // ---- ST_ConvexHull native aggregate (TypedImperativeAggregate
    //      with O(hull) compacted state — a billion-point group ships
    //      hundreds of vertices between stages, not the group). Points
    //      ride a strictly convex parabola y = x² (so EVERY distinct
    //      point is a hull vertex and no three are collinear) plus
    //      decoy points at y = x²+5 proven strictly interior by the
    //      exact guard (x-x0)(x1-x) > 5 — if the hull ever kept a
    //      decoy, nv and area both break. The unsigned-free area
    //      (shoelace/2, no abs) also pins the CCW orientation contract.
    //      All coordinates integer-valued → every cross product and
    //      shoelace term is exact, bit-portable across engines.
    // ---- ST_Union AGGREGATE over polygons (coverage dissolve): shared
    //      boundaries cancel (one anti-join shuffle on (group, edge)),
    //      survivors re-stitch into shells+holes per group. Fixture is
    //      hand-computable (the DissolveSpec geometry): group 1 = two
    //      adjacent unit rects -> one 6-vertex shell; group 2 = the 3x3
    //      cell ring -> 12-vertex shell (area 9) + preserved CW hole
    //      (area -1). The oracle is the literal expected ring table —
    //      stitching is not SQL-expressible, so the fixture is chosen
    //      small enough to verify by hand (the q_s_ivf_ann policy);
    //      DissolveSpec carries the property tests (orientation/closure
    //      insensitivity, area conservation, pinch determinism).
    "q_geo_dissolve" -> ((s, dir) => {
      import s.implicits._
      def rect(g: Long, x0: Double, y0: Double, x1: Double, y1: Double) =
        (g, Seq(osm.Point(x0, y0), osm.Point(x1, y0), osm.Point(x1, y1),
          osm.Point(x0, y1)))
      val cells = for {
        i <- 0 until 3; j <- 0 until 3 if !(i == 1 && j == 1)
      } yield rect(2L, i, j, i + 1, j + 1)
      val polys = (Seq(rect(1L, 0, 0, 1, 1), rect(1L, 1, 0, 2, 1)) ++ cells)
        .toDF("group_id", "ring")
      osm.Dissolve.dissolve(polys, "group_id", "ring")
        .select(col("group_id"), col("ring_id"), col("is_hole"),
          size(col("ring")).cast("long").as("n_pts"),
          round(col("area_signed"), 6).as("area_signed"),
          functions.Geo.asTextPolygon(col("ring")).as("wkt"))
        .orderBy("group_id", "ring_id")
    }),

    // ---- ST_Difference / ST_SymDifference (general, concave-capable):
    //      triangulate both rings, fold convex-minus-triangle over the
    //      subject pieces — hand-computable fixture areas, scan-local
    //      per-row expressions (no join, no shuffle beyond the sort)
    "q_geo_difference" -> ((s, dir) => {
      import s.implicits._
      def ring(pts: (Double, Double)*): Seq[osm.Point] =
        pts.map { case (x, y) => osm.Point(x, y) }
      val square = ring((0, 0), (4, 0), (4, 4), (0, 4))
      val inner = ring((1, 1), (3, 1), (3, 3), (1, 3))
      val corner = ring((2, 2), (6, 2), (6, 6), (2, 6))
      val far = ring((10, 10), (12, 10), (12, 12), (10, 12))
      val lShape = ring((0, 0), (4, 0), (4, 2), (2, 2), (2, 4), (0, 4))
      val strip = ring((2, -1), (5, -1), (5, 5), (2, 5))
      val shifted = ring((1, 0), (5, 0), (5, 4), (1, 4))
      val cases = Seq(
        (1L, square, inner),   // hole carved: 16−4, sym 12+0
        (2L, square, corner),  // corner overlap 2×2: 12, sym 24
        (3L, square, far),     // disjoint: 16, sym 16+4
        (4L, inner, square),   // contained: 0, sym 12
        (5L, square, lShape),  // concave CLIP (L⊂square): 4, sym 4
        (6L, lShape, strip),   // concave SUBJECT: left column 8, sym 22
        (7L, square, shifted)  // unit shift: 4, sym 8
      ).toDF("case_id", "subject", "clip")
      cases.select(col("case_id"),
          round(Geo.differenceArea(col("subject"), col("clip")), 6)
            .as("diff_area"),
          round(Geo.symmetricDifferenceArea(col("subject"), col("clip")), 6)
            .as("sym_area"))
        .orderBy("case_id")
    }),

    // ---- ST_Buffer (convex, round joins): per-nation synthetic bbox
    //      buffered by r=2.5 at quad_segs=4 — 4 offset edges + 4
    //      quarter arcs, 20 ring points per nation. Trig parity with
    //      DuckDB holds at round-6 (the q_geo_transform policy); the
    //      `+ 0.0` normalizes -0.0 from near-zero cosines so the hash
    //      compare can't split on the zero sign.
    "q_geo_buffer" -> ((s, dir) => {
      val base = customer(s, dir).select(
        col("c_nationkey").cast("long").as("nk"),
        (col("c_custkey") % 50).cast("double").as("x"),
        ((col("c_custkey") * 7) % 31).cast("double").as("y"))
      val bbox = base.groupBy("nk").agg(min("x").as("x0"), max("x").as("x1"),
          min("y").as("y0"), max("y").as("y1"))
        .filter(col("x1") > col("x0") && col("y1") > col("y0"))
      val ring = array(
        struct(col("x0").as("lon"), col("y0").as("lat")),
        struct(col("x1").as("lon"), col("y0").as("lat")),
        struct(col("x1").as("lon"), col("y1").as("lat")),
        struct(col("x0").as("lon"), col("y1").as("lat")))
      bbox.select(col("nk"),
          posexplode(functions.Geo.bufferConvex(ring, 2.5, quadSegs = 4))
            .as(Seq("pt_seq", "p")))
        .select(col("nk"), col("pt_seq").cast("long").as("pt_seq"),
          (round(col("p.lon"), 6) + 0.0).as("lon"),
          (round(col("p.lat"), 6) + 0.0).as("lat"))
        .orderBy("nk", "pt_seq")
    }),

    "q_geo_hull" -> ((s, dir) => {
      val base = customer(s, dir).select(
        col("c_nationkey").cast("long").as("nk"),
        col("c_custkey").as("k"),
        (col("c_custkey") % 50).cast("double").as("x"))
      val mm = base.groupBy("nk").agg(min("x").as("x0"), max("x").as("x1"))
      val onCurve = base.select(col("nk"), col("x"),
        (col("x") * col("x")).as("y"))
      val decoys = base.join(broadcast(mm), "nk")
        .filter(col("k") % 3 === 0 &&
          (col("x") - col("x0")) * (col("x1") - col("x")) > 5)
        .select(col("nk"), col("x"), (col("x") * col("x") + 5).as("y"))
      onCurve.unionByName(decoys)
        .groupBy("nk")
        .agg(GF.convexHull(struct(col("x").as("lon"), col("y").as("lat"))).as("ring"))
        .select(col("nk").as("n_nationkey"),
          size(col("ring")).cast("long").as("nv"),
          (Geo.shoelaceSigned(col("ring")) / 2).as("area"))
        .orderBy("n_nationkey")
    }),

    // ---- ST_Intersection(polygon, polygon) via Sutherland–Hodgman
    //      convex clip: the [0,4]² subject square against (1) an
    //      overlapping axis rectangle and (2) a CW-wound diamond whose
    //      edges shave all four corners — auto-orientation must fix the
    //      winding, and every intersection vertex lands on integer
    //      coordinates, so WKT + shoelace area are bit-exact.
    "q_geo_clip_poly" -> ((s, dir) => {
      import s.implicits._
      def ring(pts: (Double, Double)*) = array(pts.map { case (x, y) =>
        struct(lit(x).as("lon"), lit(y).as("lat")) }: _*)
      val subject = ring((0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (0.0, 4.0))
      Seq(1L, 2L).toDF("case_id")
        .withColumn("clip", when(col("case_id") === 1,
            ring((1.0, 1.0), (6.0, 1.0), (6.0, 3.0), (1.0, 3.0)))
          .otherwise( // CW diamond |x-2|+|y-2| <= 3
            ring((2.0, -1.0), (-1.0, 2.0), (2.0, 5.0), (5.0, 2.0))))
        .withColumn("out", Geo.convexClip(subject, col("clip")))
        .select(col("case_id"),
          size(col("out")).cast("long").as("nv"),
          (Geo.shoelaceSigned(col("out")) / 2).as("area"),
          Geo.asTextPolygon(col("out")).as("wkt"))
        .orderBy("case_id")
    }),

    // ---- F22 general (concave-capable) ST_Intersection area
    //      (osm-road-graphs-fix.sql:96 is geometry-typed ST_Intersection
    //      + ST_Dump): ear-triangulate the clip, convexClip per
    //      triangle, sum piece areas. Hand-computed fixtures: an
    //      L-shape clipped by a square (4.0), a U-shape by a band
    //      (2.0, DISCONNECTED result), disjoint (0.0), and
    //      concave-subject x concave-clip L∩U (1.0).
    "q_geo_concave_clip" -> ((s, dir) => {
      import s.implicits._
      def ring(pts: (Double, Double)*) = array(pts.map { case (x, y) =>
        struct(lit(x).as("lon"), lit(y).as("lat")) }: _*)
      val square = ring((0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (0.0, 4.0))
      val band = ring((0.0, 2.0), (3.0, 2.0), (3.0, 3.0), (0.0, 3.0))
      val ell = ring((1.0, 1.0), (3.0, 1.0), (3.0, 2.0), (2.0, 2.0),
        (2.0, 5.0), (1.0, 5.0))
      val ellFar = ring((11.0, 1.0), (13.0, 1.0), (13.0, 2.0),
        (12.0, 2.0), (12.0, 5.0), (11.0, 5.0))
      val u = ring((0.0, 0.0), (3.0, 0.0), (3.0, 3.0), (2.0, 3.0),
        (2.0, 1.0), (1.0, 1.0), (1.0, 3.0), (0.0, 3.0))
      Seq(1L, 2L, 3L, 4L).toDF("case_id")
        .withColumn("subject", when(col("case_id") === 2, band)
          .when(col("case_id") === 4, ell).otherwise(square))
        .withColumn("clip", when(col("case_id") === 1, ell)
          .when(col("case_id") === 2, u)
          .when(col("case_id") === 3, ellFar)
          .otherwise(u))
        .select(col("case_id"),
          round(Geo.intersectionArea(col("subject"), col("clip")), 6)
            .as("area"),
          size(functions.GraftFunctions.earTriangulate(col("clip")))
            .cast("long").as("n_tris"))
        .orderBy("case_id")
    }),

    // ---- F23 pgr_createTopology (osm-road-graphs-fix.sql:128-131):
    //      snap endpoints to the 1e-4 tolerance grid, dense 1-based
    //      vertex ids in (sx, sy) cell order, attach source/target.
    //      Crossing fixture endpoints -> 9 distinct cells; ids are
    //      hand-derivable (FIXTURES.md): (0,0)=1 (0,200)=2 (200,0)=3
    //      (200,200)=4 (5000,5000)=5 (5000,5200)=6 (5200,5000)=7
    //      (10000,10000)=8 (10100,10000)=9.
    "q_f23_topology" -> ((s, dir) => {
      osm.GeometricSplit.createTopology(
          osm.GeometricSplit.crossingFixture(s))
        .select(col("edge_id"), col("source"), col("target"))
        .orderBy("edge_id")
    }),

    // ---- A8 multipoint half (osm-road-graphs-fix.sql:83,94):
    //      ST_Multi(ST_Union(point geometries)) per group — the POI
    //      nodes of the micro fixture grouped by their tag key, WKT via
    //      the same sorted-set multipoint the blades relation uses.
    "q_a8_multipoint" -> ((s, dir) => {
      val t = osm.OsmModel.microFixture(s)
      t.nodes.select(explode(col("tags")).as(Seq("k", "v")), col("geom"))
        .filter(col("k") =!= "name")
        .groupBy("k")
        .agg(array_sort(collect_set(col("geom"))).as("mp"))
        .select(col("k"), size(col("mp")).cast("long").as("n_pts"),
          functions.Geo.asTextMultiPoint(col("mp")).as("wkt"))
        .orderBy("k")
    }),

    // ---- nodes_blades_alt (osm-road-graphs-fix.sql:93-103): per way,
    //      the ST_Multi(ST_Union(...)) of its touch/cross intersection
    //      points with OTHER highway ways — re-expressed as a grid-cell
    //      equi-join over way bboxes + the per-pair lineIntersections
    //      fold (the reference's theta self-join is flagged "Does not
    //      work with large maps"; this shape scales like every other
    //      bucketed spatial join here). X fixture: ways 1×2 cross at
    //      (0.01,0.01); 4×5 touch at their shared endpoint; way 3 is
    //      isolated and must not appear.
    "q_osm_blades_alt" -> ((s, dir) => {
      val net = osm.GeometricSplit.crossingFixture(s)
        .select(col("edge_id"), col("geom"))
      // bbox-RANGE cells (not just vertex cells): a crossing can sit in
      // an interior cell no vertex touches; the exact lineIntersections
      // predicate then discards bbox-only coincidences (same publish
      // shape as GeometricSplit.crossingPoints, at way granularity)
      val cells = net
        .withColumn("lons", transform(col("geom"), p => p.getField("lon")))
        .withColumn("lats", transform(col("geom"), p => p.getField("lat")))
        .withColumn("sx", explode(sequence(
          floor(array_min(col("lons")) / 0.01).cast("long"),
          floor(array_max(col("lons")) / 0.01).cast("long"))))
        .withColumn("sy", explode(sequence(
          floor(array_min(col("lats")) / 0.01).cast("long"),
          floor(array_max(col("lats")) / 0.01).cast("long"))))
        .select(col("edge_id"), col("geom"),
          struct(col("sx"), col("sy")).as("cell"))
      val pairs = cells.select(col("cell"), col("edge_id").as("id_a"),
          col("geom").as("ga"))
        .join(cells.select(col("cell"), col("edge_id").as("id_b"),
          col("geom").as("gb")), Seq("cell"))
        .filter(col("id_a") =!= col("id_b"))
        .select("id_a", "id_b", "ga", "gb").distinct()
        .withColumn("pts", Geo.lineIntersections(col("ga"), col("gb")))
        .filter(size(col("pts")) > 0)
      pairs.select(col("id_a").as("way_id"), explode(col("pts")).as("pt"))
        .groupBy("way_id")
        .agg(array_sort(collect_set(col("pt"))).as("mp"))
        .select(col("way_id"),
          size(col("mp")).cast("long").as("n_pts"),
          Geo.asTextMultiPoint(col("mp")).as("wkt"))
        .orderBy("way_id")
    }),

    // ---- .osc OsmChange replication-diff ingest (the reference's
    //      actions-table feed, pgsnapshot_schema_0.6_action.sql:1-5):
    //      parse a three-action diff (node move / way delete / way
    //      create) from a real file through the StAX source, apply it
    //      to the base tables, and emit the post-change ways — the
    //      created way's denormalized linestring must read the MOVED
    //      node's coordinate, proving apply ordering is right
    // ---- WARC/WET ingest boundary (Common Crawl layout: one gzip
    //      member per record): write a deterministic WET fixture,
    //      round-trip it through the DSv2 source, keep conversion
    //      records, and census URI / byte / whitespace-token counts.
    //      The oracle states the hand-computed expectation literally —
    //      payload i is "tok " * 3(i+1) trimmed, so bytes = 12(i+1)-1
    //      and tokens = 3(i+1); warcinfo and response records must be
    //      filtered out.
    "q_cc_wet_ingest" -> ((s, dir) => {
      val tmp = tempFixtureDir("wet_q")
      val rs: Seq[(String, String, String, String, Array[Byte])] =
        ("warcinfo", null, "2024-03-01T12:00:00Z", "application/warc-fields",
          "software: graft-fixture\r\n".getBytes("UTF-8")) +:
        (0 until 5).map { i =>
          ("conversion", s"https://corpus.example/doc/$i",
            "2024-03-01T12:00:00Z", "text/plain",
            ("tok " * (3 * (i + 1))).trim.getBytes("UTF-8"))
        } :+ (("response", "https://corpus.example/raw",
          "2024-03-01T12:00:00Z", "application/http",
          "HTTP/1.1 200 OK\r\n\r\n<html/>".getBytes("UTF-8")))
      java.nio.file.Files.write(tmp.resolve("part-000.wet.gz"),
        graft.sources.Warc.writeRecords(rs, gzipPerRecord = true))
      graft.sources.Warc.read(s, tmp.toString)
        .filter(col("record_type") === "conversion")
        .select(col("target_uri").as("uri"), col("content_length"),
          size(split(decode(col("payload"), "UTF-8"), " "))
            .cast("long").as("n_tokens"))
        .orderBy("uri")
    }),

    // ---- WET writer round-trip at data scale: the documents corpus
    //      exported as crawl archives by the distributed writer, read
    //      back by the DSv2 reader; per-doc char and byte counts must
    //      match DuckDB's view of the original table — newlines and
    //      multi-byte text survive the Content-Length framing.
    "q_cc_wet_roundtrip" -> ((s, dir) => {
      val tmp = tempFixtureDir("wet_rt").toString
      graft.sources.Warc.write(
        documents(s, dir).select(
          lit("conversion").as("record_type"),
          concat(lit("doc://"), col("doc_id")).as("target_uri"),
          to_timestamp(lit("2024-03-01 12:00:00")).as("warc_date"),
          lit("text/plain").as("content_type"),
          encode(col("text"), "UTF-8").as("payload")), tmp)
      graft.sources.Warc.read(s, tmp)
        .select(
          regexp_extract(col("target_uri"), "doc://(\\d+)", 1)
            .cast("long").as("doc_id"),
          length(decode(col("payload"), "UTF-8")).cast("long").as("chars"),
          col("content_length"))
        .orderBy("doc_id")
    }),

    "q_osc_apply" -> ((s, dir) => {
      val t = osm.OsmModel.microFixture(s)
      val tmp = tempFixtureDir("osc_q")
      java.nio.file.Files.writeString(tmp.resolve("000042.osc"), OscFixtureXml)
      val parsed = graft.sources.OscChangeset.read(s, tmp.toString)
      val updated = graft.sources.OscChangeset.applyTo(s, t, parsed.toDF())
      updated.ways.select(col("id").as("way_id"),
          col("tags").getItem("highway").as("highway"),
          size(col("nodes")).cast("long").as("n_nodes"),
          round(element_at(col("linestring"), 1).getField("lon"), 6).as("x1"),
          round(element_at(col("linestring"), 1).getField("lat"), 6).as("y1"),
          round(element_at(col("linestring"), -1).getField("lon"), 6).as("x2"),
          round(element_at(col("linestring"), -1).getField("lat"), 6).as("y2"))
        .orderBy("way_id")
    }),

    // ---- pgr_contraction analog (VERDICT r19 item 5): dead-end +
    //      linear contraction on a micro graph that exercises every
    //      rule — a square core with a diagonal (junctions), a
    //      4-edge degree-2 chain (1-10-11-12-2 -> one shortcut, cost
    //      summed, interior recorded), a single interior degree-2
    //      vertex (3-4-1 -> shortcut parallel to the existing 1-3
    //      edge), a depth-3 dead-end tree hanging off junction 3
    //      (absorbs transitively: one type-v row holding 20,21,22),
    //      and a pure 3-cycle (no junction endpoints -> untouched).
    //      The oracle replays both operations as recursive CTEs:
    //      leaf-walks through degree<=2 vertices for dead-end
    //      absorption, junction-walks through degree-2 vertices for
    //      linear chains. All fixture costs are binary-exact so the
    //      two engines' summation orders cannot diverge.
    "q_osm_contraction" -> ((s, dir) => {
      import s.implicits._
      val edges = Seq(
        (1L, 1L, 2L, 1.0), (2L, 2L, 3L, 1.0), (3L, 3L, 4L, 1.0),
        (4L, 4L, 1L, 1.0), (5L, 1L, 3L, 2.5),
        (6L, 1L, 10L, 1.0), (7L, 10L, 11L, 2.0), (8L, 11L, 12L, 3.0),
        (9L, 12L, 2L, 4.0),
        (10L, 3L, 20L, 1.0), (11L, 20L, 21L, 1.5), (12L, 21L, 22L, 2.0),
        (13L, 30L, 31L, 1.0), (14L, 31L, 32L, 1.0), (15L, 32L, 30L, 1.0)
      ).toDF("edge_id", "source", "target", "cost")
      val r = osm.Contraction.contractGraph(edges)
      def csv(c: org.apache.spark.sql.Column) =
        array_join(transform(c, x => x.cast("string")), ",")
      val vrows = r.vertexAbsorptions.select(
        lit("v").as("vtype"), col("vertex_id").as("vid"),
        lit(null).cast("long").as("source"),
        lit(null).cast("long").as("target"),
        lit(null).cast("double").as("cost"),
        csv(col("contracted")).as("contracted"))
      val erows = r.edges.filter(size(col("contracted")) > 0).select(
        lit("e").as("vtype"), lit(null).cast("long").as("vid"),
        col("source"), col("target"), col("cost"),
        csv(col("contracted")).as("contracted"))
      erows.unionByName(vrows).orderBy("vtype", "source", "target", "vid")
    }),

    // ---- REAL image resize (decode → bilinear Graphics2D resample →
    //      re-encode → decode again): output dims must be the target,
    //      and bilinear over a solid color is that color, so px0 is
    //      still oracle-exact after two codec trips
    "q_mm_resize_png" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      llm.Multimodal.decode(
          llm.Multimodal.resize(pngMedia(s, dir), width = 8, height = 6))
        .toDF()
        .select(col("doc_id"),
          col("meta.width").as("width"), col("meta.height").as("height"),
          col("meta.format").as("format"), col("meta.px0").as("px0"))
        .orderBy("doc_id")
    })
  )

  /** OsmChange fixture diff for `q_osc_apply` (same three-action shape
    * as StructureSpec's e2e): node 3 moves to lat 0.001, way 102 is
    * deleted, way 120 (4→3, residential) is created through the moved
    * node. */
  private val OscFixtureXml: String =
    """<?xml version='1.0' encoding='UTF-8'?>
      |<osmChange version="0.6" generator="graft-fixture">
      |  <modify>
      |    <node id="3" version="2" timestamp="2020-06-01T00:00:00Z" uid="7" changeset="99" lat="0.001" lon="0.02">
      |      <tag k="highway" v="crossing"/>
      |    </node>
      |  </modify>
      |  <delete>
      |    <way id="102" version="2" timestamp="2020-06-01T00:00:00Z" uid="7" changeset="99"/>
      |  </delete>
      |  <create>
      |    <way id="120" version="1" timestamp="2020-06-01T00:00:00Z" uid="7" changeset="99">
      |      <nd ref="4"/><nd ref="3"/>
      |      <tag k="highway" v="residential"/>
      |      <tag k="maxspeed" v="40"/>
      |    </way>
      |  </create>
      |</osmChange>""".stripMargin

  /** Deterministic PNG fixture stream for the `q_mm_*_png` queries: one
    * solid-color image per document, dimensions and color pure
    * functions of doc_id (so the DuckDB oracle predicts the decoded
    * values without ever touching a codec). Encoding happens in the
    * typed pass — the same per-partition batch shape a real ingest
    * codec runs in. */
  /** Round-robin spread of a tiny single-split table to core count —
    * applied ONLY ahead of CPU-heavy per-row stages (shingling, hash
    * banding, matvec dots, LM scoring, codecs): the testdata parquet is
    * one row group, so without it the whole map side of those stages
    * serializes on a single core. Scan-local cheap queries stay
    * unspread — their plan audits pin them exchange-free, and at real
    * scale the input arrives pre-split so this exchange disappears. */
  /** Run `body` with `spark.sql.shuffle.partitions` temporarily set to
    * `n`. Stateful streaming queries pin their STATE partition count
    * from this conf at first start; the micro-batch oracle fixtures
    * carry ~1.5k keys and a few hundred output rows, where the session
    * default of 32 means 32 near-empty state stores (x4 stores for a
    * stream-stream join) each paying a delta-file commit + fsync per
    * micro-batch — pure fixed overhead (measured 14.3 s -> ~3 s for
    * q_e_interval_join). On a real cluster this is the SAME knob sized
    * the other way: state partitions track key cardinality x
    * throughput, not the session's batch-shuffle default. */
  private def withShufflePartitions[T](s: SparkSession, n: Int)(
      body: => T): T = {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", n.toString)
    try body finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  private def spreadDocs(s: SparkSession, dir: String): DataFrame =
    documents(s, dir).repartition(s.sparkContext.defaultParallelism)

  private def spreadEmb(s: SparkSession, dir: String): DataFrame =
    embeddings(s, dir).repartition(s.sparkContext.defaultParallelism)

  /** Quantizer-training sample cap for the recall-gated ANN queries —
    * the 100 TB contract is "train codebooks/centroids on a bounded
    * sample, index the full corpus" (Similarity.boundedTrainingSample),
    * and this is where a production deployment sets it (~1M vectors).
    * 0 here = train on the full fixture: the synthetic embeddings are
    * ISOTROPIC random vectors — PQ's worst case, where trained-
    * quantizer recall comes from near-memorizing the indexed points
    * (measured: cap 1536 of 2000 drops q_s_pq_recall from 1.0 to <0.9
    * on 4/5 queries) — so the tuned absolute gates require full
    * training at fixture size. The sampled path is correctness-
    * witnessed on a CLUSTERED corpus (the shape real embedding corpora
    * have, where bounded-sample training is sound) by
    * q_s_sampled_train. */
  private val trainCap = 0L

  private def pngMedia(s: SparkSession, dir: String) = {
    import s.implicits._
    // repartition BEFORE the codec stage: the documents parquet is one
    // tiny file, so the scan plans 1 split — and per-row ImageIO work
    // is CPU-bound, not IO-bound, so that one split would serialize
    // every encode/decode on a single core (measured 7 s -> sub-second
    // at sf0.1). The general rule at any scale: partition count for a
    // compute-heavy per-row stage must track cores, not input bytes.
    documents(s, dir).select(col("doc_id"))
      .repartition(s.sparkContext.defaultParallelism)
      .as[Long].map { id =>
      llm.Multimodal.MediaItem(id, llm.Multimodal.encodePng(
        (id % 31).toInt + 1, (id % 17).toInt + 1,
        ((id * 2654435761L) % 0x1000000L).toInt))
    }
  }

  private def jpegMedia(s: SparkSession, dir: String) = {
    import s.implicits._
    // uniform GRAY payloads (r=g=b): chroma stays exactly 128 through
    // the lossy codec, so the decode probe only sees the luma DC step
    documents(s, dir).select(col("doc_id"))
      .repartition(s.sparkContext.defaultParallelism)
      .as[Long].map { id =>
      val v = ((id * 37) % 256).toInt
      llm.Multimodal.MediaItem(id, llm.Multimodal.encodeJpeg(
        (id % 31).toInt + 1, (id % 17).toInt + 1, v * 0x010101))
    }
  }

  /** For each key in `queries`, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Column names/types must match the Spark side.
    */
  /** Shared by q_osm_split_scale (relational chain) and
    * q_osm_split_array (array formulation): both must reproduce this
    * result exactly. */
  /** Decomposed-form probe for q_t_nfc, spliced verbatim into both the
    * Spark query and the DuckDB oracle: 'e' + combining acute (U+0301)
    * and 'i' + combining diaeresis (U+0308) — NFC composes both, so
    * char counts shrink 13 -> 11 and the md5 changes. */
  private val NfcProbeSuffix = " cafe\u0301 nai\u0308ve"

  private val oracleSplitScaleSql =
    """WITH way_nodes AS (
         SELECT l_orderkey AS way_id, l_partkey AS node_id,
                CAST(row_number() OVER (PARTITION BY l_orderkey
                     ORDER BY l_linenumber, l_partkey) - 1 AS INT) AS sequence_id
         FROM lineitem),
       shared AS (SELECT node_id FROM way_nodes GROUP BY node_id HAVING count(*) > 1),
       lengths AS (SELECT way_id, max(sequence_id) AS length
                   FROM way_nodes WHERE sequence_id > 1 GROUP BY way_id),
       splits AS (
         SELECT n.way_id, n.node_id, n.sequence_id
         FROM way_nodes n
         JOIN shared s ON n.node_id = s.node_id
         JOIN lengths l ON n.way_id = l.way_id AND n.sequence_id < l.length
         WHERE n.sequence_id > 0),
       base AS (
         SELECT way_id,
                lag(sequence_id, 1, 0) OVER (PARTITION BY way_id ORDER BY sequence_id) AS bottom_limit,
                sequence_id AS top_limit
         FROM way_nodes
         WHERE sequence_id > 0
           AND way_id IN (SELECT way_id FROM splits)
           AND node_id IN (SELECT node_id FROM shared)),
       lastseg AS (
         SELECT b.way_id, b.top_limit AS bottom_limit, l.length AS top_limit
         FROM (SELECT way_id, max(top_limit) AS top_limit FROM base GROUP BY way_id) b
         JOIN lengths l ON b.way_id = l.way_id AND b.top_limit < l.length),
       lims AS (SELECT * FROM base UNION ALL SELECT * FROM lastseg),
       ntm AS (
         SELECT w.way_id, l.top_limit AS group_id, w.sequence_id, w.node_id
         FROM way_nodes w
         JOIN lims l ON w.way_id = l.way_id
                    AND w.sequence_id BETWEEN l.bottom_limit AND l.top_limit),
       segs AS (
         SELECT way_id,
                array_to_string(list(CAST(node_id AS VARCHAR)
                  ORDER BY sequence_id), ',') AS nodes_csv
         FROM ntm GROUP BY way_id, group_id
         UNION ALL
         SELECT way_id,
                array_to_string(list(CAST(node_id AS VARCHAR)
                  ORDER BY sequence_id), ',') AS nodes_csv
         FROM way_nodes
         WHERE way_id NOT IN (SELECT DISTINCT way_id FROM ntm)
         GROUP BY way_id)
       SELECT way_id, nodes_csv FROM segs ORDER BY way_id, nodes_csv"""

  /** Shared DuckDB re-derivation for the IndexStore serve oracles
    * (q_s_index_persist's chain, parameterized): fixed quantizers from
    * the embeddings table (centroids = first 16 by vec_id, codebooks
    * from residuals of 16..31), full-corpus codes, nprobe=3 probe
    * expansion, per-cell re-centered ADC, top-10. `prelude` prepends
    * extra CTEs (must be self-contained — they run before `base`);
    * `pairPredicate` restricts which INDEXED ids are scored (the
    * delete/stream oracles' knob — frozen-quantizer codes don't depend
    * on what else is indexed, so restricting the scored set IS the
    * rebuild-without-them index). */
  private def ivfPqServeOracle(prelude: String, pairPredicate: String): String =
    s"""WITH $prelude base AS (
           SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         cents AS (
           SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS c
           FROM (SELECT * FROM base ORDER BY vec_id LIMIT 16)),
         cscores AS (
           SELECT b.vec_id, ct.cid,
             list_dot_product(b.v, ct.c) /
               (sqrt(list_dot_product(b.v, b.v)) *
                sqrt(list_dot_product(ct.c, ct.c))) AS cs
           FROM base b CROSS JOIN cents ct),
         assign AS (
           SELECT vec_id, cid FROM (
             SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid) AS rn
             FROM cscores) WHERE rn = 1),
         resid AS (
           SELECT b.vec_id, a.cid,
             list_transform(range(1, 1 + len(b.v)),
               i -> b.v[i] - ct.c[i]) AS r
           FROM base b
           JOIN assign a ON a.vec_id = b.vec_id
           JOIN cents ct ON ct.cid = a.cid),
         cb AS (
           SELECT m.range AS m, r.vec_id - 16 AS j,
                  list_slice(r.r, m.range*8 + 1, m.range*8 + 8) AS c
           FROM range(8) m,
                (SELECT vec_id, r FROM resid
                 WHERE vec_id BETWEEN 16 AND 31) r),
         pqscores AS (
           SELECT r.vec_id, c.m, c.j,
             list_dot_product(c.c, c.c) -
               2*list_dot_product(c.c,
                   list_slice(r.r, c.m*8 + 1, c.m*8 + 8)) AS s
           FROM resid r CROSS JOIN cb c),
         codes AS (
           SELECT vec_id, m, j AS code FROM (
             SELECT vec_id, m, j,
               row_number() OVER (PARTITION BY vec_id, m ORDER BY s, j) AS rn
             FROM pqscores) WHERE rn = 1),
         probes AS (
           SELECT vec_id AS query_id, cid FROM (
             SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid) AS rn
             FROM cscores WHERE vec_id < 5) WHERE rn <= 3),
         qres AS (
           SELECT p.query_id, p.cid,
             list_transform(range(1, 1 + len(b.v)),
               i -> b.v[i] - ct.c[i]) AS r
           FROM probes p
           JOIN base b ON b.vec_id = p.query_id
           JOIN cents ct ON ct.cid = p.cid),
         qsub AS (
           SELECT q.query_id, q.cid, m.range AS m,
                  list_slice(q.r, m.range*8 + 1, m.range*8 + 8) AS qm
           FROM qres q, range(8) m),
         pair AS (
           SELECT q.query_id, d.vec_id,
             sum(list_dot_product(q.qm, q.qm) -
                 2*list_dot_product(q.qm, c.c) +
                 list_dot_product(c.c, c.c)) AS adc
           FROM qsub q
           JOIN assign a ON a.cid = q.cid
           JOIN codes d ON d.vec_id = a.vec_id AND d.m = q.m
           JOIN cb c ON c.m = d.m AND c.j = d.code
           WHERE $pairPredicate
           GROUP BY q.query_id, d.vec_id),
         ranked AS (
           SELECT query_id, vec_id, adc,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY adc, vec_id) AS rn
           FROM pair)
         SELECT query_id, vec_id, round(adc, 6) AS adc
         FROM ranked WHERE rn <= 10
         ORDER BY query_id, vec_id"""

  /** The curation-survivor CTEs (q_cc_curation_stream's oracle,
    * reusable as a prelude): language gate, gopher gate, URL-group
    * dedup with first-by-(batch, doc_id) preference. Ends with `surv`. */
  private val curationSurvivorCtes: String =
    """d AS (SELECT doc_id, text,
                    string_split(lower(text), ' ') AS toks
             FROM documents),
         langs AS (SELECT doc_id,
           len(list_filter(toks, t -> t IN ('the','and','of','to','in','is','that','it','for','with'))) AS en,
           len(list_filter(toks, t -> t IN ('der','die','und','das','ist','nicht','ein','mit','auf','zu'))) AS de,
           len(list_filter(toks, t -> t IN ('el','la','de','que','y','los','en','un','por','con'))) AS es,
           len(list_filter(toks, t -> t IN ('le','la','de','et','les','des','est','un','une','dans'))) AS fr
           FROM d),
         en AS (SELECT doc_id FROM langs
                WHERE greatest(en, de, es, fr) > 0
                  AND NOT de >= greatest(en, es, fr)
                  AND en >= greatest(es, fr)),
         f AS (SELECT doc_id,
           len(string_split(text, ' ')) AS n_tok,
           length(text) AS n_chars,
           length(regexp_replace(text, '[^[:punct:]]', '', 'g')) AS n_punct,
           len(list_filter(string_split(text, ' '),
               t -> t IN ('the','a','an','and','or','of','to','in','is','it',
                          'that','for','on','with','as','at','by'))) AS sw,
           len(list_distinct(string_split(text, ' '))) AS n_uniq
           FROM documents),
         pass AS (SELECT doc_id FROM f
           WHERE n_tok BETWEEN 30 AND 10000
             AND n_chars / CAST(n_tok AS DOUBLE) BETWEEN 3.0 AND 10.0
             AND n_punct / CAST(n_chars AS DOUBLE) <= 0.1
             AND sw >= 2
             AND (n_tok - n_uniq) / CAST(n_tok AS DOUBLE) <= 0.6),
         kept AS (SELECT d.doc_id, d.text FROM d
                  JOIN en USING (doc_id) JOIN pass USING (doc_id)),
         surv AS (SELECT doc_id, text FROM (
             SELECT doc_id, text,
               row_number() OVER (PARTITION BY doc_id // 3
                                  ORDER BY doc_id % 2, doc_id) AS rn
             FROM kept) WHERE rn = 1),"""

  def oracleSql: Map[String, String] = Map(
    // compaction must not change a single search result: post-compact
    // serve == one-shot full build == the q_s_index_append chain
    "q_s_index_compact" -> ivfPqServeOracle("", "TRUE"),
    // delete == rebuild-without-them: same chain, scored set excludes
    // the tombstoned ids (frozen-quantizer codes are independent of
    // what else is indexed, so this IS the rebuilt index)
    "q_s_index_delete" -> ivfPqServeOracle("", "d.vec_id % 7 <> 3"),
    // pgr_contraction analog: dead-end absorption = recursive
    // leaf-walks through degree<=2 vertices to the first junction;
    // linear chains = recursive junction-walks through degree-2
    // vertices on the post-dead-end graph, deduped by canonical
    // endpoint order (each chain is found from both ends; binary-exact
    // costs make the two walk directions sum identically)
    "q_osm_contraction" ->
      """WITH RECURSIVE edges AS (
           SELECT CAST(col0 AS BIGINT) AS id, CAST(col1 AS BIGINT) AS s,
                  CAST(col2 AS BIGINT) AS t, CAST(col3 AS DOUBLE) AS c
           FROM (VALUES (1,1,2,1.0),(2,2,3,1.0),(3,3,4,1.0),(4,4,1,1.0),
                        (5,1,3,2.5),(6,1,10,1.0),(7,10,11,2.0),
                        (8,11,12,3.0),(9,12,2,4.0),(10,3,20,1.0),
                        (11,20,21,1.5),(12,21,22,2.0),(13,30,31,1.0),
                        (14,31,32,1.0),(15,32,30,1.0))),
         nbrs AS (SELECT s AS v, t AS n, id, c FROM edges
                  UNION ALL SELECT t, s, id, c FROM edges),
         deg AS (SELECT v, count(*) AS d FROM nbrs GROUP BY v),
         walk(leaf, cur, prev) AS (
           SELECT v, v, CAST(NULL AS BIGINT) FROM deg WHERE d = 1
           UNION ALL
           SELECT w.leaf, n.n, w.cur
           FROM walk w
           JOIN deg dc ON dc.v = w.cur AND dc.d <= 2
           JOIN nbrs n ON n.v = w.cur AND (w.prev IS NULL OR n.n <> w.prev)),
         targets AS (SELECT w.leaf, w.cur AS tgt FROM walk w
                     JOIN deg ON deg.v = w.cur WHERE deg.d >= 3),
         leafabs AS (SELECT w.leaf, w.cur AS v FROM walk w
                     JOIN deg ON deg.v = w.cur WHERE deg.d <= 2),
         deadv AS (SELECT DISTINCT v FROM leafabs),
         vrows AS (
           SELECT t.tgt AS vid,
             array_to_string(list_sort(list(DISTINCT la.v)), ',') AS contracted
           FROM targets t JOIN leafabs la ON la.leaf = t.leaf
           GROUP BY t.tgt),
         edges2 AS (SELECT * FROM edges
                    WHERE s NOT IN (SELECT v FROM deadv)
                      AND t NOT IN (SELECT v FROM deadv)),
         nbrs2 AS (SELECT s AS v, t AS n, id, c FROM edges2
                   UNION ALL SELECT t, s, id, c FROM edges2),
         deg2 AS (SELECT v, count(*) AS d FROM nbrs2 GROUP BY v),
         cwalk(startv, cur, prev, costacc, path) AS (
           SELECT d.v, n.n, d.v, n.c, [n.n]
           FROM deg2 d JOIN nbrs2 n ON n.v = d.v
           WHERE d.d >= 3
             AND EXISTS (SELECT 1 FROM deg2 x WHERE x.v = n.n AND x.d = 2)
           UNION ALL
           SELECT w.startv, n.n, w.cur, w.costacc + n.c,
                  list_append(w.path, n.n)
           FROM cwalk w
           JOIN deg2 dc ON dc.v = w.cur AND dc.d = 2
           JOIN nbrs2 n ON n.v = w.cur AND n.n <> w.prev),
         chainrows AS (
           SELECT w.startv, w.cur AS endv, w.costacc,
                  list_sort(list_slice(w.path, 1, len(w.path) - 1)) AS interior
           FROM cwalk w JOIN deg2 dz ON dz.v = w.cur AND dz.d >= 3),
         erows AS (
           SELECT DISTINCT least(startv, endv) AS source,
                  greatest(startv, endv) AS target,
                  costacc AS cost,
                  array_to_string(interior, ',') AS contracted
           FROM chainrows)
         SELECT 'e' AS vtype, CAST(NULL AS BIGINT) AS vid,
                source, target, cost, contracted FROM erows
         UNION ALL
         SELECT 'v', vid, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
                CAST(NULL AS DOUBLE), contracted FROM vrows
         ORDER BY vtype, source, target, vid""",
    // streamed appends == one-shot build over {codebook slice 16..31}
    // UNION {curation survivors}: curation replayed in SQL, then the
    // serve chain scored over exactly that id set
    "q_s_index_stream" -> ivfPqServeOracle(
      curationSurvivorCtes +
        """
         idxset AS (
           SELECT range AS vec_id FROM range(16, 32)
           UNION
           SELECT doc_id AS vec_id FROM surv),""",
      "d.vec_id IN (SELECT vec_id FROM idxset)"),
    "q_flagship_tag_freq" ->
      """SELECT c_mktsegment AS tag_value, count(*) AS cnt
         FROM customer GROUP BY c_mktsegment
         ORDER BY cnt DESC, tag_value""",
    "q_explore_tag_kv" ->
      """SELECT tag, value, count(*) AS cnt FROM (
           SELECT 'mktsegment' AS tag, c_mktsegment AS value FROM customer
           UNION ALL
           SELECT 'nation' AS tag, CAST(c_nationkey AS VARCHAR) AS value FROM customer
         ) GROUP BY tag, value ORDER BY tag, value""",
    "q_j1_inner" ->
      """SELECT o_orderkey, c_name, o_totalprice
         FROM orders JOIN customer ON o_custkey = c_custkey
         ORDER BY o_orderkey""",
    "q_j2_attr_copy" ->
      """SELECT l_orderkey, l_linenumber, p_brand,
                round(l_extendedprice - p_retailprice * l_quantity, 2) AS margin
         FROM lineitem JOIN part ON l_partkey = p_partkey
         ORDER BY l_orderkey, l_linenumber""",
    "q_j3_range" ->
      """SELECT p_brand, count(*) AS cnt
         FROM lineitem JOIN part
           ON l_partkey = p_partkey AND l_quantity BETWEEN p_size - 5 AND p_size + 5
         GROUP BY p_brand ORDER BY p_brand""",
    "q_j4_semi" ->
      """SELECT o_orderkey, o_totalprice FROM orders
         WHERE EXISTS (SELECT 1 FROM lineitem
                       WHERE l_orderkey = o_orderkey AND l_quantity >= 48)
         ORDER BY o_orderkey""",
    "q_j6_anti" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey
                             AND o_totalprice > 300000.0)
         ORDER BY c_custkey""",
    "q_j8_scalar" ->
      """SELECT o_orderkey, o_totalprice FROM orders
         WHERE o_totalprice > 0.9 * (SELECT max(o_totalprice) FROM orders)
         ORDER BY o_orderkey""",
    "q_j9_asof" ->
      """WITH clicks AS (
           SELECT user_id, ts, event_id AS click_id, value AS click_value
           FROM events WHERE event_type = 'click'
           QUALIFY row_number() OVER (PARTITION BY user_id, ts
                                      ORDER BY event_id DESC) = 1)
         SELECT e.event_id, e.user_id, c.click_id,
                round(c.click_value, 4) AS click_value
         FROM events e ASOF LEFT JOIN clicks c
           ON e.user_id = c.user_id AND e.ts >= c.ts
         ORDER BY e.event_id""",
    "q_a1_a3_having" ->
      """SELECT l_partkey, count(*) AS cnt FROM lineitem
         GROUP BY l_partkey HAVING count(*) > 35 ORDER BY l_partkey""",
    "q_a2_a5_groupstats" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt,
                sum(l_quantity) AS sum_qty, round(avg(l_discount), 4) AS avg_disc
         FROM lineitem GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",
    "q_a15_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt,
                sum(l_quantity) AS sum_qty
         FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
         ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""",
    "q_a16_pivot" ->
      """SELECT lang,
                count(*) FILTER (WHERE source = 'src0') AS src0,
                count(*) FILTER (WHERE source = 'src1') AS src1,
                count(*) FILTER (WHERE source = 'src2') AS src2
         FROM documents GROUP BY lang ORDER BY lang""",
    "q_a17_cube" ->
      """SELECT CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
                COALESCE(l_returnflag, 'ALL') AS flag,
                COALESCE(l_linestatus, 'ALL') AS status,
                count(*) AS cnt, round(sum(l_quantity), 2) AS sum_qty
         FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
         ORDER BY gid, flag, status""",
    "q_a18_grouping_sets" ->
      """SELECT CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
                COALESCE(l_returnflag, 'ALL') AS flag,
                COALESCE(l_linestatus, 'ALL') AS status,
                count(*) AS cnt, round(sum(l_quantity), 2) AS sum_qty
         FROM lineitem
         GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                                 (l_linestatus), ())
         ORDER BY gid, flag, status""",
    "q_a6_ordered_agg" ->
      """SELECT l_orderkey,
                array_to_string(list(CAST(l_partkey AS VARCHAR) ORDER BY l_linenumber, CAST(l_partkey AS VARCHAR)), ',') AS parts_csv,
                count(*) AS cnt
         FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey""",
    "q_a10_median" ->
      """SELECT l_returnflag, median(l_quantity) AS med_qty
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q_a10b_median_native" ->
      """SELECT l_returnflag, median(l_quantity) AS med_qty
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q_a10d_median_text" ->
      """SELECT o_orderstatus, median(o_orderpriority) AS med_prio
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    // the streaming dedup's emitted set == the distinct fingerprint set
    // (365d watermark > the 30d event span: no eviction, replays suppressed)
    "q_e_dedup_stream" ->
      """SELECT DISTINCT event_type, value FROM events
         ORDER BY event_type, value""",
    // streaming LSH candidates == batch band relation (first, other) pairs
    "q_e_neardup_stream" -> neardupStreamOracleSql,
    // WARC micro-batch stream of the documents round-trip == the same
    // aggregates straight off the documents table (strlen = UTF-8 bytes,
    // matching Content-Length of the text/plain payload)
    "q_cc_wet_stream" ->
      """SELECT doc_id % 10 AS bucket, count(*) AS n_docs,
                CAST(sum(strlen(text)) AS BIGINT) AS bytes,
                min(doc_id) AS min_doc, max(doc_id) AS max_doc
         FROM documents GROUP BY 1 ORDER BY bucket""",
    // streaming curation replayed batch-side: language gate (the
    // q_t_language_id heuristic), gopher gate (the q_t_gopher_filter
    // thresholds), then one survivor per URL group doc_id//3, first by
    // (batch = doc_id % 2, doc_id) — in-batch preference is doc_id asc
    // and an earlier landed batch always beats a later one
    "q_cc_curation_stream" ->
      """WITH d AS (SELECT doc_id, text,
                           string_split(lower(text), ' ') AS toks
                    FROM documents),
         langs AS (SELECT doc_id,
           len(list_filter(toks, t -> t IN ('the','and','of','to','in','is','that','it','for','with'))) AS en,
           len(list_filter(toks, t -> t IN ('der','die','und','das','ist','nicht','ein','mit','auf','zu'))) AS de,
           len(list_filter(toks, t -> t IN ('el','la','de','que','y','los','en','un','por','con'))) AS es,
           len(list_filter(toks, t -> t IN ('le','la','de','et','les','des','est','un','une','dans'))) AS fr
           FROM d),
         en AS (SELECT doc_id FROM langs
                WHERE greatest(en, de, es, fr) > 0
                  AND NOT de >= greatest(en, es, fr)
                  AND en >= greatest(es, fr)),
         f AS (SELECT doc_id,
           len(string_split(text, ' ')) AS n_tok,
           length(text) AS n_chars,
           length(regexp_replace(text, '[^[:punct:]]', '', 'g')) AS n_punct,
           len(list_filter(string_split(text, ' '),
               t -> t IN ('the','a','an','and','or','of','to','in','is','it',
                          'that','for','on','with','as','at','by'))) AS sw,
           len(list_distinct(string_split(text, ' '))) AS n_uniq
           FROM documents),
         pass AS (SELECT doc_id FROM f
           WHERE n_tok BETWEEN 30 AND 10000
             AND n_chars / CAST(n_tok AS DOUBLE) BETWEEN 3.0 AND 10.0
             AND n_punct / CAST(n_chars AS DOUBLE) <= 0.1
             AND sw >= 2
             AND (n_tok - n_uniq) / CAST(n_tok AS DOUBLE) <= 0.6),
         kept AS (SELECT d.doc_id, d.text FROM d
                  JOIN en USING (doc_id) JOIN pass USING (doc_id)),
         surv AS (SELECT doc_id, text FROM (
             SELECT doc_id, text,
               row_number() OVER (PARTITION BY doc_id // 3
                                  ORDER BY doc_id % 2, doc_id) AS rn
             FROM kept) WHERE rn = 1)
         SELECT doc_id % 10 AS bucket, count(*) AS n_docs,
                min(doc_id) AS min_doc, max(doc_id) AS max_doc,
                CAST(sum(strlen(text)) AS BIGINT) AS sum_chars
         FROM surv GROUP BY 1 ORDER BY bucket""",
    // stream-stream inner interval join == batch SQL over the same rows
    "q_e_interval_join" ->
      """SELECT l.user_id, l.ts AS l_ts, l.event_type AS l_type,
                r.ts AS r_ts, r.event_type AS r_type, r.value AS r_value
         FROM events l JOIN events r
           ON l.user_id = r.user_id
          AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 1 HOUR
         WHERE l.event_type = 'click' AND r.event_type = 'view'
         ORDER BY l.user_id, l_ts, r_ts""",
    "q_a10e_median_ts" ->
      """SELECT event_type,
                median(date_trunc('second', ts)) AS med_ts
         FROM events GROUP BY event_type ORDER BY event_type""",
    // Sketch output isn't engine-portable; the contract is the error bound —
    // the oracle says every group must come back approx_ok = true.
    "q_a10c_median_approx" ->
      """SELECT l_returnflag, true AS approx_ok
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    // Sketch values aren't engine-portable; the error bound is the contract.
    "q_a12b_approx_distinct" ->
      """SELECT l_returnflag, true AS approx_ok
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q_a11_percentile" ->
      """SELECT l_returnflag,
                quantile_cont(l_extendedprice, 0.25) AS p25,
                quantile_cont(l_extendedprice, 0.75) AS p75
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q_a13_top1" ->
      """SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice FROM orders
         QUALIFY row_number() OVER (PARTITION BY o_custkey
                                    ORDER BY o_orderdate DESC, o_orderkey DESC) = 1
         ORDER BY o_custkey""",
    "q_w1_lag" ->
      """SELECT o_custkey, o_orderkey,
                lag(o_totalprice, 1, 0.0) OVER (PARTITION BY o_custkey
                                                ORDER BY o_orderdate, o_orderkey) AS prev_price
         FROM orders ORDER BY o_custkey, o_orderkey""",
    "q_w3_w4_runsum" ->
      """SELECT o_custkey, o_orderkey,
                round(sum(o_totalprice) OVER (PARTITION BY o_custkey
                  ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS run_sum,
                round(coalesce(sum(o_totalprice) OVER (PARTITION BY o_custkey
                  ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0), 2) AS prev_sum
         FROM orders ORDER BY o_custkey, o_orderkey""",
    "q_w5_share" ->
      """SELECT o_orderkey,
                round(o_totalprice / (SELECT sum(o_totalprice) FROM orders) * 100, 6) AS share
         FROM orders ORDER BY o_orderkey""",
    "q_f1_extract_ints" ->
      """SELECT CAST(regexp_extract(o_orderpriority, '[0-9]+') AS INT) AS prio_num,
                count(*) AS cnt
         FROM orders GROUP BY prio_num ORDER BY prio_num""",
    "q_u1_union_distinct" ->
      """SELECT c_nationkey AS n_key FROM customer
         UNION SELECT s_nationkey FROM supplier ORDER BY n_key""",
    "q_u2_unpivot" ->
      """SELECT p_partkey, 'brand' AS key, p_brand AS value FROM part
         UNION ALL SELECT p_partkey, 'type' AS key, p_type AS value FROM part
         ORDER BY p_partkey, key""",
    "q_d_exact_dedup" ->
      """SELECT md5(text) AS fp, min(doc_id) AS keeper, count(*) AS cnt
         FROM documents GROUP BY fp ORDER BY fp""",
    "q_d_fingerprint_dedup" ->
      """SELECT md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp,
                min(doc_id) AS keeper, count(*) AS cnt
         FROM documents GROUP BY fp HAVING count(*) > 1 ORDER BY fp""",
    "q_t_text_stats" ->
      """SELECT doc_id, length(text) AS nchars,
                len(string_split(text, ' ')) AS ntokens,
                len(list_distinct(string_split(text, ' '))) AS nuniq,
                round(CAST(length(text) AS DOUBLE) / len(string_split(text, ' ')), 4) AS avg_tok_len
         FROM documents ORDER BY doc_id""",
    "q_mm_binary_meta" ->
      """SELECT doc_id, octet_length(CAST(text AS BLOB)) AS byte_len,
                md5(text) AS payload_md5
         FROM documents ORDER BY doc_id""",
    "q_a4_count" ->
      "SELECT count(*) AS cnt FROM lineitem",
    "q_a12_distinct" ->
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
         ORDER BY l_returnflag, l_linestatus""",
    "q_w2_lastval" ->
      """SELECT o_custkey, o_orderkey,
                last_value(o_totalprice) OVER (PARTITION BY o_custkey
                  ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_carried
         FROM orders ORDER BY o_custkey, o_orderkey""",
    "q_w6_rownum" ->
      """SELECT o_custkey, o_orderkey,
                CAST(row_number() OVER (PARTITION BY o_custkey
                  ORDER BY o_orderdate DESC, o_orderkey DESC) AS BIGINT) AS rn
         FROM orders ORDER BY o_custkey, o_orderkey""",
    "q_w8_ranks" ->
      """SELECT o_orderkey, o_orderpriority,
                CAST(ntile(4) OVER w AS BIGINT) AS quartile,
                round(percent_rank() OVER w, 6) AS pct_rank,
                round(cume_dist() OVER w, 6) AS cume,
                CAST(dense_rank() OVER w AS BIGINT) AS drank
         FROM orders
         WINDOW w AS (PARTITION BY o_orderpriority
                      ORDER BY o_totalprice, o_orderkey)
         ORDER BY o_orderkey""",
    "q_u3_setops" ->
      """SELECT n_key, 'both' AS op FROM
           (SELECT c_nationkey AS n_key FROM customer
            INTERSECT SELECT s_nationkey FROM supplier)
         UNION ALL
         SELECT n_key, 'customer_only' AS op FROM
           (SELECT c_nationkey AS n_key FROM customer
            EXCEPT SELECT s_nationkey FROM supplier)
         ORDER BY op, n_key""",
    "q_s6_values" ->
      """WITH v(r_key, label) AS (VALUES (0, 'AFRICA-X'), (1, 'AMERICA-X'))
         SELECT r_regionkey, r_name, label
         FROM region JOIN v ON r_regionkey = r_key
         ORDER BY r_regionkey""",
    "q_p4_3vl_exclude" ->
      """SELECT l_returnflag, count(*) AS cnt FROM lineitem
         WHERE NOT coalesce((nullif(l_returnflag, 'N') IN ('R'))
                            OR l_discount > 0.09, false)
         GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q_f_array_pack" ->
      """SELECT p_partkey,
                string_split(p_type, ' ')[1] AS first_tok,
                string_split(p_type, ' ')[-1] AS last_tok,
                len(string_split(p_type, ' ')) AS n_toks,
                array_to_string(list_reverse(string_split(p_type, ' ')), ' ') AS rev,
                array_to_string(list_sort(string_split(p_type, ' ')), ' ') AS sorted,
                array_to_string(list_filter(string_split(p_type, ' '),
                                            t -> t != 'PLATED'), ' ') AS no_plated
         FROM part ORDER BY p_partkey""",
    "q_f_math_case" ->
      """SELECT l_orderkey, l_linenumber,
                CAST(ceil(l_quantity / 2.0) AS BIGINT) AS half_up,
                greatest(l_tax, l_discount) AS max_rate,
                least(l_tax, l_discount) AS min_rate,
                CAST(mod(l_orderkey, 7) AS BIGINT) AS bucket,
                CASE WHEN l_quantity > 25 THEN 'big' ELSE 'small' END AS qty_class,
                CAST(l_quantity AS VARCHAR) AS qty_str
         FROM lineitem ORDER BY l_orderkey, l_linenumber, qty_str""",
    "q_f_dates" ->
      """SELECT o_orderkey,
                CAST(year(o_orderdate) AS BIGINT) AS yr,
                CAST(month(o_orderdate) AS BIGINT) AS mo,
                CAST(day(o_orderdate) AS BIGINT) AS dom,
                CAST(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS days_since
         FROM orders ORDER BY o_orderkey""",
    "q_f9_instr" ->
      """SELECT CAST(strpos(p_type, 'BRASS') AS BIGINT) AS pos, count(*) AS cnt
         FROM part GROUP BY pos ORDER BY pos""",
    "q_o3_limit_offset" ->
      """SELECT o_orderkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 100 OFFSET 10""",
    "q_x5_weighted_median" ->
      """WITH src AS (SELECT l_quantity AS x,
                             CAST(round(l_extendedprice) AS BIGINT) AS w
                      FROM lineitem),
         wm AS (SELECT x,
                  sum(coalesce(w, 0)) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS runsum,
                  sum(coalesce(w, 0)) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prevsum,
                  sum(coalesce(w, 0)) OVER () AS total
                FROM src)
         SELECT avg(x) AS weighted_median FROM wm
         WHERE total / 2 BETWEEN prevsum AND runsum""",
    "q_x5b_wm_scalable" ->
      """WITH src AS (SELECT l_quantity AS x,
                             CAST(round(l_extendedprice) AS BIGINT) AS w
                      FROM lineitem),
         wm AS (SELECT x,
                  sum(coalesce(w, 0)) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS runsum,
                  sum(coalesce(w, 0)) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prevsum,
                  sum(coalesce(w, 0)) OVER () AS total
                FROM src)
         SELECT avg(x) AS weighted_median FROM wm
         WHERE total / 2 BETWEEN prevsum AND runsum""",
    "q_x6_wm_by_group" ->
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
         GROUP BY g ORDER BY group_id""",
    "q_j7_grid" ->
      """SELECT c_nationkey, count(*) AS pairs
         FROM customer, supplier
         WHERE c_nationkey = s_nationkey AND abs(c_acctbal - s_acctbal) <= 5.0
         GROUP BY c_nationkey ORDER BY c_nationkey""",
    "q_sql_surface" ->
      """SELECT c_mktsegment, count(*) AS cnt,
                round(avg(o_totalprice), 2) AS avg_price
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    "q_t_bpe_trained" -> bpeTrainOracleSql(8),
    "q_t_bpe_apply" -> bpeApplyOracleSql(8),
    "q_t_bpe_bytelevel" -> bpeByteTrainOracleSql(8),
    "q_t_bpe_byteapply" -> bpeByteApplyOracleSql(8),
    "q_d_jaccard_pairs" ->
      """WITH d AS (SELECT doc_id, lang, source,
                           list_distinct(string_split(text, ' ')) AS ws
                    FROM documents)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                round(CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE)
                      / len(list_distinct(a.ws || b.ws)), 4) AS jaccard
         FROM d a JOIN d b
           ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
         WHERE CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE)
               / len(list_distinct(a.ws || b.ws)) >= 0.6
         ORDER BY id_a, id_b""",
    "q_t_language_id" ->
      """WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
         s AS (SELECT doc_id,
           len(list_filter(toks, t -> t IN ('the','and','of','to','in','is','that','it','for','with'))) AS en,
           len(list_filter(toks, t -> t IN ('der','die','und','das','ist','nicht','ein','mit','auf','zu'))) AS de,
           len(list_filter(toks, t -> t IN ('el','la','de','que','y','los','en','un','por','con'))) AS es,
           len(list_filter(toks, t -> t IN ('le','la','de','et','les','des','est','un','une','dans'))) AS fr
           FROM d)
         SELECT doc_id, CASE WHEN greatest(en, de, es, fr) <= 0 THEN 'und'
           WHEN de >= greatest(en, es, fr) THEN 'de'
           WHEN en >= greatest(es, fr) THEN 'en'
           WHEN es >= fr THEN 'es' ELSE 'fr' END AS pred_lang
         FROM s ORDER BY doc_id""",
    "q_t_bpe_tokens" ->
      """WITH t AS (SELECT doc_id,
                           regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]') AS toks
                    FROM documents)
         SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_bpe,
                toks[1] AS first_tok, toks[-1] AS last_tok
         FROM t ORDER BY doc_id""",
    "q_t_heavy_hitters" ->
      """WITH d2 AS (SELECT list_filter(string_split(text, ' '),
                            x -> x <> '') AS ws FROM documents),
         t AS (SELECT unnest(list_transform(
                        range(1, len(ws)::int)::int[],
                        i -> ws[i] || ' ' || ws[i+1])) AS item FROM d2),
         n AS (SELECT count(*) AS c FROM t)
         SELECT item, count(*) AS cnt
         FROM t, n GROUP BY item, n.c
         HAVING count(*) > n.c * 0.0015
         ORDER BY item""",
    "q_t_heavy_hitters_grp" ->
      """WITH d2 AS (SELECT lang, list_filter(string_split(text, ' '),
                            x -> x <> '') AS ws FROM documents),
         t AS (SELECT lang AS grp,
                      unnest(list_transform(
                        range(1, len(ws)::int)::int[],
                        i -> ws[i] || ' ' || ws[i+1])) AS item FROM d2),
         n AS (SELECT grp, count(*) AS c FROM t GROUP BY grp)
         SELECT grp, item, count(*) AS cnt
         FROM t JOIN n USING (grp)
         GROUP BY grp, item, n.c
         HAVING count(*) > n.c * 0.0025
         ORDER BY grp, item""",
    "q_t_quality" ->
      """WITH f AS (SELECT doc_id,
           round(len(list_filter(string_split(text, ' '),
                 t -> t IN ('the','a','an','and','or','of','to','in','is','it',
                            'that','for','on','with','as','at','by')))
                 / CAST(len(string_split(text, ' ')) AS DOUBLE), 4) AS stopword_ratio,
           round(length(regexp_replace(text, '[^[:punct:]]', '', 'g'))
                 / CAST(length(text) AS DOUBLE), 4) AS punct_ratio,
           round(length(regexp_replace(text, '[^0-9]', '', 'g'))
                 / CAST(length(text) AS DOUBLE), 4) AS digit_ratio,
           len(string_split(text, ' ')) AS n_tokens,
           len(list_distinct(string_split(text, ' '))) AS n_uniq
           FROM documents)
         SELECT doc_id, punct_ratio, digit_ratio, stopword_ratio,
                round((least(n_tokens / 100.0, 1.0)
                       + n_uniq / CAST(greatest(n_tokens, 1) AS DOUBLE)
                       + greatest(0.0, 1.0 - punct_ratio * 5)) / 3.0, 4) AS score
         FROM f ORDER BY doc_id""",
    // the same normal-equation fit, computed end-to-end in SQL: integer
    // moments (exact under any order), then Cramer's rule with the
    // IDENTICAL parenthesization Regression.fit2 uses — binary64 ops
    // are deterministic given the same expression tree, so beta and
    // every prediction match the engine bit-for-bit
    "q_t_quality_fit" ->
      """WITH f AS (
           SELECT doc_id,
                  CAST(length(text) AS BIGINT) AS chars,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS toks,
                  CAST(length(text) -
                       length(regexp_replace(text, '[aeiou]', '', 'g'))
                       AS BIGINT) AS vowels
           FROM documents),
         m AS (
           SELECT CAST(count(*) AS DOUBLE) AS a11,
                  CAST(sum(chars) AS DOUBLE) AS a12,
                  CAST(sum(toks) AS DOUBLE) AS a13,
                  CAST(sum(vowels) AS DOUBLE) AS b1,
                  CAST(sum(chars * chars) AS DOUBLE) + 1.0 AS a22,
                  CAST(sum(chars * toks) AS DOUBLE) AS a23,
                  CAST(sum(toks * toks) AS DOUBLE) + 1.0 AS a33,
                  CAST(sum(chars * vowels) AS DOUBLE) AS b2,
                  CAST(sum(toks * vowels) AS DOUBLE) AS b3
           FROM f),
         d AS (
           SELECT a11 * (a22 * a33 - a23 * a23) -
                    a12 * (a12 * a33 - a23 * a13) +
                    a13 * (a12 * a23 - a22 * a13) AS det,
                  b1 * (a22 * a33 - a23 * a23) -
                    a12 * (b2 * a33 - a23 * b3) +
                    a13 * (b2 * a23 - a22 * b3) AS det0,
                  a11 * (b2 * a33 - a23 * b3) -
                    b1 * (a12 * a33 - a23 * a13) +
                    a13 * (a12 * b3 - b2 * a13) AS det1,
                  a11 * (a22 * b3 - b2 * a23) -
                    a12 * (a12 * b3 - b2 * a13) +
                    b1 * (a12 * a23 - a22 * a13) AS det2
           FROM m),
         b AS (
           SELECT det0 / det AS beta0, det1 / det AS beta1,
                  det2 / det AS beta2
           FROM d)
         SELECT doc_id, chars, toks, vowels,
                round(beta0 + beta1 * CAST(chars AS DOUBLE)
                            + beta2 * CAST(toks AS DOUBLE), 4) AS yhat,
                round(CAST(vowels AS DOUBLE) -
                      (beta0 + beta1 * CAST(chars AS DOUBLE)
                             + beta2 * CAST(toks AS DOUBLE)), 4) AS resid
         FROM f, b ORDER BY doc_id""",
    "q_t_gopher_filter" ->
      """WITH f AS (SELECT doc_id,
           len(string_split(text, ' ')) AS n_tok,
           length(text) AS n_chars,
           length(regexp_replace(text, '[^[:punct:]]', '', 'g')) AS n_punct,
           len(list_filter(string_split(text, ' '),
               t -> t IN ('the','a','an','and','or','of','to','in','is','it',
                          'that','for','on','with','as','at','by'))) AS sw,
           len(list_distinct(string_split(text, ' '))) AS n_uniq
         FROM documents)
         SELECT doc_id,
           n_tok BETWEEN 30 AND 10000 AS ok_len,
           n_chars / CAST(n_tok AS DOUBLE) BETWEEN 3.0 AND 10.0 AS ok_word_len,
           n_punct / CAST(n_chars AS DOUBLE) <= 0.1 AS ok_symbol,
           sw >= 2 AS ok_stopwords,
           (n_tok - n_uniq) / CAST(n_tok AS DOUBLE) <= 0.6 AS ok_repetition,
           (n_tok BETWEEN 30 AND 10000)
             AND (n_chars / CAST(n_tok AS DOUBLE) BETWEEN 3.0 AND 10.0)
             AND (n_punct / CAST(n_chars AS DOUBLE) <= 0.1)
             AND (sw >= 2)
             AND ((n_tok - n_uniq) / CAST(n_tok AS DOUBLE) <= 0.6) AS pass
         FROM f ORDER BY doc_id""",
    "q_t_mixture_weights" ->
      """WITH c AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
         p AS (SELECT lang, n_docs,
                 pow(n_docs / CAST((SELECT sum(n_docs) FROM c) AS DOUBLE), 0.5) AS pw
               FROM c)
         SELECT lang, n_docs, round(pw / (SELECT sum(pw) FROM p), 6) AS weight
         FROM p ORDER BY lang""",
    "q_t_top_ngrams" ->
      """WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
         g AS (SELECT t[i] || ' ' || t[i+1] AS gram
               FROM toks, UNNEST(range(1, len(t))) AS r(i))
         SELECT gram, count(*) AS cnt FROM g GROUP BY gram
         ORDER BY cnt DESC, gram LIMIT 20""",
    // the same decomposed probe goes through DuckDB's nfc_normalize, so
    // both engines' UAX#15 composition is compared end to end
    "q_t_nfc" ->
      s"""SELECT doc_id,
           CAST(length(substring(text, 1, 8) || '$NfcProbeSuffix') AS BIGINT) AS raw_chars,
           CAST(length(nfc_normalize(substring(text, 1, 8) || '$NfcProbeSuffix')) AS BIGINT) AS nfc_chars,
           md5(nfc_normalize(substring(text, 1, 8) || '$NfcProbeSuffix')) AS nfc_md5
         FROM documents ORDER BY doc_id""",
    "q_t_hash_sample" ->
      """WITH u AS (
           SELECT doc_id, lang,
                  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                    / 4294967296.0 AS coin,
                  CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.25
                            WHEN 'zh' THEN 1.0 ELSE 0.1 END AS rate
           FROM documents),
         s AS (
           SELECT lang,
                  CASE WHEN coin < 0.8 THEN 'train'
                       WHEN coin < 0.9 THEN 'val'
                       ELSE 'test' END AS split
           FROM u WHERE coin < rate)
         SELECT lang, split, count(*) AS cnt
         FROM s GROUP BY lang, split ORDER BY lang, split""",
    "q_t_tfidf" ->
      """WITH terms AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS t
           FROM documents),
         tf AS (SELECT doc_id, t, count(*) AS tf FROM terms GROUP BY doc_id, t),
         dfreq AS (SELECT t, count(DISTINCT doc_id) AS df FROM terms GROUP BY t),
         n AS (SELECT count(*) AS n FROM documents),
         scored AS (
           SELECT tf.doc_id, tf.t AS term,
                  round(tf.tf * ln((n.n + 1) / CAST(df.df + 1 AS DOUBLE)), 4) AS tfidf,
                  row_number() OVER (PARTITION BY tf.doc_id
                    ORDER BY tf.tf * ln((n.n + 1) / CAST(df.df + 1 AS DOUBLE)) DESC,
                             tf.t) AS rn
           FROM tf JOIN dfreq df ON tf.t = df.t, n)
         SELECT doc_id, term, tfidf FROM scored
         WHERE rn = 1 ORDER BY doc_id""",
    "q_t_stratified_fixed" ->
      """WITH u AS (
           SELECT doc_id, lang, source,
                  row_number() OVER (
                    PARTITION BY lang
                    ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                               / 4294967296.0, doc_id) AS rn
           FROM documents)
         SELECT doc_id, lang, source FROM u
         WHERE rn <= 10 ORDER BY lang, doc_id""",
    "q_t_quality_model" -> qualityModelOracleSql(24),
    // the full curation chain replayed stage-for-stage (each fragment is
    // the corresponding single-op oracle's, re-scoped to the previous
    // stage's survivors)
    "q_t_pipeline" ->
      """WITH f AS (
           SELECT doc_id, text,
                  len(string_split(text, ' ')) AS n_tok,
                  length(text) AS n_chars,
                  length(regexp_replace(text, '[^[:punct:]]', '', 'g')) AS n_punct,
                  len(list_filter(string_split(text, ' '),
                    t -> t IN ('the','a','an','and','or','of','to','in','is',
                               'it','that','for','on','with','as','at','by'))) AS sw,
                  len(list_distinct(string_split(text, ' '))) AS n_uniq
           FROM documents),
         passed AS (
           SELECT doc_id, text FROM f
           WHERE n_tok BETWEEN 30 AND 10000
             AND n_chars / CAST(n_tok AS DOUBLE) BETWEEN 3.0 AND 10.0
             AND n_punct / CAST(n_chars AS DOUBLE) <= 0.1
             AND sw >= 2
             AND (n_tok - n_uniq) / CAST(n_tok AS DOUBLE) <= 0.6),
         lang AS (
           SELECT doc_id, text,
                  CASE WHEN greatest(en, de, es, fr) <= 0 THEN 'und'
                       WHEN de >= greatest(en, es, fr) THEN 'de'
                       WHEN en >= greatest(es, fr) THEN 'en'
                       WHEN es >= fr THEN 'es' ELSE 'fr' END AS pred_lang
           FROM (
             SELECT doc_id, text,
               len(list_filter(string_split(lower(text), ' '),
                 t -> t IN ('the','and','of','to','in','is','that','it','for','with'))) AS en,
               len(list_filter(string_split(lower(text), ' '),
                 t -> t IN ('der','die','und','das','ist','nicht','ein','mit','auf','zu'))) AS de,
               len(list_filter(string_split(lower(text), ' '),
                 t -> t IN ('el','la','de','que','y','los','en','un','por','con'))) AS es,
               len(list_filter(string_split(lower(text), ' '),
                 t -> t IN ('le','la','de','et','les','des','est','un','une','dans'))) AS fr
             FROM passed)),
         keepers AS (
           SELECT min(doc_id) AS doc_id FROM lang GROUP BY md5(text)),
         dd AS (
           SELECT l.doc_id, l.text, l.pred_lang
           FROM lang l JOIN keepers k ON l.doc_id = k.doc_id),
         btoks AS (SELECT string_split(text, ' ') AS t FROM documents
                   WHERE doc_id % 97 = 0),
         bgrams AS (SELECT DISTINCT array_to_string(t[i:i+7], ' ') AS g
                    FROM btoks,
                         UNNEST(range(1, greatest(len(t) - 6, 2))) AS r(i)),
         dtoks AS (SELECT doc_id, string_split(text, ' ') AS t FROM dd),
         dirty AS (SELECT DISTINCT doc_id
                   FROM dtoks,
                        UNNEST(range(1, greatest(len(t) - 6, 2))) AS r(i)
                   WHERE array_to_string(t[i:i+7], ' ')
                     IN (SELECT g FROM bgrams)),
         clean AS (SELECT doc_id, pred_lang FROM dd
                   WHERE doc_id NOT IN (SELECT doc_id FROM dirty)),
         final AS (
           SELECT doc_id, pred_lang,
                  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                    / 4294967296.0 AS coin,
                  ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':split'),
                    1, 8))::BIGINT / 4294967296.0 AS scoin
           FROM clean)
         SELECT doc_id, pred_lang,
                CASE WHEN scoin < 0.8 THEN 'train'
                     WHEN scoin < 0.9 THEN 'val' ELSE 'test' END AS split
         FROM final
         WHERE coin < CASE pred_lang WHEN 'en' THEN 0.7
                      WHEN 'und' THEN 0.3 ELSE 0.5 END
         ORDER BY doc_id""",
    "q_t_decontam" ->
      """WITH toks AS (SELECT doc_id, lang, string_split(text, ' ') AS t
                       FROM documents),
         grams AS (
           SELECT doc_id, lang,
                  array_to_string(t[i:i+7], ' ') AS g
           FROM toks,
                UNNEST(range(1, greatest(len(t) - 6, 2))) AS r(i)),
         bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 97 = 0),
         dirty AS (SELECT DISTINCT doc_id FROM grams
                   WHERE g IN (SELECT g FROM bench))
         SELECT lang, count(*) AS kept
         FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM dirty)
         GROUP BY lang ORDER BY lang""",
    // bloom prefilter + exact verify == exact decontamination (FPs die
    // in the verify join), so the oracle is q_t_decontam's verbatim
    "q_t_decontam_bloom" ->
      """WITH toks AS (SELECT doc_id, lang, string_split(text, ' ') AS t
                       FROM documents),
         grams AS (
           SELECT doc_id, lang,
                  array_to_string(t[i:i+7], ' ') AS g
           FROM toks,
                UNNEST(range(1, greatest(len(t) - 6, 2))) AS r(i)),
         bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 97 = 0),
         dirty AS (SELECT DISTINCT doc_id FROM grams
                   WHERE g IN (SELECT g FROM bench))
         SELECT lang, count(*) AS kept
         FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM dirty)
         GROUP BY lang ORDER BY lang""",
    // fractional rule replayed literally: distinct grams per doc,
    // hits vs the excerpt-benchmark gram set, drop iff hits > tot*0.4
    "q_t_decontam_overlap" ->
      """WITH toks AS (SELECT doc_id, lang, string_split(text, ' ') AS t
                       FROM documents),
         grams AS (
           SELECT DISTINCT doc_id, array_to_string(t[i:i+7], ' ') AS g
           FROM toks,
                UNNEST(range(1, greatest(len(t) - 6, 2))) AS r(i)),
         benchtoks AS (SELECT t[1:20] AS bt FROM toks WHERE doc_id % 97 = 0),
         bench AS (
           SELECT DISTINCT array_to_string(bt[i:i+7], ' ') AS g
           FROM benchtoks,
                UNNEST(range(1, greatest(len(bt) - 6, 2))) AS r(i)),
         stats AS (
           SELECT doc_id, count(*) AS tot,
                  count(CASE WHEN g IN (SELECT g FROM bench)
                             THEN 1 END) AS hits
           FROM grams GROUP BY doc_id),
         dirty AS (SELECT doc_id FROM stats WHERE hits > tot * 0.4)
         SELECT lang, count(*) AS kept
         FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM dirty)
         GROUP BY lang ORDER BY lang""",
    // same RE2 rewrites replayed in DuckDB (only the repeatable utm
    // pass needs the 'g' flag — DuckDB replaces first-match by
    // default, Spark all; the two '?'-anchored passes match at most
    // once since a URL has one '?')
    "q_t_url_normalize" ->
      """WITH u AS (
           SELECT doc_id,
             'HTTPS://WWW.' || upper(source) || '.Example.COM:443/Docs/'
               || doc_id || '/?utm_source=feed&utm_campaign=a1&id='
               || doc_id || '#sec2' AS url
           FROM documents),
         n1 AS (SELECT doc_id, regexp_replace(url, '#.*', '') AS nf FROM u),
         n2 AS (SELECT doc_id, nf,
                  regexp_extract(nf,
                    '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*') AS rawauth
                FROM n1),
         n3 AS (SELECT doc_id,
                  regexp_replace(regexp_replace(lower(rawauth),
                    '://www\.', '://'), ':(80|443)$', '') AS auth,
                  substr(nf, length(rawauth) + 1) AS rest
                FROM n2),
         n4 AS (SELECT doc_id, auth,
                  regexp_replace(regexp_replace(regexp_replace(
                    regexp_replace(regexp_replace(regexp_replace(
                      rest, '&utm_[a-z]+=[^&]*', '', 'g'),
                      '\?utm_[a-z]+=[^&]*&', '?'),
                      '\?utm_[a-z]+=[^&]*$', ''),
                    '[?&]+$', ''), '/+\?', '?'), '/+$', '') AS tidy
                FROM n3)
         SELECT doc_id, auth || tidy AS url_norm,
           regexp_extract(
             regexp_extract(auth || tidy, '://([^/:?#]*)', 1),
             '[^.]*\.[^.]*$') AS domain
         FROM n4 ORDER BY doc_id""",
    // independent formulation: the oracle knows both URL forms
    // canonicalize to the clean one, so it builds the key directly
    "q_t_url_dedup" ->
      """WITH u AS (
           SELECT doc_id, n_chars,
                  'https://example.com/p/' || (doc_id % 250) AS un
           FROM documents),
         rk AS (
           SELECT doc_id, n_chars,
                  row_number() OVER (PARTITION BY un
                    ORDER BY n_chars DESC, doc_id) AS rn
           FROM u)
         SELECT doc_id, n_chars FROM rk WHERE rn = 1 ORDER BY doc_id""",
    // independent formulation: www.<source>.net registers as
    // <source>.net, so blocking {src3,src7,src15}.net is a NOT IN on
    // source
    "q_t_domain_filter" ->
      """SELECT source, count(*) AS kept FROM documents
         WHERE source NOT IN ('src3', 'src7', 'src15')
         GROUP BY source ORDER BY source""",
    "q_t_lm_score" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
                       FROM documents),
         gr AS (SELECT doc_id, t[i] || ' ' || t[i+1] AS g
                FROM toks, UNNEST(range(1, len(t))) AS r(i)),
         bi AS (SELECT g, count(*) AS c2 FROM gr GROUP BY g),
         bi2 AS (SELECT g, c2, string_split(g, ' ')[1] AS w1 FROM bi),
         ctx AS (SELECT w1, sum(c2) AS c1 FROM bi2 GROUP BY w1),
         v AS (SELECT count(*) AS v FROM ctx)
         SELECT gr.doc_id, count(*) AS n_bigrams,
                round(avg(ln((bi2.c2 + 0.5) / (ctx.c1 + 0.5 * v.v))), 4)
                  AS lm_score
         FROM gr JOIN bi2 USING (g) JOIN ctx USING (w1), v
         GROUP BY gr.doc_id ORDER BY gr.doc_id""",
    // relational mirror of the scan-local sorted-run fold: max per-doc
    // bigram count == longest equal-adjacent run in the sorted array
    "q_t_repetition" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
                       FROM documents),
         bg AS (SELECT doc_id, t[i] || ' ' || t[i+1] AS g
                FROM toks, UNNEST(range(1, len(t))) AS r(i)),
         cnt AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY doc_id, g),
         top AS (SELECT doc_id, max(c) AS best, sum(c) AS nbg
                 FROM cnt GROUP BY doc_id)
         SELECT d.doc_id,
                round((len(t) - len(list_distinct(t)))
                      / CAST(len(t) AS DOUBLE), 4) AS dup_token_frac,
                COALESCE(round(best / CAST(nbg AS DOUBLE), 4), 0.0)
                  AS top_bigram_frac
         FROM toks d LEFT JOIN top ON d.doc_id = top.doc_id
         ORDER BY d.doc_id""",
    "q_t_pii" ->
      """WITH e AS (SELECT doc_id,
           text || ' contact user' || CAST(doc_id AS VARCHAR)
                || '@example.com via 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                || '.7 tel 555-'
                || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS x
           FROM documents)
         SELECT doc_id,
           CAST(len(regexp_extract_all(x,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
             AS n_email,
           CAST(len(regexp_extract_all(x,
             '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ipv4,
           CAST(len(regexp_extract_all(x, '\b\d{3}-\d{4}\b')) AS BIGINT)
             AS n_phone,
           regexp_replace(regexp_replace(regexp_replace(x,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
             '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IPV4]', 'g'),
             '\b\d{3}-\d{4}\b', '[PHONE]', 'g') AS redacted
         FROM e ORDER BY doc_id""",
    // the oracle IS the textbook global running sum; the engine computes
    // it block-decomposed — identical offsets prove the decomposition
    "q_t_packing" ->
      """WITH t AS (SELECT doc_id,
                           CAST(len(string_split(text, ' ')) AS BIGINT) AS n
                    FROM documents),
         o AS (SELECT doc_id, n,
                 COALESCE(CAST(sum(n) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS BIGINT), 0) AS start_tok
               FROM t)
         SELECT doc_id, n AS n_tokens, start_tok,
                start_tok // 512 AS seq_first,
                (start_tok + greatest(n, 1) - 1) // 512 AS seq_last
         FROM o ORDER BY doc_id""",

    "q_t_pack_slices" ->
      """WITH t AS (SELECT doc_id,
                           CAST(len(string_split(text, ' ')) AS BIGINT) AS n
                    FROM documents),
         o AS (SELECT doc_id, n,
                 COALESCE(CAST(sum(n) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS BIGINT), 0) AS start_tok
               FROM t),
         s AS (SELECT doc_id, n, start_tok,
                 unnest(generate_series(start_tok // 512,
                                        (start_tok + n - 1) // 512)) AS seq_id
               FROM o WHERE n > 0)
         SELECT seq_id, doc_id,
                greatest(start_tok, seq_id * 512) - start_tok AS doc_off,
                greatest(start_tok, seq_id * 512) - seq_id * 512 AS seq_off,
                least(start_tok + n, (seq_id + 1) * 512)
                  - greatest(start_tok, seq_id * 512) AS len
         FROM s ORDER BY seq_id, seq_off""",

    // next-fit replayed literally: rank r joins rank r-1's open-bin
    // state, every block advancing in the same recursion step
    "q_t_pack_bins" ->
      """WITH RECURSIVE t AS (
           SELECT doc_id,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
                  doc_id // 64 AS b,
                  row_number() OVER (PARTITION BY doc_id // 64
                                     ORDER BY doc_id) AS r
           FROM documents),
         walk AS (
           SELECT b, r, doc_id, n, n AS fill, CAST(0 AS BIGINT) AS bin
           FROM t WHERE r = 1
           UNION ALL
           SELECT t.b, t.r, t.doc_id, t.n,
                  CASE WHEN w.fill > 0 AND w.fill + t.n > 512
                       THEN t.n ELSE w.fill + t.n END,
                  CASE WHEN w.fill > 0 AND w.fill + t.n > 512
                       THEN w.bin + 1 ELSE w.bin END
           FROM walk w JOIN t ON t.b = w.b AND t.r = w.r + 1)
         SELECT doc_id, b * 64 + bin AS bin_id, n AS n_tokens
         FROM walk ORDER BY doc_id""",

    // literal-truth gate (q_s_pca policy): the packing invariants must
    // all hold; the computable columns pin the corpus the solve saw
    "q_t_pack_bfd" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_docs,
                CAST(count(*) FILTER (WHERE n > 512) AS BIGINT)
                  AS n_oversize,
                CAST(sum(n) AS BIGINT) AS total_tokens,
                true AS ok_coverage, true AS ok_capacity,
                true AS ok_oversize_isolated, true AS ok_beats_nextfit,
                true AS ok_bfd_bound
         FROM (SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n
               FROM documents) WHERE n >= 1""",
    // literal-truth gate (Lloyd-IVF policy): every invariant of a
    // correct eigendecomposition + projection must hold
    "q_s_pca" ->
      """SELECT CAST(comp_id AS BIGINT) AS comp_id,
                ok_unit, ok_orth, ok_desc, ok_nonneg, ok_recon
         FROM (VALUES
           (0, true, true, true, true, true),
           (1, true, true, true, true, true),
           (2, true, true, true, true, true),
           (3, true, true, true, true, true))
           AS v(comp_id, ok_unit, ok_orth, ok_desc, ok_nonneg, ok_recon)
         ORDER BY comp_id""",
    "q_s_quantize" ->
      """WITH q AS (
           SELECT vec_id, embedding,
                  list_max(list_transform(embedding,
                    x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS s
           FROM embeddings),
         c AS (
           SELECT vec_id, round(s, 6) AS scale,
                  list_transform(embedding, x ->
                    CASE WHEN s = 0 THEN 0
                         ELSE CAST(round(CAST(x AS DOUBLE) / s) AS INT) END) AS codes
           FROM q)
         SELECT vec_id, scale,
                CAST(list_sum(codes) AS BIGINT) AS code_sum,
                list_min(codes) AS code_min,
                list_max(codes) AS code_max
         FROM c ORDER BY vec_id""",
    // integer dots/norms are exact in both engines; doubles derived from
    // them divide identically, so even the RANKING needs no tolerance
    "q_s_int8_topk" ->
      """WITH c AS (
           SELECT vec_id,
                  list_transform(embedding, x ->
                    CASE WHEN s = 0 THEN 0
                         ELSE CAST(round(CAST(x AS DOUBLE) / s) AS INT) END) AS codes
           FROM (SELECT vec_id, embedding,
                        list_max(list_transform(embedding,
                          x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS s
                 FROM embeddings)),
         q AS (SELECT vec_id AS query_id, codes AS qc FROM c WHERE vec_id < 5),
         z AS (SELECT q.query_id, c.vec_id,
                      unnest(c.codes) AS a, unnest(q.qc) AS b
               FROM c CROSS JOIN q),
         s AS (SELECT query_id, vec_id,
                      CAST(sum(CAST(a AS BIGINT) * CAST(b AS BIGINT)) AS BIGINT) AS dot,
                      CAST(sum(CAST(a AS BIGINT) * CAST(a AS BIGINT)) AS BIGINT) AS n2a,
                      CAST(sum(CAST(b AS BIGINT) * CAST(b AS BIGINT)) AS BIGINT) AS n2b
               FROM z GROUP BY query_id, vec_id)
         SELECT query_id, vec_id,
                round(CAST(dot AS DOUBLE) /
                      (sqrt(CAST(n2a AS DOUBLE)) * sqrt(CAST(n2b AS DOUBLE))), 6) AS cos_i8
         FROM s
         QUALIFY row_number() OVER (
           PARTITION BY query_id
           ORDER BY CAST(dot AS DOUBLE) /
                    (sqrt(CAST(n2a AS DOUBLE)) * sqrt(CAST(n2b AS DOUBLE))) DESC,
                    vec_id) <= 5
         ORDER BY query_id, cos_i8 DESC, vec_id""",
    "q_s_cosine_topk" ->
      """WITH q AS (SELECT embedding AS e FROM embeddings WHERE vec_id = 0),
         z AS (SELECT vec_id, unnest(embedding) AS x,
                      unnest((SELECT e FROM q)) AS y
               FROM embeddings),
         s AS (SELECT vec_id,
                      sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dot,
                      sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nx,
                      sqrt(sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE))) AS ny
               FROM z GROUP BY vec_id)
         SELECT vec_id, round(dot / (nx * ny), 6) AS cos
         FROM s ORDER BY cos DESC, vec_id LIMIT 10""",
    "q_mm_decode" ->
      """SELECT doc_id,
                octet_length(CAST(text AS BLOB)) AS byte_len,
                CAST(octet_length(CAST(text AS BLOB)) % 1024 AS INT) AS width,
                CAST((octet_length(CAST(text AS BLOB)) * 7) % 768 AS INT) AS height,
                CAST(octet_length(CAST(text AS BLOB)) % 30 + 1 AS INT) AS frames,
                CASE WHEN octet_length(CAST(text AS BLOB)) % 2 = 0
                     THEN 'even' ELSE 'odd' END AS format
         FROM documents ORDER BY doc_id""",
    // brute-force ST_DWithin over the same synthetic lattices: the
    // oracle pays the all-pairs cost the engine's grid join avoids
    // (1500 x 100 at sf0.01 — fine for an oracle, not for 100 TB)
    "q_geo_dwithin" ->
      """WITH l AS (
           SELECT c_custkey AS left_id,
                  (c_custkey % 37) * CAST(0.01 AS DOUBLE) AS lon,
                  (c_custkey % 23) * CAST(0.01 AS DOUBLE) AS lat
           FROM customer),
         r AS (
           SELECT s_suppkey AS right_id,
                  (s_suppkey % 37) * CAST(0.01 AS DOUBLE) + CAST(0.005 AS DOUBLE) AS lon,
                  (s_suppkey % 23) * CAST(0.01 AS DOUBLE) + CAST(0.005 AS DOUBLE) AS lat
           FROM supplier),
         p AS (
           SELECT left_id, right_id,
                  2 * 6371008.8 * asin(sqrt(
                    sin(radians(r.lat - l.lat)/2)^2 +
                    cos(radians(l.lat)) * cos(radians(r.lat)) *
                      sin(radians(r.lon - l.lon)/2)^2)) AS d
           FROM l, r)
         SELECT left_id, count(*) AS n_within,
                CAST(round(min(d)) AS BIGINT) AS min_dist_m
         FROM p WHERE d <= 1200 GROUP BY left_id ORDER BY left_id""",
    // brute-force nearest edge: every (query, edge, segment) triple,
    // the clamped-projection distance mirroring evalClosest
    // token-for-token (raw, t via least/greatest, cx/cy, d2), then
    // argmin by (d2, segment) within an edge and (d2, edge_id) across
    // edges — the exact tie-break order the engine's first-min loop
    // and min(struct(...)) aggregate produce
    "q_geo_snap" ->
      """WITH q AS (
           SELECT c_custkey AS query_id,
                  (c_custkey % 37) * CAST(0.01 AS DOUBLE) + CAST(0.002 AS DOUBLE) AS px,
                  (c_custkey % 23) * CAST(0.01 AS DOUBLE) + CAST(0.001 AS DOUBLE) AS py
           FROM customer),
         e AS (
           SELECT s_suppkey AS edge_id,
                  (s_suppkey % 37) * CAST(0.01 AS DOUBLE) AS ax,
                  (s_suppkey % 23) * CAST(0.01 AS DOUBLE) AS ay
           FROM supplier),
         seg AS (
           SELECT edge_id, 0 AS si, ax AS x1, ay AS y1,
                  ax + CAST(0.004 AS DOUBLE) AS x2, ay AS y2 FROM e
           UNION ALL
           SELECT edge_id, 1, ax + CAST(0.004 AS DOUBLE), ay,
                  ax + CAST(0.004 AS DOUBLE), ay + CAST(0.004 AS DOUBLE) FROM e),
         d AS (
           SELECT query_id, edge_id, si,
                  x2 - x1 AS dx, y2 - y1 AS dy,
                  (x2 - x1) * (x2 - x1) + (y2 - y1) * (y2 - y1) AS len2,
                  least(CAST(1.0 AS DOUBLE), greatest(CAST(0.0 AS DOUBLE),
                    ((px - x1) * (x2 - x1) + (py - y1) * (y2 - y1)) /
                      ((x2 - x1) * (x2 - x1) + (y2 - y1) * (y2 - y1)))) AS t,
                  px, py, x1, y1
           FROM q, seg),
         c AS (
           SELECT query_id, edge_id, si,
                  x1 + t * dx AS cx, y1 + t * dy AS cy,
                  (px - (x1 + t * dx)) * (px - (x1 + t * dx)) +
                  (py - (y1 + t * dy)) * (py - (y1 + t * dy)) AS d2
           FROM d),
         r AS (
           SELECT query_id, edge_id, d2, cx, cy,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY d2, edge_id, si) AS rn
           FROM c
           WHERE d2 <= CAST(0.015 AS DOUBLE) * CAST(0.015 AS DOUBLE))
         SELECT query_id, edge_id, round(d2, 12) AS d2,
                round(cx, 9) AS snap_x, round(cy, 9) AS snap_y
         FROM r WHERE rn = 1 ORDER BY query_id""",
    // the DP expected answer in closed form: triangle-wave fillers are
    // EXACTLY collinear (distance 0 <= eps) so only corners survive,
    // and flat (amp=0) ways keep only their endpoints — the oracle
    // enumerates that vertex set directly, every coordinate exact
    "q_geo_simplify" ->
      """WITH w AS (SELECT CAST(n_nationkey AS BIGINT) AS way_id,
                           CAST(n_nationkey % 3 AS BIGINT) AS amp FROM nation),
            k AS (SELECT way_id, amp, unnest(range(0, 25)) AS x FROM w)
         SELECT way_id,
                CAST(CASE WHEN amp = 0 THEN CASE WHEN x = 0 THEN 0 ELSE 1 END
                          ELSE x // 4 END AS BIGINT) AS pos,
                CAST(x AS DOUBLE) AS lon,
                CAST((4 - abs(x % 8 - 4)) * amp AS DOUBLE) / 2.0 AS lat
         FROM k
         WHERE (amp = 0 AND x IN (0, 24)) OR (amp > 0 AND x % 4 = 0)
         ORDER BY way_id, pos""",
    // brute-force nearest neighbor over the same lattices: all-pairs
    // haversine + row_number, the plan the engine's grid join replaces
    "q_geo_nearest" ->
      """WITH q AS (
           SELECT c_custkey AS query_id,
                  (c_custkey % 37) * CAST(0.01 AS DOUBLE) AS lon,
                  (c_custkey % 23) * CAST(0.01 AS DOUBLE) AS lat
           FROM customer),
         t AS (
           SELECT s_suppkey AS nearest_id,
                  (s_suppkey % 37) * CAST(0.01 AS DOUBLE) + CAST(0.003 AS DOUBLE) AS lon,
                  (s_suppkey % 23) * CAST(0.01 AS DOUBLE) + CAST(0.002 AS DOUBLE) AS lat
           FROM supplier),
         p AS (
           SELECT query_id, nearest_id,
                  2 * 6371008.8 * asin(sqrt(
                    sin(radians(t.lat - q.lat)/2)^2 +
                    cos(radians(q.lat)) * cos(radians(t.lat)) *
                      sin(radians(t.lon - q.lon)/2)^2)) AS d,
                  row_number() OVER (PARTITION BY query_id ORDER BY
                    2 * 6371008.8 * asin(sqrt(
                      sin(radians(t.lat - q.lat)/2)^2 +
                      cos(radians(q.lat)) * cos(radians(t.lat)) *
                        sin(radians(t.lon - q.lon)/2)^2)), nearest_id) AS rn
           FROM q, t
           WHERE 2 * 6371008.8 * asin(sqrt(
                   sin(radians(t.lat - q.lat)/2)^2 +
                   cos(radians(q.lat)) * cos(radians(t.lat)) *
                     sin(radians(t.lon - q.lon)/2)^2)) <= 2000)
         SELECT query_id, nearest_id, CAST(round(d) AS BIGINT) AS nearest_m
         FROM p WHERE rn = 1 ORDER BY query_id""",
    // Snyder LCC 2SP forward equations (USGS PP 1395, 15-1..15-10)
    // evaluated natively by DuckDB with the published EPSG:3347
    // parameters — projection constants in scalar CTEs, per-point trig
    // in the projection select
    "q_geo_lcc_project" ->
      """WITH c AS (
           SELECT 6378137.0 AS a,
                  sqrt(2*(1/298.257222101) - (1/298.257222101)^2) AS e,
                  radians(49.0) AS phi1, radians(77.0) AS phi2,
                  radians(63.390675) AS phi0,
                  -91.86666666666667 AS lon0,
                  6200000.0 AS fe, 3000000.0 AS fn),
         d AS (
           SELECT *,
             cos(phi1)/sqrt(1 - e*e*sin(phi1)*sin(phi1)) AS m1,
             cos(phi2)/sqrt(1 - e*e*sin(phi2)*sin(phi2)) AS m2,
             tan(pi()/4 - phi1/2) * ((1 + e*sin(phi1))/(1 - e*sin(phi1)))^(e/2) AS t1,
             tan(pi()/4 - phi2/2) * ((1 + e*sin(phi2))/(1 - e*sin(phi2)))^(e/2) AS t2,
             tan(pi()/4 - phi0/2) * ((1 + e*sin(phi0))/(1 - e*sin(phi0)))^(e/2) AS t0
           FROM c),
         k AS (SELECT *, (ln(m1) - ln(m2))/(ln(t1) - ln(t2)) AS n FROM d),
         k2 AS (SELECT *, m1/(n * t1^n) AS bigF FROM k),
         k3 AS (SELECT *, a * bigF * t0^n AS rho0 FROM k2),
         pts AS (
           SELECT c_custkey,
                  -97.0 + CAST(c_custkey % 100 AS DOUBLE)/10.0 AS lon,
                  49.0 + CAST(c_custkey % 280 AS DOUBLE)/10.0 AS lat
           FROM customer),
         pr AS (
           SELECT c_custkey, lon, lat,
             tan(pi()/4 - radians(lat)/2) *
               ((1 + e*sin(radians(lat)))/(1 - e*sin(radians(lat))))^(e/2) AS t,
             n, a, bigF, rho0, fe, fn, lon0
           FROM pts, k3)
         SELECT c_custkey,
           round(fe + a*bigF*t^n * sin(n*radians(lon - lon0)), 2) AS x,
           round(fn + rho0 - a*bigF*t^n * cos(n*radians(lon - lon0)), 2) AS y
         FROM pr ORDER BY c_custkey""",
    // Snyder Transverse Mercator forward (USGS PP 1395, 8-9..8-13) with
    // the published EPSG:32633 constants plus spherical Web Mercator —
    // both re-derived natively in DuckDB. Powers are written as the
    // same chained multiplications the engine uses (a2 = A*A, A^3 as
    // A*a2, …) so both engines follow the identical IEEE operation
    // sequence before the 2-place round.
    "q_geo_transform" ->
      """WITH c AS (
           SELECT 6378137.0 AS a,
                  2*(1/298.257223563) - (1/298.257223563)^2 AS e2,
                  0.9996 AS k0, 15.0 AS lon0, 500000.0 AS fe, 0.0 AS fn),
         d AS (
           SELECT *, e2/(1-e2) AS ep2,
             1 - e2/4 - 3*e2*e2/64 - 5*e2*e2*e2/256 AS c0,
             3*e2/8 + 3*e2*e2/32 + 45*e2*e2*e2/1024 AS c2,
             15*e2*e2/256 + 45*e2*e2*e2/1024 AS c4,
             35*e2*e2*e2/3072 AS c6
           FROM c),
         pts AS (
           SELECT c_custkey,
                  12.0 + CAST(c_custkey % 60 AS DOUBLE)/10.0 AS lon,
                  40.0 + CAST(c_custkey % 250 AS DOUBLE)/10.0 AS lat
           FROM customer),
         pr AS (
           SELECT c_custkey, lon, lat, radians(lat) AS phi,
                  a, e2, ep2, k0, lon0, fe, fn, c0, c2, c4, c6
           FROM pts, d),
         q AS (
           SELECT *,
             a / sqrt(1 - e2*sin(phi)*sin(phi)) AS bigN,
             tan(phi)*tan(phi) AS bigT,
             ep2 * cos(phi)*cos(phi) AS bigC,
             radians(lon - lon0) * cos(phi) AS bigA,
             a * (c0*phi - c2*sin(phi*2) + c4*sin(phi*4) - c6*sin(phi*6)) AS bigM
           FROM pr),
         q2 AS (SELECT *, bigA*bigA AS a2 FROM q)
         SELECT c_custkey,
           round(fe + k0 * bigN * (bigA
             + (1 - bigT + bigC) * bigA * a2 / 6
             + (5 - 18*bigT + bigT*bigT + 72*bigC - 58*ep2)
                 * bigA * a2 * a2 / 120), 2) AS utm_x,
           round(fn + k0 * (bigM
             + bigN * tan(phi) * (a2/2
               + (5 - bigT + 9*bigC + 4*bigC*bigC) * a2 * a2 / 24
               + (61 - 58*bigT + bigT*bigT + 600*bigC - 330*ep2)
                   * a2 * a2 * a2 / 720)), 2) AS utm_y,
           round(6378137.0 * radians(lon), 2) AS merc_x,
           round(6378137.0 * ln(tan(pi()/4 + radians(lat)/2)), 2) AS merc_y
         FROM q2 ORDER BY c_custkey""",
    // Window-function ring rebuild (lead + first_value closing edge) —
    // independent formulation of the same exact-integer shoelace math
    // the engine computes with an array fold. The pseudo-angle sort key
    // uses only +,-,abs,÷ (each IEEE-exactly-rounded), so both engines
    // order ring vertices identically; every shoelace term is an exact
    // integer, so sums match bit-for-bit regardless of addition order.
    "q_geo_polygon" ->
      """WITH pts AS (
           SELECT CAST(c_nationkey AS BIGINT) AS nk, c_custkey AS k,
                  CAST(floor(c_acctbal) AS DOUBLE) AS x,
                  CAST(c_custkey*37 % 200 AS DOUBLE) AS y
           FROM customer),
         ctr AS (
           SELECT nk, (min(x)+max(x))/2 + 0.25 AS cx,
                  (min(y)+max(y))/2 + 0.25 AS cy
           FROM pts GROUP BY nk),
         ang AS (
           SELECT p.nk, p.k, p.x, p.y,
             CASE WHEN p.x - c.cx >= 0
               THEN (p.y-c.cy)/(abs(p.x-c.cx)+abs(p.y-c.cy))
               ELSE 2.0 - (p.y-c.cy)/(abs(p.x-c.cx)+abs(p.y-c.cy)) END AS pa
           FROM pts p JOIN ctr c USING (nk)),
         edges AS (
           SELECT nk, x, y,
             coalesce(lead(x) OVER w, first_value(x) OVER w) AS xn,
             coalesce(lead(y) OVER w, first_value(y) OVER w) AS yn
           FROM ang
           WINDOW w AS (PARTITION BY nk ORDER BY pa, k
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)),
         sums AS (
           SELECT nk, count(*) AS nv,
             sum(x*yn - xn*y) AS s2,
             sum((x+xn)*(x*yn - xn*y)) AS sx,
             sum((y+yn)*(x*yn - xn*y)) AS sy
           FROM edges GROUP BY nk)
         SELECT nk AS n_nationkey, CAST(nv AS BIGINT) AS nv,
                abs(s2)/2 AS area, sx/(3*s2) AS cx, sy/(3*s2) AS cy
         FROM sums WHERE nv >= 3 AND s2 <> 0
         ORDER BY n_nationkey""",
    // Half-plane membership (all five edge crosses strictly positive,
    // valid for this convex CCW pentagon) vs the engine's generic ray
    // cast — structurally different point-in-polygon algorithms that
    // must agree exactly because on-edge hits are impossible (integer
    // test points vs quarter-fraction vertices; min |cross| = 2.5, far
    // above any rounding error).
    "q_geo_pip" ->
      """WITH p AS (
           SELECT c_mktsegment,
                  CAST(c_custkey*7 % 100 AS DOUBLE) AS x,
                  CAST(c_custkey*13 % 100 AS DOUBLE) AS y
           FROM customer),
         t AS (
           SELECT c_mktsegment,
             ((90.25-10.25)*(y-10.25) - (5.25-10.25)*(x-10.25) > 0 AND
              (95.25-90.25)*(y-5.25)  - (60.25-5.25)*(x-90.25) > 0 AND
              (50.25-95.25)*(y-60.25) - (95.25-60.25)*(x-95.25) > 0 AND
              (5.25-50.25)*(y-95.25)  - (55.25-95.25)*(x-50.25) > 0 AND
              (10.25-5.25)*(y-55.25)  - (10.25-55.25)*(x-5.25)  > 0) AS inside
           FROM p)
         SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_pts,
                CAST(sum(CASE WHEN inside THEN 1 ELSE 0 END) AS BIGINT) AS n_inside
         FROM t GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    // Builds the identical POLYGON string by direct concatenation
    // (DuckDB and the JVM print integer-valued doubles the same way:
    // "80.0") and measures the bbox area directly — a dropped or
    // reordered vertex in asText/parse would break either column.
    "q_geo_wkt" ->
      """WITH pts AS (
           SELECT CAST(c_nationkey AS BIGINT) AS nk,
                  CAST(floor(c_acctbal) AS DOUBLE) AS x,
                  CAST(c_custkey*37 % 200 AS DOUBLE) AS y
           FROM customer),
         e AS (
           SELECT nk, min(x) AS x0, max(x) AS x1,
                  min(y) AS y0, max(y) AS y1
           FROM pts GROUP BY nk)
         SELECT nk AS n_nationkey,
           'POLYGON((' ||
             CAST(x0 AS VARCHAR) || ' ' || CAST(y0 AS VARCHAR) || ', ' ||
             CAST(x1 AS VARCHAR) || ' ' || CAST(y0 AS VARCHAR) || ', ' ||
             CAST(x1 AS VARCHAR) || ' ' || CAST(y1 AS VARCHAR) || ', ' ||
             CAST(x0 AS VARCHAR) || ' ' || CAST(y1 AS VARCHAR) || ', ' ||
             CAST(x0 AS VARCHAR) || ' ' || CAST(y0 AS VARCHAR) || '))' AS wkt,
           (x1-x0)*(y1-y0) AS area_rt
         FROM e ORDER BY n_nationkey""",
    // Strict range check against inset rectangles — structurally
    // different from the engine's grid-bucketed ray-cast join, but
    // exact-equal here: .25-fraction bounds vs integer points, and the
    // ray cast's vertical-edge intersection is exact (x2-x1 = 0).
    "q_geo_pip_join" ->
      """WITH pts AS (
           SELECT c_custkey, CAST(floor(c_acctbal) AS DOUBLE) AS x,
                  CAST(c_custkey*37 % 200 AS DOUBLE) AS y,
                  CAST(c_nationkey AS BIGINT) AS nk
           FROM customer),
         e AS (
           SELECT nk, min(x) AS x0, max(x) AS x1,
                  min(y) AS y0, max(y) AS y1
           FROM pts GROUP BY nk),
         r AS (
           SELECT nk, x0+10.25 AS a, x1-10.25 AS b,
                  y0+10.25 AS c, y1-10.25 AS d
           FROM e WHERE x1-x0 > 20.5 AND y1-y0 > 20.5)
         SELECT r.nk AS n_nationkey, CAST(count(*) AS BIGINT) AS n_inside
         FROM r JOIN pts p
           ON p.x > r.a AND p.x < r.b AND p.y > r.c AND p.y < r.d
         GROUP BY r.nk ORDER BY r.nk""",
    // The hull of parabola-plus-strictly-interior-decoys is exactly the
    // distinct parabola points; the oracle never runs a hull at all —
    // it sorts the parabola points by x (the lower chain) and closes
    // with the chord, the CCW hull cycle by construction. Signed
    // shoelace (no abs) checks the engine's orientation contract too.
    // coverage dissolve: literal hand-computed ring table (stitching is
    // not SQL-expressible; DissolveSpec owns the property checks)
    "q_geo_dissolve" ->
      """SELECT CAST(group_id AS BIGINT) AS group_id, ring_id, is_hole,
                CAST(n_pts AS BIGINT) AS n_pts,
                CAST(area_signed AS DOUBLE) AS area_signed, wkt
         FROM (VALUES
           (1, 1, false, 6, 2.0,
            'POLYGON((0.0 0.0, 1.0 0.0, 2.0 0.0, 2.0 1.0, 1.0 1.0, 0.0 1.0, 0.0 0.0))'),
           (2, 1, false, 12, 9.0,
            'POLYGON((0.0 0.0, 1.0 0.0, 2.0 0.0, 3.0 0.0, 3.0 1.0, 3.0 2.0, 3.0 3.0, 2.0 3.0, 1.0 3.0, 0.0 3.0, 0.0 2.0, 0.0 1.0, 0.0 0.0))'),
           (2, 2, true, 4, -1.0,
            'POLYGON((1.0 1.0, 1.0 2.0, 2.0 2.0, 2.0 1.0, 1.0 1.0))'))
           AS t(group_id, ring_id, is_hole, n_pts, area_signed, wkt)
         ORDER BY group_id, ring_id""",
    // general polygon difference: closed-form fixture areas (the
    // q_geo_dissolve policy — geometry fixtures hand-computable)
    "q_geo_difference" ->
      """SELECT CAST(case_id AS BIGINT) AS case_id,
                CAST(diff_area AS DOUBLE) AS diff_area,
                CAST(sym_area AS DOUBLE) AS sym_area
         FROM (VALUES
           (1, 12.0, 12.0), (2, 12.0, 24.0), (3, 16.0, 20.0),
           (4, 0.0, 12.0), (5, 4.0, 4.0), (6, 8.0, 22.0), (7, 4.0, 8.0))
           AS t(case_id, diff_area, sym_area)
         ORDER BY case_id""",
    // ST_Buffer re-derived: same bbox; an axis-aligned CCW rectangle's
    // vertex i sweeps its quarter arc from normal angle pi + i*pi/2
    // (the closed form of the engine's atan2 normals), 4 steps each
    "q_geo_buffer" ->
      """WITH base AS (
           SELECT CAST(c_nationkey AS BIGINT) AS nk,
                  CAST(c_custkey % 50 AS DOUBLE) AS x,
                  CAST((c_custkey * 7) % 31 AS DOUBLE) AS y
           FROM customer),
         bbox AS (
           SELECT nk, min(x) AS x0, max(x) AS x1,
                  min(y) AS y0, max(y) AS y1
           FROM base GROUP BY nk
           HAVING max(x) > min(x) AND max(y) > min(y)),
         pts AS (
           SELECT nk,
                  CAST(i.range * 5 + j.range AS BIGINT) AS pt_seq,
                  CASE i.range WHEN 0 THEN x0 WHEN 1 THEN x1
                               WHEN 2 THEN x1 ELSE x0 END AS cx,
                  CASE i.range WHEN 0 THEN y0 WHEN 1 THEN y0
                               WHEN 2 THEN y1 ELSE y1 END AS cy,
                  pi() + i.range * pi()/2 + j.range * pi()/8 AS ang
           FROM bbox, range(4) i, range(5) j)
         SELECT nk, pt_seq,
                round(cx + 2.5 * cos(ang), 6) + 0.0 AS lon,
                round(cy + 2.5 * sin(ang), 6) + 0.0 AS lat
         FROM pts ORDER BY nk, pt_seq""",
    "q_geo_hull" ->
      """WITH pts AS (
           SELECT DISTINCT CAST(c_nationkey AS BIGINT) AS nk,
                  CAST(c_custkey % 50 AS DOUBLE) AS x
           FROM customer),
         hp AS (SELECT nk, x, x*x AS y FROM pts),
         edges AS (
           SELECT nk, x, y,
             coalesce(lead(x) OVER w, first_value(x) OVER w) AS xn,
             coalesce(lead(y) OVER w, first_value(y) OVER w) AS yn
           FROM hp
           WINDOW w AS (PARTITION BY nk ORDER BY x
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
         SELECT nk AS n_nationkey, CAST(count(*) AS BIGINT) AS nv,
                sum(x*yn - xn*y)/2 AS area
         FROM edges GROUP BY nk ORDER BY n_nationkey""",
    // Sutherland–Hodgman clip vs the HAND-COMPUTED intersection
    // geometry (stated literally, the q_osm_snap_pois precedent): the
    // rect case is the axis overlap; the diamond |x-2|+|y-2|<=3 shaves
    // a 0.5-area corner triangle off each square corner -> octagon,
    // area 16 - 4*0.5 = 14, every vertex integer-exact
    "q_geo_clip_poly" ->
      """SELECT CAST(case_id AS BIGINT) AS case_id, CAST(nv AS BIGINT) AS nv,
                CAST(area AS DOUBLE) AS area, wkt
         FROM (VALUES
           (1, 4, 6.0,
            'POLYGON((1.0 1.0, 4.0 1.0, 4.0 3.0, 1.0 3.0, 1.0 1.0))'),
           (2, 8, 14.0,
            'POLYGON((1.0 4.0, 0.0 3.0, 0.0 1.0, 1.0 0.0, 3.0 0.0, 4.0 1.0, 4.0 3.0, 3.0 4.0, 1.0 4.0))'))
           AS v(case_id, nv, area, wkt)
         ORDER BY case_id""",
    // hand-computed intersection areas (see the query comment); n_tris
    // is n-2 for a simple ring with no collinear vertices
    "q_geo_concave_clip" ->
      """SELECT * FROM (VALUES
           (CAST(1 AS BIGINT), CAST(4.0 AS DOUBLE), CAST(4 AS BIGINT)),
           (2, 2.0, 6),
           (3, 0.0, 4),
           (4, 1.0, 6))
           AS v(case_id, area, n_tris)
         ORDER BY case_id""",
    // createTopology vertex assignment on the crossing fixture:
    // endpoints snap to 9 distinct 1e-4 cells, numbered 1..9 in
    // (sx, sy) order — hand-derived VALUES (see the query comment)
    "q_f23_topology" ->
      """SELECT * FROM (VALUES
           (CAST(1 AS BIGINT), CAST(1 AS BIGINT), CAST(4 AS BIGINT)),
           (2, 2, 3),
           (3, 8, 9),
           (4, 5, 7),
           (5, 5, 6))
           AS v(edge_id, source, target)
         ORDER BY edge_id""",
    // micro-fixture POI nodes per tag key (FIXTURES.md §2): amenity on
    // nodes 5 (0.02,-0.01) and 11 (0.3,0.0); highway on node 3; shop
    // on node 6 — multipoint members in (lon, lat) order
    "q_a8_multipoint" ->
      """SELECT * FROM (VALUES
           ('amenity', CAST(2 AS BIGINT), 'MULTIPOINT(0.02 -0.01, 0.3 0.0)'),
           ('highway', 1, 'MULTIPOINT(0.02 0.0)'),
           ('shop',    1, 'MULTIPOINT(0.02 0.01)'))
           AS v(k, n_pts, wkt)
         ORDER BY k""",
    "q_s3_s4_ctas" ->
      """SELECT r_regionkey, r_name,
                CAST(length(r_name) AS BIGINT) AS name_len
         FROM region ORDER BY r_regionkey""",
    // independent re-derivation of the blades-alt relation: the same
    // parametric segment-intersection math in SQL over the fixture's
    // single-segment ways (all-pairs is fine for an oracle over 5
    // ways), identical double arithmetic -> identical WKT strings
    "q_osm_blades_alt" ->
      """WITH ways(id, ax, ay, bx, by) AS (VALUES
           (1, 0.0, 0.0, 0.02, 0.02),
           (2, 0.0, 0.02, 0.02, 0.0),
           (3, 1.0, 1.0, 1.01, 1.0),
           (4, 0.5, 0.5, 0.52, 0.5),
           (5, 0.5, 0.5, 0.5, 0.52)),
         hits AS (
           SELECT a.id AS way_id,
                  a.ax + ((b.ax - a.ax) * (b.by - b.ay)
                        - (b.ay - a.ay) * (b.bx - b.ax))
                       / ((a.bx - a.ax) * (b.by - b.ay)
                        - (a.by - a.ay) * (b.bx - b.ax))
                       * (a.bx - a.ax) AS px,
                  a.ay + ((b.ax - a.ax) * (b.by - b.ay)
                        - (b.ay - a.ay) * (b.bx - b.ax))
                       / ((a.bx - a.ax) * (b.by - b.ay)
                        - (a.by - a.ay) * (b.bx - b.ax))
                       * (a.by - a.ay) AS py
           FROM ways a JOIN ways b ON a.id != b.id
           WHERE ((a.bx - a.ax) * (b.by - b.ay)
                - (a.by - a.ay) * (b.bx - b.ax)) != 0
             AND ((b.ax - a.ax) * (b.by - b.ay)
                - (b.ay - a.ay) * (b.bx - b.ax))
               / ((a.bx - a.ax) * (b.by - b.ay)
                - (a.by - a.ay) * (b.bx - b.ax)) BETWEEN 0 AND 1
             AND ((b.ax - a.ax) * (a.by - a.ay)
                - (b.ay - a.ay) * (a.bx - a.ax))
               / ((a.bx - a.ax) * (b.by - b.ay)
                - (a.by - a.ay) * (b.bx - b.ax)) BETWEEN 0 AND 1),
         dedup AS (SELECT DISTINCT way_id, px, py FROM hits)
         SELECT CAST(way_id AS BIGINT) AS way_id,
                CAST(count(*) AS BIGINT) AS n_pts,
                'MULTIPOINT(' || string_agg(
                  CAST(px AS VARCHAR) || ' ' || CAST(py AS VARCHAR),
                  ', ' ORDER BY px, py) || ')' AS wkt
         FROM dedup GROUP BY way_id ORDER BY way_id""",
    // post-change ways after the fixture .osc applies to the micro
    // fixture: 102 deleted; 120 created through the moved node 3
    // (so its x2/y2 are the NEW coordinate); 101 refreshed but
    // endpoint-stable; everything else untouched. Hand-derived from
    // FIXTURES.md §2 + the diff.
    // Multipolygon accounting, hand-derived: areas on the 0.001° grid
    // in milli-deg² — 301 = 4·4 − 1·1 = 15; 302 = 3·3/2 = 4.5;
    // 303 = 3·3 = 9; 304 = 1 + 1 = 2. Ring counts follow the fixture.
    "q_rel_multipolygon" ->
      """SELECT * FROM (VALUES
           (CAST(301 AS BIGINT), CAST(1 AS BIGINT), CAST(1 AS BIGINT), CAST(15.0 AS DOUBLE)),
           (CAST(302 AS BIGINT), CAST(1 AS BIGINT), CAST(0 AS BIGINT), CAST(4.5  AS DOUBLE)),
           (CAST(303 AS BIGINT), CAST(1 AS BIGINT), CAST(0 AS BIGINT), CAST(9.0  AS DOUBLE)),
           (CAST(304 AS BIGINT), CAST(2 AS BIGINT), CAST(0 AS BIGINT), CAST(2.0  AS DOUBLE)))
         AS t(relation_id, n_outer, n_inner, area_mdeg2)
         ORDER BY relation_id""",

    // Hand-checked point-in-multipolygon membership: the hole probe
    // (point 2) and the outside probe (point 6) are absent.
    "q_rel_mp_contains" ->
      """SELECT * FROM (VALUES
           (CAST(1 AS BIGINT), CAST(301 AS BIGINT)),
           (CAST(3 AS BIGINT), CAST(302 AS BIGINT)),
           (CAST(4 AS BIGINT), CAST(303 AS BIGINT)),
           (CAST(5 AS BIGINT), CAST(304 AS BIGINT)))
         AS t(point_id, relation_id) ORDER BY point_id, relation_id""",

    // Writer round-trip: what comes back must equal DuckDB's direct
    // view of the table that went in.
    "q_cc_wet_roundtrip" ->
      """SELECT doc_id,
                CAST(length(text) AS BIGINT) AS chars,
                CAST(octet_length(CAST(text AS BLOB)) AS BIGINT)
                  AS content_length
         FROM documents ORDER BY doc_id""",

    // WET census expectation, restated by hand from the fixture law:
    // doc i carries 3(i+1) tokens of "tok " (trimmed), so 12(i+1)-1
    // bytes; non-conversion records are absent.
    "q_cc_wet_ingest" ->
      """SELECT * FROM (VALUES
           ('https://corpus.example/doc/0', CAST(11 AS BIGINT), CAST(3 AS BIGINT)),
           ('https://corpus.example/doc/1', CAST(23 AS BIGINT), CAST(6 AS BIGINT)),
           ('https://corpus.example/doc/2', CAST(35 AS BIGINT), CAST(9 AS BIGINT)),
           ('https://corpus.example/doc/3', CAST(47 AS BIGINT), CAST(12 AS BIGINT)),
           ('https://corpus.example/doc/4', CAST(59 AS BIGINT), CAST(15 AS BIGINT)))
         AS t(uri, content_length, n_tokens) ORDER BY uri""",

    "q_osc_apply" ->
      """SELECT * FROM (VALUES
           (CAST(101 AS BIGINT), 'residential', CAST(4 AS BIGINT),
            CAST(0.0  AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.03 AS DOUBLE), CAST(0.0 AS DOUBLE)),
           (103, 'primary',     2, 0.10, 0.0, 0.12, 0.0),
           (104, 'motorway',    2, 0.20, 0.0, 0.22, 0.0),
           (105, 'footway',     2, 0.30, 0.0, 0.31, 0.0),
           (106, 'motorway',    2, 0.22, 0.0, 0.20, 0.0),
           (107, 'residential', 2, 0.30, 0.0, 0.31, 0.0),
           (108, CAST(NULL AS VARCHAR), 3, 0.00, 0.0, 0.02, 0.01),
           (109, 'tertiary',    2, 0.12, 0.0, 0.31, 0.0),
           (120, 'residential', 2, 0.03, 0.0, 0.02, 0.001)
         ) AS t(way_id, highway, n_nodes, x1, y1, x2, y2)
         ORDER BY way_id""",
    // the real-codec round-trips: every output is a pure function of
    // doc_id (fixture arithmetic), so DuckDB predicts what ImageIO must
    // produce — including the lossless pixel probe
    "q_mm_decode_png" ->
      """SELECT doc_id,
                CAST(doc_id % 31 + 1 AS INT) AS width,
                CAST(doc_id % 17 + 1 AS INT) AS height,
                CAST(1 AS INT) AS frames,
                'png' AS format,
                CAST((doc_id * 2654435761) % 16777216 AS INT) AS px0
         FROM documents ORDER BY doc_id""",
    "q_mm_decode_jpeg" ->
      """SELECT doc_id,
                CAST(doc_id % 31 + 1 AS INT) AS width,
                CAST(doc_id % 17 + 1 AS INT) AS height,
                CAST(1 AS INT) AS frames,
                'jpeg' AS format,
                true AS px_close
         FROM documents ORDER BY doc_id""",
    "q_mm_resize_png" ->
      """SELECT doc_id,
                CAST(8 AS INT) AS width,
                CAST(6 AS INT) AS height,
                'png' AS format,
                CAST((doc_id * 2654435761) % 16777216 AS INT) AS px0
         FROM documents ORDER BY doc_id""",
    "q_e_sessions" ->
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
         FROM s GROUP BY user_id ORDER BY user_id""",
    // gaps-and-islands mirror of session_window's interval-merge: a new
    // session starts exactly when ts - prev_ts >= the 30-min gap
    "q_e_session_builtin" ->
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
         FROM s GROUP BY user_id, sid ORDER BY user_id, sess_start""",
    "q_e_tumbling_window" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
                count(*) AS cnt, round(avg(value), 4) AS avg_value
         FROM events GROUP BY hour_start ORDER BY hour_start""",
    "q_e_hopping_window" ->
      """WITH w AS (
           SELECT value, unnest([
             time_bucket(INTERVAL 30 MINUTE, ts),
             time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE]) AS ws
           FROM events)
         SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS win_start,
                count(*) AS cnt,
                CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
         FROM w GROUP BY win_start ORDER BY win_start""",
    "q_e_json_props" ->
      """SELECT CAST(json_extract_string(props, '$.k') AS INT) AS k, count(*) AS cnt
         FROM events GROUP BY k ORDER BY k""",
    "q_osm_split_scale" -> oracleSplitScaleSql,
    // identical oracle: the array formulation must match the relational
    // chain row for row
    "q_osm_split_array" -> oracleSplitScaleSql,
    "q_osm_split_merge" -> (OsmOracle.graphPrefix +
      """
         SELECT CAST(edge_id AS BIGINT) AS edge_id,
                CAST(start_node AS BIGINT) AS start_node,
                CAST(end_node AS BIGINT) AS end_node, nodes_csv
         FROM merged ORDER BY edge_id, nodes_csv"""),
    "q_osm_directed" -> (OsmOracle.graphPrefix +
      """,
         attrs(way_id, highway, oneway) AS (VALUES
           (101,'residential',CAST(NULL AS VARCHAR)),(102,'tertiary',CAST(NULL AS VARCHAR)),
           (103,'primary','yes'),(104,'motorway','-1'),
           (106,'motorway',CAST(NULL AS VARCHAR)),(109,'tertiary',CAST(NULL AS VARCHAR))),
         merged2 AS (SELECT m.*, a.highway, a.oneway
                     FROM merged m JOIN attrs a ON m.edge_id = a.way_id),
         directed AS (
           SELECT edge_id, start_node, end_node, nodes_csv FROM merged2
            WHERE (oneway IS NULL OR oneway = 'no') AND highway != 'motorway'
           UNION ALL
           SELECT edge_id, end_node, start_node, nodes_csv_rev FROM merged2
            WHERE (oneway IS NULL OR oneway = 'no') AND highway != 'motorway'
           UNION ALL
           SELECT edge_id, start_node, end_node, nodes_csv FROM merged2
            WHERE oneway = 'yes' OR (highway = 'motorway' AND oneway != '-1')
           UNION ALL
           SELECT edge_id, end_node, start_node, nodes_csv_rev FROM merged2
            WHERE oneway = '-1')
         SELECT CAST(edge_id AS BIGINT) AS edge_id,
                CAST(start_node AS BIGINT) AS start_node,
                CAST(end_node AS BIGINT) AS end_node, nodes_csv
         FROM directed ORDER BY edge_id, start_node, end_node, nodes_csv"""),
    // triangles re-derived by ordered 3-way self-join (x<y<z, every
    // edge canonical a<b) — orientation-free, so the oracle is
    // independent of the engine's degree-ordering trick
    "q_osm_triangles" ->
      """WITH und AS (
           SELECT DISTINCT least(l_partkey % 200, l_suppkey % 200) AS a,
                  greatest(l_partkey % 200, l_suppkey % 200) AS b
           FROM lineitem
           WHERE l_partkey % 200 <> l_suppkey % 200),
         deg AS (
           SELECT node_id, count(*) AS degree FROM (
             SELECT a AS node_id FROM und
             UNION ALL SELECT b FROM und) GROUP BY node_id),
         tri AS (
           SELECT e1.a AS x, e1.b AS y, e2.b AS z
           FROM und e1
           JOIN und e2 ON e2.a = e1.b
           JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
         tcnt AS (
           SELECT node_id, count(*) AS triangles FROM (
             SELECT x AS node_id FROM tri
             UNION ALL SELECT y FROM tri
             UNION ALL SELECT z FROM tri) GROUP BY node_id)
         SELECT CAST(d.node_id AS BIGINT) AS node_id,
                CAST(d.degree AS BIGINT) AS degree,
                CAST(coalesce(t.triangles, 0) AS BIGINT) AS triangles,
                round(CASE WHEN d.degree >= 2
                  THEN 2.0 * coalesce(t.triangles, 0)
                       / (d.degree * (d.degree - 1))
                  ELSE 0.0 END, 6) AS clustering
         FROM deg d LEFT JOIN tcnt t ON d.node_id = t.node_id
         ORDER BY node_id""",
    "q_osm_lpa" -> lpaOracleSql(3),
    "q_osm_modularity" -> modularityOracleSql(3),
    "q_osm_refine" -> refineOracleSql(3, 1),
    "q_osm_louvain" -> refineOracleSql(3, 3),
    "q_osm_coarsen" -> coarsenOracleSql(3),
    "q_osm_modularity2" -> modularity2OracleSql(3),
    "q_osm_louvain2" -> louvainOracleSql(3, 3, 2),
    "q_osm_coreness" -> corenessOracleSql(8),
    // assortativity: symmetrized-pair Pearson — exact DECIMAL(38,0) sums,
    // exact min=max zero-variance gate, double only for the final ratio
    "q_osm_assortativity" ->
      """WITH und AS (
           SELECT DISTINCT least(l_partkey % 200, l_suppkey % 200) AS a,
                  greatest(l_partkey % 200, l_suppkey % 200) AS b
           FROM lineitem
           WHERE l_partkey % 200 <> l_suppkey % 200),
         asym AS (SELECT a, b FROM und UNION ALL SELECT b, a FROM und),
         deg AS (SELECT a AS node_id, count(*) AS degree
                 FROM asym GROUP BY a),
         p AS (
           SELECT da.degree AS x, db.degree AS y
           FROM asym s
           JOIN deg da ON s.a = da.node_id
           JOIN deg db ON s.b = db.node_id),
         m AS (SELECT count(*) AS n,
                      sum(CAST(x AS DECIMAL(19,0))) AS sx,
                      sum(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0)))
                        AS sxx,
                      sum(CAST(x AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))
                        AS sxy,
                      min(x) AS dmin, max(x) AS dmax FROM p)
         SELECT CAST(n AS BIGINT) AS n_pairs,
                round(CASE WHEN dmin = dmax
                      THEN 0.0
                      ELSE (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                           / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                      END, 6)
                  AS assortativity
         FROM m""",
    // transitivity from the same orientation-free triangle enumeration
    "q_osm_transitivity" ->
      """WITH und AS (
           SELECT DISTINCT least(l_partkey % 200, l_suppkey % 200) AS a,
                  greatest(l_partkey % 200, l_suppkey % 200) AS b
           FROM lineitem
           WHERE l_partkey % 200 <> l_suppkey % 200),
         deg AS (
           SELECT node_id, count(*) AS degree FROM (
             SELECT a AS node_id FROM und
             UNION ALL SELECT b FROM und) GROUP BY node_id),
         tri AS (
           SELECT count(*) AS t FROM und e1
           JOIN und e2 ON e2.a = e1.b
           JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
         w AS (SELECT sum(degree * (degree - 1)) AS w2 FROM deg)
         SELECT CAST(tri.t AS BIGINT) AS n_triangles,
                CAST(w.w2 AS BIGINT) AS wedges_x2,
                round(CASE WHEN w.w2 > 0 THEN 6.0 * tri.t / w.w2
                      ELSE 0.0 END, 6) AS transitivity
         FROM tri, w""",
    "q_osm_components" -> (OsmOracle.graphPrefix.replaceFirst("WITH",
      "WITH RECURSIVE") +
      """,
         sym AS (
           SELECT start_node AS a, end_node AS b FROM merged
           UNION
           SELECT end_node, start_node FROM merged),
         reach(node_id, label) AS (
           SELECT a, a FROM (SELECT DISTINCT a FROM sym)
           UNION
           SELECT s.a, r.label FROM sym s JOIN reach r ON s.b = r.node_id)
         SELECT CAST(node_id AS BIGINT) AS node_id,
                CAST(min(label) AS BIGINT) AS component
         FROM reach GROUP BY node_id ORDER BY node_id"""),
    // chain components have the closed form component(k) = its block min
    "q_osm_components_scale" ->
      """WITH nodes AS (
           SELECT CAST(p_partkey AS BIGINT) AS node_id FROM part
           WHERE p_partkey % 64 <> 0
           UNION
           SELECT CAST(p_partkey + 1 AS BIGINT) FROM part
           WHERE p_partkey % 64 <> 0)
         SELECT node_id,
                CAST(node_id - ((node_id - 1) % 64) AS BIGINT) AS component
         FROM nodes ORDER BY node_id""",
    "q_osm_directed_intent" -> (OsmOracle.graphPrefix +
      """,
         attrs(way_id, highway, oneway) AS (VALUES
           (101,'residential',CAST(NULL AS VARCHAR)),(102,'tertiary',CAST(NULL AS VARCHAR)),
           (103,'primary','yes'),(104,'motorway','-1'),
           (106,'motorway',CAST(NULL AS VARCHAR)),(109,'tertiary',CAST(NULL AS VARCHAR))),
         merged2 AS (SELECT m.*, a.highway, a.oneway
                     FROM merged m JOIN attrs a ON m.edge_id = a.way_id),
         directed AS (
           SELECT edge_id, start_node, end_node, nodes_csv FROM merged2
            WHERE (oneway IS NULL OR oneway = 'no') AND highway != 'motorway'
           UNION ALL
           SELECT edge_id, end_node, start_node, nodes_csv_rev FROM merged2
            WHERE (oneway IS NULL OR oneway = 'no') AND highway != 'motorway'
           UNION ALL
           SELECT edge_id, start_node, end_node, nodes_csv FROM merged2
            WHERE oneway = 'yes'
               OR (highway = 'motorway' AND (oneway IS NULL OR oneway != '-1'))
           UNION ALL
           SELECT edge_id, end_node, start_node, nodes_csv_rev FROM merged2
            WHERE oneway = '-1')
         SELECT CAST(edge_id AS BIGINT) AS edge_id,
                CAST(start_node AS BIGINT) AS start_node,
                CAST(end_node AS BIGINT) AS end_node, nodes_csv
         FROM directed ORDER BY edge_id, start_node, end_node, nodes_csv"""),
    "q_osm_impute" ->
      """WITH ways(edge_id, highway, speed_limit) AS (VALUES
           (101,'residential',50),(102,'tertiary',CAST(NULL AS INT)),
           (103,'primary',80),(104,'motorway',CAST(NULL AS INT)),
           (106,'motorway',CAST(NULL AS INT)),(109,'tertiary',60)),
         med AS (SELECT highway, CAST(round(median(speed_limit)) AS INT) AS m
                 FROM ways WHERE speed_limit IS NOT NULL GROUP BY highway)
         SELECT CAST(w.edge_id AS BIGINT) AS edge_id, w.highway,
                coalesce(w.speed_limit, m.m) AS speed_limit
         FROM ways w LEFT JOIN med m ON w.highway = m.highway
         ORDER BY edge_id""",
    "q_osm_explore" ->
      """SELECT highway, count(*) AS count FROM (VALUES
           ('residential'),('tertiary'),('primary'),('motorway'),
           ('footway'),('motorway'),('residential'),('tertiary')) t(highway)
         GROUP BY highway ORDER BY count DESC, highway""",
    "q_osm_complete_flags" ->
      """WITH w(edge_id, highway, access, service, bicycle_t, cycleway, foot,
                footway, motor_vehicle, bus) AS (VALUES
           (101, 'residential', CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)),
           (102, 'tertiary', NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL),
           (103, 'primary', NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL),
           (104, 'motorway', NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL),
           (105, 'footway', NULL, NULL, NULL, NULL, NULL, 'sidewalk', NULL, NULL),
           (106, 'motorway', NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL),
           (107, 'residential', 'private', NULL, NULL, NULL, NULL, NULL, NULL, NULL),
           (109, 'tertiary', NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL)),
         base AS (SELECT *, CASE
             WHEN access IN ('no','private','permit','customers','forestry','agricultural','military','emergency','bus','delivery','restricted') THEN 0
             WHEN service IN ('drive-through','emergency_access','bus') THEN 0
             WHEN highway IN ('disused','dismantled','razed','rest_area','corridor','construction','abandoned','raceway','proposed','planned','platform') THEN 0
             ELSE NULL END AS b FROM w),
         carc AS (SELECT *, CASE
             WHEN highway IN ('steps','footway','pedestrian','cycleway','bridleway','elevator','sidewalk') THEN 0
             WHEN bicycle_t = 'designated' OR cycleway = 'designated' OR foot = 'designated'
                  OR footway IN ('sidewalk','crossing','yes')
                  OR motor_vehicle IN ('no','private')
                  OR service IN ('parking_aisle','parking') OR bus = 'designated' THEN 0
             WHEN b IS NULL AND highway IN ('motorway','primary','tertiary','secondary','primary_link','tertiary_link','secondary_link','trunk','trunk_link','motorway_link','motorway_junction') THEN 1
             ELSE b END AS car FROM base),
         p1 AS (SELECT *, CASE WHEN highway IN ('motorway','trunk','trunk_link','motorway_link','motorway_junction') THEN 0
                               WHEN bus = 'designated' THEN 0 ELSE b END AS pp FROM carc),
         p2 AS (SELECT *, CASE WHEN pp IS NULL AND highway IN ('steps','footway','pedestrian','bridleway','elevator','sidewalk','living_street','path') THEN 1 ELSE pp END AS pq FROM p1),
         p3 AS (SELECT *, CASE WHEN (pq IS NULL AND foot = 'designated') OR footway IN ('sidewalk','crossing','yes') THEN 1 ELSE pq END AS pedestrian FROM p2),
         b1 AS (SELECT *, CASE WHEN highway IN ('motorway','trunk','trunk_link','motorway_link','motorway_junction') THEN 0
                               WHEN bus = 'designated' THEN 0 ELSE b END AS bb FROM p3),
         b2 AS (SELECT *, CASE WHEN bb IS NULL AND highway IN ('cycleway','living_street') THEN 1 ELSE bb END AS bq FROM b1),
         b3 AS (SELECT *, CASE WHEN (bq IS NULL AND bicycle_t = 'designated') OR cycleway = 'designated' THEN 1 ELSE bq END AS bicycle FROM b2)
         SELECT CAST(edge_id AS BIGINT) AS edge_id, highway,
                CAST(car AS SMALLINT) AS car,
                CAST(pedestrian AS SMALLINT) AS pedestrian,
                CAST(bicycle AS SMALLINT) AS bicycle
         FROM b3 ORDER BY edge_id""",
    "q_osm_complete_intent" ->
      """WITH w(edge_id, highway, access, service, bicycle_t, cycleway, foot,
                footway, motor_vehicle, bus) AS (VALUES
           (101, 'residential', CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)),
           (102, 'tertiary', NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL),
           (103, 'primary', NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL),
           (104, 'motorway', NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL),
           (105, 'footway', NULL, NULL, NULL, NULL, NULL, 'sidewalk', NULL, NULL),
           (106, 'motorway', NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL),
           (107, 'residential', 'private', NULL, NULL, NULL, NULL, NULL, NULL, NULL),
           (109, 'tertiary', NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL)),
         base AS (SELECT *, CASE
             WHEN access IN ('no','private','permit','customers','forestry','agricultural','military','emergency','bus','delivery','restricted') THEN 0
             WHEN service IN ('drive-through','emergency_access','bus') THEN 0
             WHEN highway IN ('disused','dismantled','razed','rest_area','corridor','construction','abandoned','raceway','proposed','planned','platform') THEN 0
             ELSE NULL END AS b FROM w),
         carc AS (SELECT *, CASE
             WHEN highway IN ('steps','footway','pedestrian','cycleway','bridleway','elevator','sidewalk') THEN 0
             WHEN bicycle_t = 'designated' OR cycleway = 'designated' OR foot = 'designated'
                  OR footway IN ('sidewalk','crossing','yes')
                  OR motor_vehicle IN ('no','private')
                  OR service IN ('parking_aisle','parking') OR bus = 'designated' THEN 0
             WHEN b IS NULL AND highway IN ('motorway','primary','tertiary','secondary','primary_link','tertiary_link','secondary_link','trunk','trunk_link','motorway_link','motorway_junction') THEN 1
             ELSE b END AS car FROM base),
         p1 AS (SELECT *, CASE WHEN highway IN ('motorway','trunk','trunk_link','motorway_link','motorway_junction') THEN 0
                               WHEN bus = 'designated' THEN 0 ELSE b END AS pp FROM carc),
         p2 AS (SELECT *, CASE WHEN pp IS NULL AND highway IN ('steps','footway','pedestrian','bridleway','elevator','sidewalk','living_street','path') THEN 1 ELSE pp END AS pq FROM p1),
         p3 AS (SELECT *, CASE WHEN pq IS NULL AND (foot = 'designated' OR footway IN ('sidewalk','crossing','yes')) THEN 1 ELSE pq END AS pedestrian FROM p2),
         b1 AS (SELECT *, CASE WHEN highway IN ('motorway','trunk','trunk_link','motorway_link','motorway_junction') THEN 0
                               WHEN bus = 'designated' THEN 0 ELSE b END AS bb FROM p3),
         b2 AS (SELECT *, CASE WHEN bb IS NULL AND highway IN ('cycleway','living_street') THEN 1 ELSE bb END AS bq FROM b1),
         b3 AS (SELECT *, CASE WHEN bq IS NULL AND (bicycle_t = 'designated' OR cycleway = 'designated') THEN 1 ELSE bq END AS bicycle FROM b2)
         SELECT CAST(edge_id AS BIGINT) AS edge_id, highway,
                CAST(car AS SMALLINT) AS car,
                CAST(pedestrian AS SMALLINT) AS pedestrian,
                CAST(bicycle AS SMALLINT) AS bicycle
         FROM b3 ORDER BY edge_id""",
    "q_osm_pois_nodes" ->
      """WITH tags(node_id, "key", "value") AS (VALUES
           (3,'highway','crossing'),
           (5,'amenity','cafe'),(5,'name','Cafe Five'),
           (6,'shop','bakery'),(6,'name','Bakery Six'),
           (11,'amenity','bench')),
         poi AS (SELECT node_id, "key", "value" AS "values" FROM tags
                 WHERE "key" IN ('leisure','sport','shop','office','amenity',
                                 'craft','tourism','emergency','historic'))
         SELECT CAST(p.node_id AS BIGINT) AS node_id, p."key", p."values",
                n."value" AS name
         FROM poi p LEFT JOIN tags n ON n.node_id = p.node_id AND n."key" = 'name'
         ORDER BY node_id, p."key"""",
    // independent SSSP: the oracle rebuilds the split/merged graph
    // (graphPrefix), computes per-edge geodesic lengths from node
    // coords (same haversine, rounded to integer centimeters — path
    // sums exact), expands the strict directed edge set, and runs a
    // hop-bounded recursive CTE with min-per-node — a completely
    // different algorithm arriving at the same distances
    // restricted route WITH path: same expansion, recursion carries the
    // edge path and cumulative costs; the unique optimum's rows unrolled
    "q_osm_route_restricted_path" ->
      """WITH RECURSIVE
         edges(edge_id, src, dst, w, way) AS (VALUES
           (1,1,2,1,201),(2,2,4,1,202),(3,1,3,3,203),
           (4,3,4,2,204),(5,2,3,1,205),(6,3,5,1,206)),
         rels(relation_id, rtype, restriction) AS (VALUES
           (301,'restriction','no_straight_on'),
           (302,'restriction','only_right_turn'),
           (303,'route',CAST(NULL AS VARCHAR)),
           (304,'restriction','no_left_turn')),
         mem(relation_id, member_id, mtype, role) AS (VALUES
           (301,201,'W','from'),(301,2,'N','via'),(301,202,'W','to'),
           (302,205,'W','from'),(302,3,'N','via'),(302,204,'W','to'),
           (303,201,'W','from'),(303,202,'W','to'),
           (304,203,'W','from'),(304,204,'W','to')),
         restr AS (
           SELECT f.member_id AS from_way, v.member_id AS via_node,
                  t.member_id AS to_way,
                  CASE WHEN r.restriction LIKE 'only%' THEN 'only'
                       ELSE 'no' END AS kind
           FROM rels r
           JOIN mem f ON f.relation_id = r.relation_id
                     AND f.role = 'from' AND f.mtype = 'W'
           JOIN mem v ON v.relation_id = r.relation_id
                     AND v.role = 'via' AND v.mtype = 'N'
           JOIN mem t ON t.relation_id = r.relation_id
                     AND t.role = 'to' AND t.mtype = 'W'
           WHERE r.rtype = 'restriction'),
         turns AS (
           SELECT e1.edge_id AS a, e2.edge_id AS b, e2.w,
                  e1.way AS fw, e1.dst AS via, e2.way AS tw
           FROM edges e1 JOIN edges e2 ON e1.dst = e2.src),
         bans AS (
           SELECT from_way AS fw, via_node AS via, to_way AS tw
           FROM restr WHERE kind = 'no'
           UNION ALL
           SELECT t.fw, t.via, t.tw
           FROM turns t JOIN restr r
             ON r.kind = 'only' AND t.fw = r.from_way
            AND t.via = r.via_node AND t.tw <> r.to_way),
         lg AS (
           SELECT t.a, t.b, t.w FROM turns t
           LEFT JOIN bans bn ON bn.fw = t.fw AND bn.via = t.via
                            AND bn.tw = t.tw
           WHERE bn.fw IS NULL),
         r(edge, dist, hops, epath, cpath) AS (
           SELECT e.edge_id, e.w, 1, [e.edge_id], [e.w]
           FROM edges e WHERE e.src = 1
           UNION ALL
           SELECT l.b, r.dist + l.w, r.hops + 1,
                  list_append(r.epath, l.b),
                  list_append(r.cpath, r.dist + l.w)
           FROM r JOIN lg l ON l.a = r.edge WHERE r.hops < 6),
         best AS (
           SELECT r.epath, r.cpath
           FROM r JOIN edges te ON te.edge_id = r.edge
           WHERE te.dst = 4 ORDER BY r.dist, r.epath LIMIT 1),
         hop_src AS (
           SELECT unnest(epath) AS eid,
                  generate_subscripts(epath, 1) AS i, cpath
           FROM best),
         hops AS (
           SELECT CAST(u.i AS BIGINT) AS seq,
                  CAST(ed.dst AS BIGINT) AS node_id,
                  CAST(u.eid AS BIGINT) AS edge_id,
                  CAST(u.cpath[u.i] AS BIGINT) AS agg_cost
           FROM hop_src u JOIN edges ed ON ed.edge_id = u.eid)
         SELECT * FROM (
           SELECT CAST(0 AS BIGINT) AS seq, CAST(1 AS BIGINT) AS node_id,
                  CAST(NULL AS BIGINT) AS edge_id,
                  CAST(0 AS BIGINT) AS agg_cost
           UNION ALL SELECT seq, node_id, edge_id, agg_cost FROM hops)
         ORDER BY seq""",
    // via-way restrictions re-derived WITHOUT shadow states: enumerate
    // hop-bounded paths carrying the edge sequence as '/e1/e2/../',
    // drop any path containing a banned CONTIGUOUS edge triple
    // (resolved from the via-way relations), node-via bans stay
    // pairwise; best legal path per source unrolled to pgRouting rows
    "q_osm_route_viaway" ->
      """WITH RECURSIVE
         edges(edge_id, src, dst, w, way) AS (VALUES
           (1,1,2,1,101),(2,2,3,1,102),(3,3,4,1,103),(4,2,5,5,104),
           (5,5,4,5,105),(6,3,6,1,106),(7,6,4,4,107),(8,0,2,1,108)),
         rels(relation_id, rtype, restriction) AS (VALUES
           (401,'restriction','no_straight_on'),
           (402,'restriction','only_right_turn'),
           (403,'restriction','no_u_turn'),
           (404,'restriction','no_left_turn')),
         mem(relation_id, member_id, mtype, role) AS (VALUES
           (401,101,'W','from'),(401,102,'W','via'),(401,103,'W','to'),
           (402,101,'W','from'),(402,102,'W','via'),(402,106,'W','to'),
           (403,104,'W','from'),(403,105,'W','via'),(403,102,'W','via'),
           (403,103,'W','to'),
           (404,108,'W','from'),(404,2,'N','via'),(404,102,'W','via'),
           (404,104,'W','to')),
         viaN AS (
           SELECT relation_id, member_id AS via_node FROM mem
           WHERE role = 'via' AND mtype = 'N'),
         viaW AS (
           SELECT relation_id, min(member_id) AS via_way FROM mem
           WHERE role = 'via' AND mtype = 'W'
           GROUP BY relation_id HAVING count(*) = 1),
         restrx AS (
           SELECT f.member_id AS from_way, v.via_node,
                  CAST(NULL AS BIGINT) AS via_way, t.member_id AS to_way,
                  CASE WHEN r.restriction LIKE 'only%' THEN 'only'
                       ELSE 'no' END AS kind
           FROM rels r
           JOIN mem f ON f.relation_id = r.relation_id
                     AND f.role = 'from' AND f.mtype = 'W'
           JOIN viaN v ON v.relation_id = r.relation_id
           JOIN mem t ON t.relation_id = r.relation_id
                     AND t.role = 'to' AND t.mtype = 'W'
           WHERE r.rtype = 'restriction'
           UNION ALL
           SELECT f.member_id, CAST(NULL AS BIGINT), v.via_way,
                  t.member_id,
                  CASE WHEN r.restriction LIKE 'only%' THEN 'only'
                       ELSE 'no' END
           FROM rels r
           JOIN mem f ON f.relation_id = r.relation_id
                     AND f.role = 'from' AND f.mtype = 'W'
           JOIN viaW v ON v.relation_id = r.relation_id
           JOIN mem t ON t.relation_id = r.relation_id
                     AND t.role = 'to' AND t.mtype = 'W'
           WHERE r.rtype = 'restriction' AND NOT EXISTS (
             SELECT 1 FROM viaN vn
             WHERE vn.relation_id = r.relation_id)),
         turns AS (
           SELECT e1.edge_id AS a, e2.edge_id AS b, e2.w,
                  e1.way AS fw, e1.dst AS via, e2.way AS tw
           FROM edges e1 JOIN edges e2 ON e1.dst = e2.src),
         nbans AS (
           SELECT from_way AS fw, via_node AS via, to_way AS tw
           FROM restrx WHERE via_node IS NOT NULL AND kind = 'no'
           UNION ALL
           SELECT t.fw, t.via, t.tw
           FROM turns t JOIN restrx r
             ON r.via_node IS NOT NULL AND r.kind = 'only'
            AND t.fw = r.from_way AND t.via = r.via_node
            AND t.tw <> r.to_way),
         wtrip AS (
           SELECT ef.edge_id AS f, ev.edge_id AS v, et.edge_id AS t,
                  r.kind
           FROM restrx r
           JOIN edges ef ON ef.way = r.from_way
           JOIN edges ev ON ev.way = r.via_way AND ev.src = ef.dst
           JOIN edges et ON et.way = r.to_way AND et.src = ev.dst
           WHERE r.via_way IS NOT NULL),
         tbans AS (
           SELECT f, v, t FROM wtrip WHERE kind = 'no'
           UNION ALL
           SELECT w.f, w.v, tr.b
           FROM (SELECT DISTINCT f, v FROM wtrip WHERE kind = 'only') w
           JOIN turns tr ON tr.a = w.v
           WHERE NOT EXISTS (
             SELECT 1 FROM wtrip o
             WHERE o.kind = 'only' AND o.f = w.f AND o.v = w.v
               AND o.t = tr.b)),
         ebans AS (
           -- only_* FIRST leg: off F every continuation but the via
           -- edge dies (edge-space pair ban, mirrors the engine)
           SELECT w.f, t.b AS x
           FROM (SELECT DISTINCT f FROM wtrip WHERE kind = 'only') w
           JOIN turns t ON t.a = w.f
           WHERE NOT EXISTS (
             SELECT 1 FROM wtrip o
             WHERE o.kind = 'only' AND o.f = w.f AND o.v = t.b)),
         lg AS (
           SELECT t.a, t.b, t.w FROM turns t
           LEFT JOIN nbans bn ON bn.fw = t.fw AND bn.via = t.via
                             AND bn.tw = t.tw
           WHERE bn.fw IS NULL AND NOT EXISTS (
             SELECT 1 FROM ebans e WHERE e.f = t.a AND e.x = t.b)),
         r(s0, edge, dist, hops, epath, cpath, ps) AS (
           SELECT v.s0, e.edge_id, e.w, 1, [e.edge_id], [e.w],
                  '/' || e.edge_id || '/'
           FROM (VALUES (0), (1)) v(s0) JOIN edges e ON e.src = v.s0
           UNION ALL
           SELECT r.s0, l.b, r.dist + l.w, r.hops + 1,
                  list_append(r.epath, l.b),
                  list_append(r.cpath, r.dist + l.w),
                  r.ps || l.b || '/'
           FROM r JOIN lg l ON l.a = r.edge WHERE r.hops < 8),
         legal AS (
           SELECT * FROM r WHERE NOT EXISTS (
             SELECT 1 FROM tbans b
             WHERE r.ps LIKE '%/' || b.f || '/' || b.v || '/'
                             || b.t || '/%')),
         best AS (
           SELECT s0, epath, cpath,
                  row_number() OVER (PARTITION BY s0
                    ORDER BY dist, epath) AS rn
           FROM legal l JOIN edges te ON te.edge_id = l.edge
           WHERE te.dst = 4),
         b1 AS (SELECT s0, epath, cpath FROM best WHERE rn = 1),
         hop_src AS (
           SELECT s0, unnest(epath) AS eid,
                  generate_subscripts(epath, 1) AS i, cpath
           FROM b1),
         hops AS (
           SELECT CASE WHEN u.s0 = 0 THEN 'r0' ELSE 'r1' END AS route,
                  CAST(u.i AS BIGINT) AS seq,
                  CAST(ed.dst AS BIGINT) AS node_id,
                  CAST(u.eid AS BIGINT) AS edge_id,
                  CAST(u.cpath[u.i] AS BIGINT) AS agg_cost
           FROM hop_src u JOIN edges ed ON ed.edge_id = u.eid)
         SELECT * FROM (
           SELECT CASE WHEN v.s0 = 0 THEN 'r0' ELSE 'r1' END AS route,
                  CAST(0 AS BIGINT) AS seq, CAST(v.s0 AS BIGINT) AS node_id,
                  CAST(NULL AS BIGINT) AS edge_id,
                  CAST(0 AS BIGINT) AS agg_cost
           FROM (VALUES (0), (1)) v(s0)
           UNION ALL SELECT route, seq, node_id, edge_id, agg_cost
           FROM hops)
         ORDER BY route, seq""",
    // turn-restricted routing re-derived: the same relation->restriction
    // extraction (from/via/to member roles, only_* -> mandatory), the
    // same line-graph expansion with only_* expanded against actual
    // turns, recursive relaxation over edge states
    "q_osm_route_restricted" ->
      """WITH RECURSIVE
         edges(edge_id, src, dst, w, way) AS (VALUES
           (1,1,2,1,201),(2,2,4,1,202),(3,1,3,3,203),
           (4,3,4,2,204),(5,2,3,1,205),(6,3,5,1,206)),
         rels(relation_id, rtype, restriction) AS (VALUES
           (301,'restriction','no_straight_on'),
           (302,'restriction','only_right_turn'),
           (303,'route',CAST(NULL AS VARCHAR)),
           (304,'restriction','no_left_turn')),
         mem(relation_id, member_id, mtype, role) AS (VALUES
           (301,201,'W','from'),(301,2,'N','via'),(301,202,'W','to'),
           (302,205,'W','from'),(302,3,'N','via'),(302,204,'W','to'),
           (303,201,'W','from'),(303,202,'W','to'),
           (304,203,'W','from'),(304,204,'W','to')),
         restr AS (
           SELECT f.member_id AS from_way, v.member_id AS via_node,
                  t.member_id AS to_way,
                  CASE WHEN r.restriction LIKE 'only%' THEN 'only'
                       ELSE 'no' END AS kind
           FROM rels r
           JOIN mem f ON f.relation_id = r.relation_id
                     AND f.role = 'from' AND f.mtype = 'W'
           JOIN mem v ON v.relation_id = r.relation_id
                     AND v.role = 'via' AND v.mtype = 'N'
           JOIN mem t ON t.relation_id = r.relation_id
                     AND t.role = 'to' AND t.mtype = 'W'
           WHERE r.rtype = 'restriction'),
         turns AS (
           SELECT e1.edge_id AS a, e2.edge_id AS b, e2.w,
                  e1.way AS fw, e1.dst AS via, e2.way AS tw
           FROM edges e1 JOIN edges e2 ON e1.dst = e2.src),
         bans AS (
           SELECT from_way AS fw, via_node AS via, to_way AS tw
           FROM restr WHERE kind = 'no'
           UNION ALL
           SELECT t.fw, t.via, t.tw
           FROM turns t JOIN restr r
             ON r.kind = 'only' AND t.fw = r.from_way
            AND t.via = r.via_node AND t.tw <> r.to_way),
         lg AS (
           SELECT t.a, t.b, t.w FROM turns t
           LEFT JOIN bans bn ON bn.fw = t.fw AND bn.via = t.via
                            AND bn.tw = t.tw
           WHERE bn.fw IS NULL),
         r(edge, dist, hops) AS (
           SELECT e.edge_id, e.w, 1 FROM edges e WHERE e.src = 1
           UNION ALL
           SELECT l.b, r.dist + l.w, r.hops + 1
           FROM r JOIN lg l ON l.a = r.edge WHERE r.hops < 8),
         nd AS (
           SELECT e.dst AS node_id, min(r.dist) AS dist
           FROM r JOIN edges e ON e.edge_id = r.edge GROUP BY e.dst)
         SELECT CAST(node_id AS BIGINT) AS node_id,
                CAST(dist AS BIGINT) AS dist
         FROM (SELECT 1 AS node_id, 0 AS dist
               UNION ALL
               SELECT node_id, dist FROM nd WHERE node_id <> 1)
         ORDER BY node_id""",
    "q_osm_route" -> (OsmOracle.graphPrefix.replaceFirst("WITH",
      "WITH RECURSIVE") +
      oracleRouteCore +
      """
         SELECT CAST(node AS BIGINT) AS node_id,
                CAST(min(dist) AS BIGINT) AS dist_cm
         FROM r GROUP BY node ORDER BY node_id"""),
    // nearest-amenity distances: the same rebuilt graph, recursion
    // seeded at BOTH POI vertices — min per node is then the distance
    // to the nearest seed
    "q_osm_accessibility" -> (OsmOracle.graphPrefix.replaceFirst("WITH",
      "WITH RECURSIVE") +
      """,
         coords(node_id, lon, lat) AS (VALUES
           (1,0.00,0.0),(2,0.01,0.0),(3,0.02,0.0),(4,0.03,0.0),
           (5,0.02,-0.01),(6,0.02,0.01),(7,0.10,0.0),(8,0.12,0.0),
           (9,0.20,0.0),(10,0.22,0.0),(12,0.31,0.0)),
         segsrc AS (
           SELECT way_id AS edge_id, group_id, sequence_id, node_id FROM ntm
           UNION ALL
           SELECT way_id, -1, sequence_id, node_id FROM way_nodes
           WHERE way_id NOT IN (SELECT DISTINCT way_id FROM ntm)),
         segpts AS (
           SELECT s.edge_id, s.group_id, s.sequence_id,
                  CAST(c.lon AS DOUBLE) AS lon, CAST(c.lat AS DOUBLE) AS lat,
                  lead(CAST(c.lon AS DOUBLE)) OVER w AS lon2,
                  lead(CAST(c.lat AS DOUBLE)) OVER w AS lat2
           FROM segsrc s JOIN coords c ON c.node_id = s.node_id
           WINDOW w AS (PARTITION BY s.edge_id, s.group_id ORDER BY s.sequence_id)),
         elen AS (
           SELECT edge_id, group_id,
                  CAST(round(sum(2 * 6371008.8 * asin(sqrt(
                    sin(radians(lat2 - lat)/2)^2 +
                    cos(radians(lat)) * cos(radians(lat2)) *
                      sin(radians(lon2 - lon)/2)^2))) * 100) AS BIGINT) AS w
           FROM segpts WHERE lon2 IS NOT NULL GROUP BY edge_id, group_id),
         attrs(way_id, highway, oneway) AS (VALUES
           (101,'residential',CAST(NULL AS VARCHAR)),(102,'tertiary',CAST(NULL AS VARCHAR)),
           (103,'primary','yes'),(104,'motorway','-1'),
           (106,'motorway',CAST(NULL AS VARCHAR)),(109,'tertiary',CAST(NULL AS VARCHAR))),
         m4 AS (SELECT m.start_node, m.end_node, l.w, a.highway, a.oneway
                FROM merged m
                JOIN elen l ON m.edge_id = l.edge_id AND m.group_id = l.group_id
                JOIN attrs a ON m.edge_id = a.way_id),
         dedges AS (
           SELECT start_node AS src, end_node AS dst, w FROM m4
            WHERE (oneway IS NULL OR oneway = 'no') AND highway != 'motorway'
           UNION ALL
           SELECT end_node, start_node, w FROM m4
            WHERE (oneway IS NULL OR oneway = 'no') AND highway != 'motorway'
           UNION ALL
           SELECT start_node, end_node, w FROM m4
            WHERE oneway = 'yes' OR (highway = 'motorway' AND oneway != '-1')
           UNION ALL
           SELECT end_node, start_node, w FROM m4 WHERE oneway = '-1'),
         r(node, dist, hops) AS (
           SELECT seed, CAST(0 AS BIGINT), 0
           FROM (VALUES (5), (6)) s(seed)
           UNION ALL
           SELECT e.dst, r.dist + e.w, r.hops + 1
           FROM r JOIN dedges e ON e.src = r.node WHERE r.hops < 8)
         SELECT CAST(node AS BIGINT) AS node_id,
                CAST(min(dist) AS BIGINT) AS dist_cm
         FROM r GROUP BY node ORDER BY node_id"""),
    // closeness pieces: the same chain, recursion re-seeded at every
    // sampled source (seed column), per-(seed,node) min, then integer
    // sum + count per node — the unused single-seed `r` CTE from the
    // shared core is simply not referenced
    "q_osm_closeness" -> (OsmOracle.graphPrefix.replaceFirst("WITH",
      "WITH RECURSIVE") + oracleRouteCore +
      """,
         rc(seed, node, dist, hops) AS (
           SELECT seed, seed, CAST(0 AS BIGINT), 0
           FROM (VALUES (1), (3), (4), (5), (6)) s(seed)
           UNION ALL
           SELECT rc.seed, e.dst, rc.dist + e.w, rc.hops + 1
           FROM rc JOIN dedges e ON e.src = rc.node WHERE rc.hops < 8),
         mc AS (SELECT seed, node, min(dist) AS d FROM rc GROUP BY seed, node)
         SELECT CAST(node AS BIGINT) AS node_id,
                CAST(sum(d) AS BIGINT) AS sum_cm,
                count(*) AS n_from
         FROM mc GROUP BY node ORDER BY node_id"""),
    // harmonic: same per-seed BFS relation, the fold is sum(1/d) over
    // d > 0 with the same pre-round meter scaling as the engine
    "q_osm_harmonic" -> (OsmOracle.graphPrefix.replaceFirst("WITH",
      "WITH RECURSIVE") + oracleRouteCore +
      """,
         rc(seed, node, dist, hops) AS (
           SELECT seed, seed, CAST(0 AS BIGINT), 0
           FROM (VALUES (1), (3), (4), (5), (6)) s(seed)
           UNION ALL
           SELECT rc.seed, e.dst, rc.dist + e.w, rc.hops + 1
           FROM rc JOIN dedges e ON e.src = rc.node WHERE rc.hops < 8),
         mc AS (SELECT seed, node, min(dist) AS d FROM rc GROUP BY seed, node)
         SELECT CAST(node AS BIGINT) AS node_id,
                count(*) AS n_from,
                round(100.0 * sum(1.0 / d), 6) AS harmonic_per_m
         FROM mc WHERE d > 0 GROUP BY node ORDER BY node_id"""),
    // eccentricity: per SEED max distance + reach count off the same
    // BFS relation (the seed's own 0-row counts as reached)
    "q_osm_eccentricity" -> (OsmOracle.graphPrefix.replaceFirst("WITH",
      "WITH RECURSIVE") + oracleRouteCore +
      """,
         rc(seed, node, dist, hops) AS (
           SELECT seed, seed, CAST(0 AS BIGINT), 0
           FROM (VALUES (1), (3), (4), (5), (6)) s(seed)
           UNION ALL
           SELECT rc.seed, e.dst, rc.dist + e.w, rc.hops + 1
           FROM rc JOIN dedges e ON e.src = rc.node WHERE rc.hops < 8),
         mc AS (SELECT seed, node, min(dist) AS d FROM rc GROUP BY seed, node)
         SELECT CAST(seed AS BIGINT) AS node_id,
                CAST(max(d) AS BIGINT) AS ecc_cm,
                count(*) AS reached
         FROM mc GROUP BY seed ORDER BY node_id"""),
    // pseudo-diameter: both hop-BFS sweeps replayed, argmax ties to
    // the smallest node id at each sweep
    "q_osm_pseudo_diameter" -> (OsmOracle.graphPrefix.replaceFirst("WITH",
      "WITH RECURSIVE") + oracleRouteCore +
      """,
         r1(node, d, hops) AS (
           SELECT CAST(1 AS BIGINT), 0, 0
           UNION ALL
           SELECT e.dst, r1.d + 1, r1.hops + 1
           FROM r1 JOIN dedges e ON e.src = r1.node WHERE r1.hops < 10),
         m1 AS (SELECT node, min(d) AS d FROM r1 GROUP BY node),
         u AS (SELECT node FROM m1 ORDER BY d DESC, node LIMIT 1),
         r2(node, d, hops) AS (
           SELECT node, 0, 0 FROM u
           UNION ALL
           SELECT e.dst, r2.d + 1, r2.hops + 1
           FROM r2 JOIN dedges e ON e.src = r2.node WHERE r2.hops < 10),
         m2 AS (SELECT node, min(d) AS d FROM r2 GROUP BY node),
         v AS (SELECT node, d FROM m2 ORDER BY d DESC, node LIMIT 1)
         SELECT CAST(u.node AS BIGINT) AS from_node,
                CAST(v.node AS BIGINT) AS to_node,
                CAST(v.d AS BIGINT) AS pseudo_diameter
         FROM u, v"""),
    "q_osm_hits" -> hitsOracleSql(10),
    // Brandes pair-dependencies re-derived by brute force: enumerate
    // ALL simple paths from each seed (revisit guard terminates the
    // recursion), keep the per-(s,t) minimum-cost ones, count how many
    // pass through each interior node, and sum σ_st(v)/σ_st.
    "q_osm_betweenness" -> (OsmOracle.graphPrefix.replaceFirst("WITH",
      "WITH RECURSIVE") + oracleRouteCore +
      """,
         sp(seed, node, dist, path) AS (
           SELECT seed, seed, CAST(0 AS BIGINT), CAST(seed AS VARCHAR)
           FROM (VALUES (1), (3), (4), (5), (6)) s(seed)
           UNION ALL
           SELECT sp.seed, e.dst, sp.dist + e.w,
                  sp.path || ',' || CAST(e.dst AS VARCHAR)
           FROM sp JOIN dedges e ON e.src = sp.node
           WHERE position(',' || CAST(e.dst AS VARCHAR) || ','
                          IN ',' || sp.path || ',') = 0),
         mind AS (
           SELECT seed, node AS t, min(dist) AS d
           FROM sp WHERE node <> seed GROUP BY seed, node),
         short AS (
           SELECT sp.seed, sp.node AS t, sp.path
           FROM sp JOIN mind
             ON mind.seed = sp.seed AND mind.t = sp.node
            AND sp.dist = mind.d),
         sigma AS (
           SELECT seed, t, count(*) AS sig FROM short GROUP BY seed, t),
         gnodes AS (
           SELECT DISTINCT node FROM (
             SELECT src AS node FROM dedges
             UNION SELECT dst FROM dedges)),
         pass AS (
           SELECT sh.seed, sh.t, n.node AS v, count(*) AS sv
           FROM short sh JOIN gnodes n
             ON position(',' || CAST(n.node AS VARCHAR) || ','
                         IN ',' || sh.path || ',') > 0
            AND n.node <> sh.seed AND n.node <> sh.t
           GROUP BY sh.seed, sh.t, n.node),
         bc AS (
           SELECT p.v AS node_id,
                  sum(CAST(p.sv AS DOUBLE) / sg.sig) AS b
           FROM pass p JOIN sigma sg
             ON sg.seed = p.seed AND sg.t = p.t
           GROUP BY p.v)
         SELECT CAST(n.node AS BIGINT) AS node_id,
                round(coalesce(bc.b, 0), 6) AS betweenness
         FROM gnodes n LEFT JOIN bc ON bc.node_id = n.node
         ORDER BY node_id"""),

    // K shortest paths: enumerate ALL simple 1→4 paths over the same
    // rebuilt graph + the two literal shortcut edges (the recursion
    // forbids node revisits, so it terminates), rank by (dist, path)
    // — Yen's loopless semantics is exactly top-k of this enumeration
    "q_osm_ksp" -> (OsmOracle.graphPrefix.replaceFirst("WITH",
      "WITH RECURSIVE") + oracleRouteCore +
      """,
         dedges2 AS (
           SELECT src, dst, w FROM dedges
           UNION ALL
           SELECT src, dst, CAST(w AS BIGINT)
           FROM (VALUES (1, 5, 150000), (6, 4, 140000)) v(src, dst, w)),
         kp(node, dist, path) AS (
           SELECT 1, CAST(0 AS BIGINT), '1'
           UNION ALL
           SELECT e.dst, kp.dist + e.w,
                  kp.path || ',' || CAST(e.dst AS VARCHAR)
           FROM kp JOIN dedges2 e ON e.src = kp.node
           WHERE (',' || kp.path || ',')
                 NOT LIKE ('%,' || CAST(e.dst AS VARCHAR) || ',%'))
         SELECT CAST(row_number() OVER (ORDER BY dist, path) AS BIGINT) AS rank,
                path, dist AS dist_cm
         FROM kp WHERE node = 4 ORDER BY rank LIMIT 3"""),
    // strongly connected components: full reachability closure rr via
    // a DISTINCT recursive CTE (terminates on cycles without a hop
    // bound), SCC label = max mutually-reachable node — the engine's
    // coloring-algorithm label is provably the same max
    "q_osm_scc" -> (OsmOracle.graphPrefix.replaceFirst("WITH",
      "WITH RECURSIVE") + oracleRouteCore +
      """,
         gnodes AS (SELECT DISTINCT src AS node FROM dedges
                    UNION SELECT DISTINCT dst FROM dedges),
         rr(a, b) AS (
           SELECT node, node FROM gnodes
           UNION
           SELECT rr.a, e.dst FROM rr JOIN dedges e ON e.src = rr.b)
         SELECT CAST(f.a AS BIGINT) AS node_id, CAST(max(f.b) AS BIGINT) AS scc
         FROM rr f JOIN rr r ON f.a = r.b AND f.b = r.a
         GROUP BY f.a ORDER BY node_id"""),
    // the service area: same recursion, cutoff applied to the per-node
    // minimum (not the raw path rows — a long path to a near node must
    // not drop it)
    "q_osm_isochrone" -> (OsmOracle.graphPrefix.replaceFirst("WITH",
      "WITH RECURSIVE") + oracleRouteCore +
      """
         SELECT CAST(node AS BIGINT) AS node_id,
                CAST(min(dist) AS BIGINT) AS dist_cm
         FROM r GROUP BY node HAVING min(dist) <= 330000
         ORDER BY node_id"""),
    // hand-derived alpha-shape ring: reached@3400m = {1,3,4,5,6} (from
    // the q_osm_isochrone recursion at the wider cutoff) -> 0.02-degree
    // cells (0,0),(1,0),(1,-1) -> L-shaped union outline traced CCW
    // from its lexicographically-smallest vertex, collinear runs merged
    "q_osm_isochrone_poly" ->
      """SELECT * FROM (VALUES
           (0, 0, CAST(0.00 AS DOUBLE), CAST( 0.00 AS DOUBLE)),
           (0, 1, CAST(0.02 AS DOUBLE), CAST( 0.00 AS DOUBLE)),
           (0, 2, CAST(0.02 AS DOUBLE), CAST(-0.02 AS DOUBLE)),
           (0, 3, CAST(0.04 AS DOUBLE), CAST(-0.02 AS DOUBLE)),
           (0, 4, CAST(0.04 AS DOUBLE), CAST( 0.02 AS DOUBLE)),
           (0, 5, CAST(0.00 AS DOUBLE), CAST( 0.02 AS DOUBLE)))
         AS t(ring_id, seq, lon, lat)
         ORDER BY ring_id, seq""",
    // path enumeration with the same rebuilt graph: recursion carries
    // the node list, the best (dist, path) row for the target is
    // exploded positionally — independent of the engine's
    // predecessor-walk reconstruction
    "q_osm_route_path" -> (OsmOracle.graphPrefix.replaceFirst("WITH",
      "WITH RECURSIVE") +
      """,
         coords(node_id, lon, lat) AS (VALUES
           (1,0.00,0.0),(2,0.01,0.0),(3,0.02,0.0),(4,0.03,0.0),
           (5,0.02,-0.01),(6,0.02,0.01),(7,0.10,0.0),(8,0.12,0.0),
           (9,0.20,0.0),(10,0.22,0.0),(12,0.31,0.0)),
         segsrc AS (
           SELECT way_id AS edge_id, group_id, sequence_id, node_id FROM ntm
           UNION ALL
           SELECT way_id, -1, sequence_id, node_id FROM way_nodes
           WHERE way_id NOT IN (SELECT DISTINCT way_id FROM ntm)),
         segpts AS (
           SELECT s.edge_id, s.group_id, s.sequence_id,
                  CAST(c.lon AS DOUBLE) AS lon, CAST(c.lat AS DOUBLE) AS lat,
                  lead(CAST(c.lon AS DOUBLE)) OVER w AS lon2,
                  lead(CAST(c.lat AS DOUBLE)) OVER w AS lat2
           FROM segsrc s JOIN coords c ON c.node_id = s.node_id
           WINDOW w AS (PARTITION BY s.edge_id, s.group_id ORDER BY s.sequence_id)),
         elen AS (
           SELECT edge_id, group_id,
                  CAST(round(sum(2 * 6371008.8 * asin(sqrt(
                    sin(radians(lat2 - lat)/2)^2 +
                    cos(radians(lat)) * cos(radians(lat2)) *
                      sin(radians(lon2 - lon)/2)^2))) * 100) AS BIGINT) AS w
           FROM segpts WHERE lon2 IS NOT NULL GROUP BY edge_id, group_id),
         attrs(way_id, highway, oneway) AS (VALUES
           (101,'residential',CAST(NULL AS VARCHAR)),(102,'tertiary',CAST(NULL AS VARCHAR)),
           (103,'primary','yes'),(104,'motorway','-1'),
           (106,'motorway',CAST(NULL AS VARCHAR)),(109,'tertiary',CAST(NULL AS VARCHAR))),
         m4 AS (SELECT m.start_node, m.end_node, l.w, a.highway, a.oneway
                FROM merged m
                JOIN elen l ON m.edge_id = l.edge_id AND m.group_id = l.group_id
                JOIN attrs a ON m.edge_id = a.way_id),
         dedges AS (
           SELECT start_node AS src, end_node AS dst, w FROM m4
            WHERE (oneway IS NULL OR oneway = 'no') AND highway != 'motorway'
           UNION ALL
           SELECT end_node, start_node, w FROM m4
            WHERE (oneway IS NULL OR oneway = 'no') AND highway != 'motorway'
           UNION ALL
           SELECT start_node, end_node, w FROM m4
            WHERE oneway = 'yes' OR (highway = 'motorway' AND oneway != '-1')
           UNION ALL
           SELECT end_node, start_node, w FROM m4 WHERE oneway = '-1'),
         r2(node, dist, path) AS (
           SELECT 1, CAST(0 AS BIGINT), [CAST(1 AS BIGINT)]
           UNION ALL
           SELECT e.dst, r2.dist + e.w, list_append(r2.path, CAST(e.dst AS BIGINT))
           FROM r2 JOIN dedges e ON e.src = r2.node WHERE len(r2.path) <= 8),
         sel AS (SELECT dist, path FROM r2 WHERE node = 4
                 ORDER BY dist, path LIMIT 1)
         SELECT CAST(generate_subscripts(path, 1) AS BIGINT) AS seq,
                CAST(unnest(path) AS BIGINT) AS node_id,
                CAST(dist AS BIGINT) AS total_cm
         FROM sel ORDER BY seq"""),
    // A* must return the IDENTICAL relation to route_path (admissible +
    // consistent heuristic), so the same enumeration oracle re-verifies
    // the A* code path independently
    "q_osm_astar" -> (OsmOracle.graphPrefix.replaceFirst("WITH",
      "WITH RECURSIVE") + oracleRouteIdCore +
      """,
         r2(node, dist, path) AS (
           SELECT 1, CAST(0 AS BIGINT), [CAST(1 AS BIGINT)]
           UNION ALL
           SELECT e.dst, r2.dist + e.w, list_append(r2.path, CAST(e.dst AS BIGINT))
           FROM r2 JOIN dedges e ON e.src = r2.node WHERE len(r2.path) <= 8),
         sel AS (SELECT dist, path FROM r2 WHERE node = 4
                 ORDER BY dist, path LIMIT 1)
         SELECT CAST(generate_subscripts(path, 1) AS BIGINT) AS seq,
                CAST(unnest(path) AS BIGINT) AS node_id,
                CAST(dist AS BIGINT) AS total_cm
         FROM sel ORDER BY seq"""),
    // pgr_dijkstra-shaped per-edge rows: the route_path enumeration
    // plus a per-hop best-edge lookup (min (w, edge_id) — the only
    // edge Dijkstra can have used, id tiebreak for determinism);
    // running agg_cost via a 1-PRECEDING window; terminal row -1/0
    "q_osm_route_edges" -> (OsmOracle.graphPrefix.replaceFirst("WITH",
      "WITH RECURSIVE") + oracleRouteIdCore +
      """,
         r2(node, dist, path) AS (
           SELECT 1, CAST(0 AS BIGINT), [CAST(1 AS BIGINT)]
           UNION ALL
           SELECT e.dst, r2.dist + e.w, list_append(r2.path, CAST(e.dst AS BIGINT))
           FROM r2 JOIN dedges e ON e.src = r2.node WHERE len(r2.path) <= 8),
         sel AS (SELECT dist, path FROM r2 WHERE node = 4
                 ORDER BY dist, path LIMIT 1),
         expd AS (SELECT CAST(generate_subscripts(path, 1) AS BIGINT) AS seq,
                         CAST(unnest(path) AS BIGINT) AS node
                  FROM sel),
         be AS (SELECT src, dst, w, eid,
                       row_number() OVER (PARTITION BY src, dst
                                          ORDER BY w, eid) AS rn
                FROM dedges),
         hops AS (SELECT seq, node,
                         lead(node) OVER (ORDER BY seq) AS nxt
                  FROM expd)
         SELECT h.seq, h.seq AS path_seq, h.node,
                CAST(coalesce(b.eid, -1) AS BIGINT) AS edge,
                CAST(coalesce(b.w, 0) AS BIGINT) AS cost_cm,
                CAST(coalesce(sum(b.w) OVER (ORDER BY h.seq
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS agg_cm
         FROM hops h LEFT JOIN be b
           ON b.src = h.node AND b.dst = h.nxt AND b.rn = 1
         ORDER BY seq"""),
    // pgr_drivingDistance-shaped rows: per-node min over the recursive
    // enumeration, cutoff on the min, then the same dist(u)+w=dist(v)
    // attribution with the (pred, edge-id) tie rule in SQL
    "q_osm_driving_edges" -> (OsmOracle.graphPrefix.replaceFirst("WITH",
      "WITH RECURSIVE") + oracleRouteIdCore +
      """,
         r(node, dist, hops) AS (
           SELECT 1, CAST(0 AS BIGINT), 0
           UNION ALL
           SELECT e.dst, r.dist + e.w, r.hops + 1
           FROM r JOIN dedges e ON e.src = r.node WHERE r.hops < 8),
         md AS (SELECT node, min(dist) AS d FROM r GROUP BY node
                HAVING min(dist) <= 340000),
         cand AS (
           SELECT e.dst AS node, e.eid, mu.d AS du, mv.d AS dv,
                  row_number() OVER (PARTITION BY e.dst
                                     ORDER BY e.src, e.eid) AS rn
           FROM dedges e
           JOIN md mu ON e.src = mu.node
           JOIN md mv ON e.dst = mv.node AND mu.d + e.w = mv.d
           WHERE e.dst != 1)
         SELECT CAST(node AS BIGINT) AS node_id,
                CAST(eid AS BIGINT) AS edge,
                CAST(dv - du AS BIGINT) AS cost_cm,
                CAST(dv AS BIGINT) AS agg_cm
         FROM cand WHERE rn = 1
         UNION ALL
         SELECT 1, -1, 0, 0
         ORDER BY node_id"""),
    // pgr_ksp-shaped per-edge rows: the KSP string enumeration ranked
    // to top-3, split back to node lists, same best-edge lookup over
    // the shortcut-augmented relation (virtual ids 9001/9002)
    "q_osm_ksp_edges" -> (OsmOracle.graphPrefix.replaceFirst("WITH",
      "WITH RECURSIVE") + oracleRouteIdCore +
      """,
         dedges2 AS (
           SELECT src, dst, w, eid FROM dedges
           UNION ALL
           SELECT src, dst, CAST(w AS BIGINT), eid
           FROM (VALUES (1, 5, 150000, 9001), (6, 4, 140000, 9002))
                v(src, dst, w, eid)),
         kp(node, dist, path) AS (
           SELECT 1, CAST(0 AS BIGINT), '1'
           UNION ALL
           SELECT e.dst, kp.dist + e.w,
                  kp.path || ',' || CAST(e.dst AS VARCHAR)
           FROM kp JOIN dedges2 e ON e.src = kp.node
           WHERE (',' || kp.path || ',')
                 NOT LIKE ('%,' || CAST(e.dst AS VARCHAR) || ',%')),
         top3 AS (SELECT CAST(row_number() OVER (ORDER BY dist, path)
                    AS BIGINT) AS path_id, path
                  FROM kp WHERE node = 4 ORDER BY dist, path LIMIT 3),
         expd AS (SELECT path_id,
                         CAST(generate_subscripts(l, 1) AS BIGINT) AS path_seq,
                         CAST(unnest(l) AS BIGINT) AS node
                  FROM (SELECT path_id, string_split(path, ',') AS l
                        FROM top3)),
         be AS (SELECT src, dst, w, eid,
                       row_number() OVER (PARTITION BY src, dst
                                          ORDER BY w, eid) AS rn
                FROM dedges2),
         hops AS (SELECT path_id, path_seq, node,
                         lead(node) OVER (PARTITION BY path_id
                                          ORDER BY path_seq) AS nxt
                  FROM expd)
         SELECT CAST(row_number() OVER (ORDER BY h.path_id, h.path_seq)
                  AS BIGINT) AS seq,
                h.path_id, h.path_seq, h.node,
                CAST(coalesce(b.eid, -1) AS BIGINT) AS edge,
                CAST(coalesce(b.w, 0) AS BIGINT) AS cost_cm,
                CAST(coalesce(sum(b.w) OVER (PARTITION BY h.path_id
                  ORDER BY h.path_seq
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS agg_cm
         FROM hops h LEFT JOIN be b
           ON b.src = h.node AND b.dst = h.nxt AND b.rn = 1
         ORDER BY seq"""),
    // the known snap set on the micro fixture, stated literally: cafe
    // n5 and bakery n6 are W2 segment endpoints (exact snaps onto edge
    // 102); bench n11 (0.30, 0) lies on the interior of W9's
    // (0.12,0)-(0.31,0) chord — exact at 12/9-place rounding
    "q_osm_snap_pois" ->
      """SELECT CAST(node_id AS BIGINT) AS node_id,
                CAST(edge_id AS BIGINT) AS edge_id,
                CAST(d2 AS DOUBLE) AS d2,
                CAST(snap_x AS DOUBLE) AS snap_x,
                CAST(snap_y AS DOUBLE) AS snap_y
         FROM (VALUES
           (5, 102, 0.0, 0.02, -0.01),
           (6, 102, 0.0, 0.02, 0.01),
           (11, 109, 0.0, 0.3, 0.0)) AS v(node_id, edge_id, d2, snap_x, snap_y)
         ORDER BY node_id""",
    // independent re-derivation of the way-POI extract incl. the
    // exclusion guard: a way surfaces only if it has NO highway tag
    "q_osm_pois_ways" ->
      """WITH tags(way_id, "key", "value") AS (VALUES
           (101,'highway','residential'),(101,'maxspeed','50'),(101,'name','First'),
           (102,'highway','tertiary'),
           (103,'highway','primary'),(103,'oneway','yes'),(103,'maxspeed','80 km/h'),
           (104,'highway','motorway'),(104,'oneway','-1'),
           (105,'highway','footway'),(105,'footway','sidewalk'),
           (106,'highway','motorway'),
           (107,'highway','residential'),(107,'access','private'),
           (108,'leisure','park'),(108,'name','Central Park'),
           (109,'highway','tertiary'),(109,'maxspeed','60'),
           (110,'leisure','pitch'),(110,'highway','track'),(110,'name','Track Pitch'),
           (111,'landuse','forest'),
           (112,'sport','soccer'),(112,'amenity','community_centre'),(112,'name','Sports Club')),
         poi AS (SELECT way_id, "key", "value" AS "values" FROM tags
                 WHERE "key" IN ('leisure','landuse','sport','amenity')
                   AND way_id NOT IN
                     (SELECT way_id FROM tags WHERE "key" = 'highway'))
         SELECT CAST(p.way_id AS BIGINT) AS way_id, p."key", p."values",
                n."value" AS name
         FROM poi p LEFT JOIN tags n ON n.way_id = p.way_id AND n."key" = 'name'
         ORDER BY way_id, p."key"""",
    // hand-computed expected split of the crossing fixture: the X pair
    // (edges 1, 2) halves at the (0.01, 0.01) intersection; edge 3 far
    // away and the endpoint-touch pair (4, 5) pass through unsplit
    "q_osm_cross_split" ->
      """SELECT CAST(edge_id AS BIGINT) AS edge_id,
                CAST(x1 AS DOUBLE) AS x1, CAST(y1 AS DOUBLE) AS y1,
                CAST(x2 AS DOUBLE) AS x2, CAST(y2 AS DOUBLE) AS y2
         FROM (VALUES
           (1, 0.0,  0.0,  0.01, 0.01),
           (1, 0.01, 0.01, 0.02, 0.02),
           (2, 0.0,  0.02, 0.01, 0.01),
           (2, 0.01, 0.01, 0.02, 0.0),
           (3, 1.0,  1.0,  1.01, 1.0),
           (4, 0.5,  0.5,  0.52, 0.5),
           (5, 0.5,  0.5,  0.5,  0.52)) AS t(edge_id, x1, y1, x2, y2)
         ORDER BY edge_id, x1, y1""",
    "q_t_chunks" ->
      """WITH t AS (
           SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM documents),
         c AS (
           SELECT doc_id, CAST(i AS INTEGER) AS chunk_id,
             array_to_string(
               list_slice(toks, i*40 + 1, least((i+1)*40, len(toks))), ' ')
               AS chunk_text,
             CAST(least((i+1)*40, len(toks)) - i*40 AS BIGINT) AS n_tokens
           FROM t, LATERAL unnest(
             range(0, CAST(greatest(ceil(len(toks)/40.0), 1) AS BIGINT))) AS u(i))
         SELECT doc_id, chunk_id, chunk_text, n_tokens FROM c
         ORDER BY doc_id, chunk_id""",
    "q_mm_features" ->
      """SELECT doc_id,
                CAST((octet_length(CAST(text AS BLOB)) * 1) % 97 AS FLOAT)
                  / CAST(97 AS FLOAT) AS f1,
                CAST((octet_length(CAST(text AS BLOB)) * 8) % 97 AS FLOAT)
                  / CAST(97 AS FLOAT) AS f8
         FROM documents ORDER BY doc_id""",
    // stub resize = byte truncation to the 10x10 budget; fingerprint via
    // the hex image (same blob-function workaround as q_mm_frames)
    "q_mm_resize" ->
      """SELECT doc_id,
                CAST(least(octet_length(encode(text)), 100) AS BIGINT) AS resized_bytes,
                md5(substring(hex(encode(text)), 1,
                    2 * least(octet_length(encode(text)), 100))) AS resized_md5
         FROM documents ORDER BY doc_id""",
    // byte-level frame split mirrored on the hex image (DuckDB has no
    // blob slicing/md5 in this build); hex chars 2i-1..2i are byte i
    "q_mm_frames" ->
      """WITH b AS (SELECT doc_id, hex(encode(text)) AS hx,
                greatest(CAST(ceil(octet_length(encode(text)) / 4) AS INT), 1) AS ch
           FROM documents)
         SELECT doc_id, CAST(4 AS BIGINT) AS n_frames,
                array_to_string(
                  [CAST(length(substring(hx, i*2*ch+1, 2*ch)) // 2 AS BIGINT)
                   FOR i IN [0, 1, 2, 3]], ',') AS frame_bytes_csv,
                md5(substring(hx, 1, 2*ch)) AS first_frame_md5
         FROM b ORDER BY doc_id""",
    "q_osm_complete_scale" -> (s"""WITH $scaleWaysSql,
         med AS (SELECT highway,
                   CAST(round(percentile_cont(0.5) WITHIN GROUP (ORDER BY speed_raw))
                        AS INTEGER) AS med_speed
                 FROM w WHERE speed_raw IS NOT NULL GROUP BY highway),
         ws AS (SELECT w.*, COALESCE(speed_raw, med_speed) AS speed_limit
                FROM w LEFT JOIN med USING (highway)),
         base AS (SELECT *, CASE
             WHEN access IN ('no','private','permit','customers','forestry','agricultural','military','emergency','bus','delivery','restricted') THEN 0
             WHEN service IN ('drive-through','emergency_access','bus') THEN 0
             WHEN highway IN ('disused','dismantled','razed','rest_area','corridor','construction','abandoned','raceway','proposed','planned','platform') THEN 0
             ELSE NULL END AS b FROM ws),
         carc AS (SELECT *, CASE
             WHEN highway IN ('steps','footway','pedestrian','cycleway','bridleway','elevator','sidewalk') THEN 0
             WHEN bicycle_t = 'designated' OR cycleway = 'designated' OR foot = 'designated'
                  OR footway IN ('sidewalk','crossing','yes')
                  OR motor_vehicle IN ('no','private')
                  OR service IN ('parking_aisle','parking') OR bus = 'designated' THEN 0
             WHEN b IS NULL AND highway IN ('motorway','primary','tertiary','secondary','primary_link','tertiary_link','secondary_link','trunk','trunk_link','motorway_link','motorway_junction') THEN 1
             ELSE b END AS car FROM base),
         p1 AS (SELECT *, CASE WHEN highway IN ('motorway','trunk','trunk_link','motorway_link','motorway_junction') THEN 0
                               WHEN bus = 'designated' THEN 0 ELSE b END AS pp FROM carc),
         p2 AS (SELECT *, CASE WHEN pp IS NULL AND highway IN ('steps','footway','pedestrian','bridleway','elevator','sidewalk','living_street','path') THEN 1 ELSE pp END AS pq FROM p1),
         p3 AS (SELECT *, CASE WHEN (pq IS NULL AND foot = 'designated') OR footway IN ('sidewalk','crossing','yes') THEN 1 ELSE pq END AS pedestrian FROM p2),
         b1 AS (SELECT *, CASE WHEN highway IN ('motorway','trunk','trunk_link','motorway_link','motorway_junction') THEN 0
                               WHEN bus = 'designated' THEN 0 ELSE b END AS bb FROM p3),
         b2 AS (SELECT *, CASE WHEN bb IS NULL AND highway IN ('cycleway','living_street') THEN 1 ELSE bb END AS bq FROM b1),
         b3 AS (SELECT *, CASE WHEN (bq IS NULL AND bicycle_t = 'designated') OR cycleway = 'designated' THEN 1 ELSE bq END AS bicycle FROM b2)
         SELECT highway, count(*) AS cnt,
                CAST(sum(CASE WHEN car = 1 THEN 1 ELSE 0 END) AS BIGINT) AS car_yes,
                CAST(sum(CASE WHEN car = 0 THEN 1 ELSE 0 END) AS BIGINT) AS car_no,
                CAST(sum(CASE WHEN pedestrian = 1 THEN 1 ELSE 0 END) AS BIGINT) AS ped_yes,
                CAST(sum(CASE WHEN bicycle = 1 THEN 1 ELSE 0 END) AS BIGINT) AS bike_yes,
                CAST(sum(speed_limit) AS BIGINT) AS speed_sum
         FROM b3 GROUP BY highway ORDER BY highway"""),
    "q_osm_explore_scale" -> (s"""WITH $scaleWaysSql,
         kv AS (
           SELECT 'highway' AS tag, highway AS "value" FROM w
           UNION ALL SELECT 'access', access FROM w
           UNION ALL SELECT 'foot', foot FROM w
           UNION ALL SELECT 'bicycle', bicycle_t FROM w
           UNION ALL SELECT 'maxspeed', speed_raw || ' km/h' FROM w)
         SELECT tag, "value", count(*) AS count FROM kv
         WHERE "value" IS NOT NULL
         GROUP BY tag, "value"
         ORDER BY tag, count DESC, "value""""),
    "q_rel_explore" ->
      """WITH rel_tags(rel_id, tag, "value") AS (VALUES
           (201,'leisure','park'), (203,'amenity','parking'),
           (204,'landuse','forest'), (205,'leisure','pitch'),
           (205,'sport','soccer'))
         SELECT tag, "value", count(*) AS count FROM rel_tags
         WHERE tag IN ('amenity','leisure','sport','landuse')
         GROUP BY tag, "value" ORDER BY tag, "value"""",
    "q_rel_members" ->
      """WITH rels(relation_id, rel_type) AS (VALUES
           (201,'multipolygon'),(202,'route'),(203,'multipolygon'),
           (204,'boundary'),(205,'multipolygon'),(206,'route')),
         members(relation_id, member_type) AS (VALUES
           (201,'W'),(201,'W'),(202,'W'),(202,'W'),(202,'W'),(202,'N'),
           (203,'W'),(204,'W'),(204,'W'),(205,'W'),(205,'N'),
           (206,'W'),(206,'R'))
         SELECT rel_type, member_type, count(*) AS cnt,
                count(DISTINCT relation_id) AS n_rels
         FROM rels JOIN members USING (relation_id)
         GROUP BY rel_type, member_type ORDER BY rel_type, member_type""",
    // MERGE replayed as the same full-outer CASE rewrite
    "q_s12_merge" ->
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
         ORDER BY o_orderkey""",
    "q_s11_bucketed" ->
      """SELECT c_mktsegment, count(*) AS cnt,
                round(sum(o_totalprice), 2) AS total
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    "q_s10_jdbc_roundtrip" ->
      """SELECT s_nationkey, count(*) AS cnt,
                round(sum(s_acctbal), 2) AS acctbal
         FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey""",
    "q_d_minhash_pairs" -> minhashOracleSql,
    "q_d_editdist_pairs" -> editDistOracleSql,
    "q_osm_pagerank" -> pagerankOracleSql,
    "q_osm_ppr" -> pprOracleSql(Seq(1L, 4L), 20),
    // cost matrix: per-seed BFS relation, min per (seed, node), target
    // filter, self rows dropped (pgr_dijkstraCost semantics)
    "q_osm_cost_matrix" -> (OsmOracle.graphPrefix.replaceFirst("WITH",
      "WITH RECURSIVE") + oracleRouteCore +
      """,
         rc(seed, node, dist, hops) AS (
           SELECT seed, seed, CAST(0 AS BIGINT), 0
           FROM (VALUES (1), (3), (5)) s(seed)
           UNION ALL
           SELECT rc.seed, e.dst, rc.dist + e.w, rc.hops + 1
           FROM rc JOIN dedges e ON e.src = rc.node WHERE rc.hops < 8),
         mc AS (SELECT seed, node, min(dist) AS d FROM rc GROUP BY seed, node)
         SELECT CAST(seed AS BIGINT) AS start_vid,
                CAST(node AS BIGINT) AS end_vid,
                CAST(d AS BIGINT) AS cost_cm
         FROM mc WHERE node IN (4, 5, 6) AND node <> seed
         ORDER BY start_vid, end_vid"""),
    "q_d_neardup_keep" -> neardupKeepOracleSql,
    "q_d_simhash_pairs" -> simhashOracleSql,
    "q_d_dup_passages" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
                       FROM documents),
         gr AS (SELECT doc_id, i - 1 AS pos,
                  array_to_string(t[i:i+7], ' ') AS g
                FROM toks, UNNEST(range(1, len(t) - 6)) AS r(i)
                WHERE len(t) >= 8),
         dup AS (SELECT g FROM gr GROUP BY g HAVING count(*) >= 2),
         hits AS (SELECT doc_id, pos FROM gr
                  WHERE g IN (SELECT g FROM dup)),
         isl AS (SELECT doc_id, pos,
                   CASE WHEN pos > coalesce(lag(pos) OVER
                          (PARTITION BY doc_id ORDER BY pos), -9) + 8
                        THEN 1 ELSE 0 END AS nw
                 FROM hits),
         isl2 AS (SELECT doc_id, pos,
                    sum(nw) OVER (PARTITION BY doc_id ORDER BY pos)
                      AS island
                  FROM isl)
         SELECT doc_id, min(pos) AS span_start,
                max(pos) + 7 AS span_end, count(*) AS n_grams
         FROM isl2 GROUP BY doc_id, island
         ORDER BY doc_id, span_start""",
    // paragraph dedup re-derived: same 8-token chunking, first
    // occurrence by (doc_id, chunk_id) wins (row_number over the exact
    // chunk string — the engine's xxhash64 key is collision-checked by
    // this exact-string compare), same per-doc reassembly; string_agg
    // skips the NULLed-out losers
    "q_d_paragraph_dedup" ->
      """WITH toks AS (
           SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         tok AS (
           SELECT doc_id, CAST(i AS INT) AS ord, t[i] AS tok
           FROM toks, UNNEST(range(1, len(t) + 1)) AS r(i)),
         chunks AS (
           SELECT doc_id, CAST(floor((ord - 1) / 8) AS INT) AS chunk_id,
                  string_agg(tok, ' ' ORDER BY ord) AS chunk_text
           FROM tok GROUP BY doc_id, CAST(floor((ord - 1) / 8) AS INT)),
         flagged AS (
           SELECT doc_id, chunk_id, chunk_text,
                  row_number() OVER (PARTITION BY chunk_text
                                     ORDER BY doc_id, chunk_id) AS rn
           FROM chunks)
         SELECT doc_id,
                coalesce(string_agg(CASE WHEN rn = 1 THEN chunk_text END,
                                    ' ' ORDER BY chunk_id), '') AS clean_text,
                count(*) FILTER (WHERE rn = 1) AS kept_chunks,
                count(*) FILTER (WHERE rn > 1) AS dropped_chunks
         FROM flagged GROUP BY doc_id ORDER BY doc_id""",
    // CDC dedup re-derived: identical portable 31-bit md5 boundary rule
    // (('0x'||hex8)::BIGINT mod 2^31-1, then mod 8), running-sum chunk
    // ids per doc, keep-first by (doc, chunk) via row_number over the
    // exact chunk text, reassemble in chunk order
    "q_d_cdc_dedup" ->
      """WITH toks AS (
           SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         tok AS (
           SELECT doc_id, CAST(i AS INT) AS ord, t[i] AS tok
           FROM toks, UNNEST(range(1, len(t) + 1)) AS r(i)
           WHERE t[i] <> ''),
         b AS (
           SELECT doc_id, ord, tok,
                  CASE WHEN row_number() OVER (PARTITION BY doc_id
                                               ORDER BY ord) > 1
                        AND (('0x' || substr(md5(tok), 1, 8))::BIGINT
                             % 2147483647) % 8 = 0
                       THEN 1 ELSE 0 END AS bflag
           FROM tok),
         c AS (
           SELECT doc_id, ord, tok,
                  sum(bflag) OVER (PARTITION BY doc_id
                                   ORDER BY ord) AS chunk_id
           FROM b),
         chunks AS (
           SELECT doc_id, chunk_id,
                  string_agg(tok, ' ' ORDER BY ord) AS chunk_text
           FROM c GROUP BY doc_id, chunk_id),
         flagged AS (
           SELECT doc_id, chunk_id, chunk_text,
                  row_number() OVER (PARTITION BY chunk_text
                                     ORDER BY doc_id, chunk_id) AS rn
           FROM chunks)
         SELECT doc_id,
                coalesce(string_agg(CASE WHEN rn = 1 THEN chunk_text END,
                                    ' ' ORDER BY chunk_id), '') AS clean_text,
                count(*) FILTER (WHERE rn = 1) AS kept_chunks,
                count(*) FILTER (WHERE rn > 1) AS dropped_chunks
         FROM flagged GROUP BY doc_id ORDER BY doc_id""",
    // exact substring dedup re-derived: same planted corpus, 12-token
    // windows keyed on the EXACT window string (the engine's xxhash64
    // stage is only a prefilter, so a collision there cannot change the
    // result), first occurrence by (doc_id, pos) canonical, positions
    // under any non-canonical duplicate window dropped, per-doc
    // reassembly in token order
    "q_d_substring_dedup" ->
      """WITH corpus AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 100000 AS doc_id,
                  'planted prefix ' || text AS text
           FROM documents WHERE doc_id < 20),
         toks AS (
           SELECT doc_id, string_split(text, ' ') AS t FROM corpus),
         grams AS (
           SELECT doc_id, CAST(i - 1 AS INT) AS pos,
                  array_to_string(t[i:i+11], ' ') AS g
           FROM toks, UNNEST(range(1, len(t) - 12 + 2)) AS r(i)
           WHERE len(t) >= 12),
         marked AS (
           SELECT doc_id, pos,
                  row_number() OVER (PARTITION BY g
                                     ORDER BY doc_id, pos) AS rn,
                  count(*) OVER (PARTITION BY g) AS c
           FROM grams),
         dup AS (SELECT doc_id, pos FROM marked WHERE c > 1 AND rn > 1),
         covered AS (
           SELECT DISTINCT doc_id, pos + o.range AS p
           FROM dup, range(12) o),
         tok AS (
           SELECT doc_id, CAST(i - 1 AS INT) AS p, t[i] AS tk
           FROM toks, UNNEST(range(1, len(t) + 1)) AS r(i)),
         kept AS (
           SELECT tok.doc_id, tok.p, tok.tk
           FROM tok LEFT JOIN covered c
             ON c.doc_id = tok.doc_id AND c.p = tok.p
           WHERE c.p IS NULL),
         agg AS (
           SELECT doc_id, string_agg(tk, ' ' ORDER BY p) AS clean_text,
                  count(*) AS kept_n
           FROM kept GROUP BY doc_id)
         SELECT toks.doc_id,
                coalesce(agg.clean_text, '') AS clean_text,
                CAST(len(toks.t) AS BIGINT) AS total_tokens,
                CAST(len(toks.t) - coalesce(agg.kept_n, 0) AS BIGINT)
                  AS removed_tokens
         FROM toks LEFT JOIN agg ON agg.doc_id = toks.doc_id
         ORDER BY toks.doc_id""",
    "q_s_ann_lsh" -> annLshOracleSql,
    // q_s_ivf_ann emits only the deterministic quality verdict
    // (query_id, recall_ok) — the Lloyd-trained top-k itself is not
    // oracle-able (float-sum centroids are partition-order-dependent),
    // so the contract IS the recall gate: every query's recall@5 vs the
    // exact brute force clears 0.95. The oracle is the literal expected
    // verdict table.
    "q_s_ivf_ann" ->
      """SELECT CAST(query_id AS BIGINT) AS query_id, recall_ok
         FROM (VALUES (0, true), (1, true), (2, true), (3, true), (4, true))
           AS t(query_id, recall_ok)
         ORDER BY query_id""",
    // PQ prune + exact rescore: same recall-gate policy as q_s_ivf_ann
    "q_s_pq_recall" ->
      """SELECT CAST(query_id AS BIGINT) AS query_id, recall_ok
         FROM (VALUES (0, true), (1, true), (2, true), (3, true), (4, true))
           AS t(query_id, recall_ok)
         ORDER BY query_id""",
    // two-stage PCA + rescore: same recall-gate policy as q_s_ivf_ann
    "q_s_pca_ann" ->
      """SELECT CAST(query_id AS BIGINT) AS query_id, recall_ok
         FROM (VALUES (0, true), (1, true), (2, true), (3, true), (4, true))
           AS t(query_id, recall_ok)
         ORDER BY query_id""",
    // IVF with the fixed first-16 quantizer: assignment (argmax cosine,
    // ties to the lowest centroid id), nprobe=4 pruning, exact rescore,
    // per-query top-5 — all recomputed independently. Cosines match
    // bit-for-bit (left-to-right folds on both engines).
    // IVF-PQ re-derived: coarse assignment + nprobe probes exactly as
    // q_s_ivf_fixed, codes/ADC exactly as q_s_pq_adc, composed.
    "q_s_ivfpq" ->
      """WITH base AS (
           SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         cents AS (
           SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS c
           FROM (SELECT * FROM base ORDER BY vec_id LIMIT 16)),
         cscores AS (
           SELECT b.vec_id, ct.cid,
             list_dot_product(b.v, ct.c) /
               (sqrt(list_dot_product(b.v, b.v)) *
                sqrt(list_dot_product(ct.c, ct.c))) AS cs
           FROM base b CROSS JOIN cents ct),
         assign AS (
           SELECT vec_id, cid FROM (
             SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid) AS rn
             FROM cscores) WHERE rn = 1),
         probes AS (
           SELECT vec_id AS query_id, cid FROM (
             SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid) AS rn
             FROM cscores WHERE vec_id < 5) WHERE rn <= 4),
         cb AS (
           SELECT m.range AS m, b.vec_id AS j,
                  list_slice(b.v, m.range*8 + 1, m.range*8 + 8) AS c
           FROM range(8) m, (SELECT vec_id, v FROM base WHERE vec_id < 16) b),
         pqscores AS (
           SELECT b.vec_id, c.m, c.j,
             list_dot_product(c.c, c.c) -
               2*list_dot_product(c.c,
                   list_slice(b.v, c.m*8 + 1, c.m*8 + 8)) AS s
           FROM base b CROSS JOIN cb c),
         codes AS (
           SELECT vec_id, m, j AS code FROM (
             SELECT vec_id, m, j,
               row_number() OVER (PARTITION BY vec_id, m ORDER BY s, j) AS rn
             FROM pqscores) WHERE rn = 1),
         qsub AS (
           SELECT b.vec_id AS query_id, m.range AS m,
                  list_slice(b.v, m.range*8 + 1, m.range*8 + 8) AS qm
           FROM base b, range(8) m WHERE b.vec_id < 5),
         pair AS (
           SELECT q.query_id, d.vec_id,
             sum(list_dot_product(q.qm, q.qm) -
                 2*list_dot_product(q.qm, c.c) +
                 list_dot_product(c.c, c.c)) AS adc
           FROM qsub q
           JOIN codes d ON d.m = q.m
           JOIN assign a ON a.vec_id = d.vec_id
           JOIN probes p ON p.query_id = q.query_id AND p.cid = a.cid
           JOIN cb c ON c.m = d.m AND c.j = d.code
           GROUP BY q.query_id, d.vec_id),
         ranked AS (
           SELECT query_id, vec_id, adc,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY adc, vec_id) AS rn
           FROM pair)
         SELECT query_id, vec_id, round(adc, 6) AS adc
         FROM ranked WHERE rn <= 10
         ORDER BY query_id, vec_id""",

    // Residual IVF-PQ re-derived end-to-end: coarse assignment as
    // q_s_ivfpq; residuals r = v − c_cell elementwise in double;
    // residual codebooks = sub-slices of the first-16 ids' residuals;
    // codes = argmin over residual slices; the query residual (and so
    // its ADC table) is rebuilt PER PROBED CELL. Same left-to-right
    // fold structure as the engine, so ADC matches at 6 decimals.
    "q_s_ivfpq_residual" ->
      """WITH base AS (
           SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         cents AS (
           SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS c
           FROM (SELECT * FROM base ORDER BY vec_id LIMIT 16)),
         cscores AS (
           SELECT b.vec_id, ct.cid,
             list_dot_product(b.v, ct.c) /
               (sqrt(list_dot_product(b.v, b.v)) *
                sqrt(list_dot_product(ct.c, ct.c))) AS cs
           FROM base b CROSS JOIN cents ct),
         assign AS (
           SELECT vec_id, cid FROM (
             SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid) AS rn
             FROM cscores) WHERE rn = 1),
         resid AS (
           SELECT b.vec_id, a.cid,
             list_transform(range(1, 1 + len(b.v)),
               i -> b.v[i] - ct.c[i]) AS r
           FROM base b
           JOIN assign a ON a.vec_id = b.vec_id
           JOIN cents ct ON ct.cid = a.cid),
         cb AS (
           SELECT m.range AS m, r.vec_id - 16 AS j,
                  list_slice(r.r, m.range*8 + 1, m.range*8 + 8) AS c
           FROM range(8) m,
                (SELECT vec_id, r FROM resid
                 WHERE vec_id BETWEEN 16 AND 31) r),
         pqscores AS (
           SELECT r.vec_id, c.m, c.j,
             list_dot_product(c.c, c.c) -
               2*list_dot_product(c.c,
                   list_slice(r.r, c.m*8 + 1, c.m*8 + 8)) AS s
           FROM resid r CROSS JOIN cb c),
         codes AS (
           SELECT vec_id, m, j AS code FROM (
             SELECT vec_id, m, j,
               row_number() OVER (PARTITION BY vec_id, m ORDER BY s, j) AS rn
             FROM pqscores) WHERE rn = 1),
         probes AS (
           SELECT vec_id AS query_id, cid FROM (
             SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid) AS rn
             FROM cscores WHERE vec_id < 5) WHERE rn <= 4),
         qres AS (
           SELECT p.query_id, p.cid,
             list_transform(range(1, 1 + len(b.v)),
               i -> b.v[i] - ct.c[i]) AS r
           FROM probes p
           JOIN base b ON b.vec_id = p.query_id
           JOIN cents ct ON ct.cid = p.cid),
         qsub AS (
           SELECT q.query_id, q.cid, m.range AS m,
                  list_slice(q.r, m.range*8 + 1, m.range*8 + 8) AS qm
           FROM qres q, range(8) m),
         pair AS (
           SELECT q.query_id, d.vec_id,
             sum(list_dot_product(q.qm, q.qm) -
                 2*list_dot_product(q.qm, c.c) +
                 list_dot_product(c.c, c.c)) AS adc
           FROM qsub q
           JOIN assign a ON a.cid = q.cid
           JOIN codes d ON d.vec_id = a.vec_id AND d.m = q.m
           JOIN cb c ON c.m = d.m AND c.j = d.code
           GROUP BY q.query_id, d.vec_id),
         ranked AS (
           SELECT query_id, vec_id, adc,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY adc, vec_id) AS rn
           FROM pair)
         SELECT query_id, vec_id, round(adc, 6) AS adc
         FROM ranked WHERE rn <= 10
         ORDER BY query_id, vec_id""",
    // Index round-trip: the LOADED index must score exactly what a
    // from-scratch re-derivation scores — same chain as the
    // q_s_ivfpq_residual oracle with nprobe=3. A persistence bug that
    // drops a double anywhere (centroid order, codebook slice,
    // partition-column cell id) breaks the 6-decimal ADC hash.
"q_s_index_persist" ->
      """WITH base AS (
           SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         cents AS (
           SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS c
           FROM (SELECT * FROM base ORDER BY vec_id LIMIT 16)),
         cscores AS (
           SELECT b.vec_id, ct.cid,
             list_dot_product(b.v, ct.c) /
               (sqrt(list_dot_product(b.v, b.v)) *
                sqrt(list_dot_product(ct.c, ct.c))) AS cs
           FROM base b CROSS JOIN cents ct),
         assign AS (
           SELECT vec_id, cid FROM (
             SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid) AS rn
             FROM cscores) WHERE rn = 1),
         resid AS (
           SELECT b.vec_id, a.cid,
             list_transform(range(1, 1 + len(b.v)),
               i -> b.v[i] - ct.c[i]) AS r
           FROM base b
           JOIN assign a ON a.vec_id = b.vec_id
           JOIN cents ct ON ct.cid = a.cid),
         cb AS (
           SELECT m.range AS m, r.vec_id - 16 AS j,
                  list_slice(r.r, m.range*8 + 1, m.range*8 + 8) AS c
           FROM range(8) m,
                (SELECT vec_id, r FROM resid
                 WHERE vec_id BETWEEN 16 AND 31) r),
         pqscores AS (
           SELECT r.vec_id, c.m, c.j,
             list_dot_product(c.c, c.c) -
               2*list_dot_product(c.c,
                   list_slice(r.r, c.m*8 + 1, c.m*8 + 8)) AS s
           FROM resid r CROSS JOIN cb c),
         codes AS (
           SELECT vec_id, m, j AS code FROM (
             SELECT vec_id, m, j,
               row_number() OVER (PARTITION BY vec_id, m ORDER BY s, j) AS rn
             FROM pqscores) WHERE rn = 1),
         probes AS (
           SELECT vec_id AS query_id, cid FROM (
             SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid) AS rn
             FROM cscores WHERE vec_id < 5) WHERE rn <= 3),
         qres AS (
           SELECT p.query_id, p.cid,
             list_transform(range(1, 1 + len(b.v)),
               i -> b.v[i] - ct.c[i]) AS r
           FROM probes p
           JOIN base b ON b.vec_id = p.query_id
           JOIN cents ct ON ct.cid = p.cid),
         qsub AS (
           SELECT q.query_id, q.cid, m.range AS m,
                  list_slice(q.r, m.range*8 + 1, m.range*8 + 8) AS qm
           FROM qres q, range(8) m),
         pair AS (
           SELECT q.query_id, d.vec_id,
             sum(list_dot_product(q.qm, q.qm) -
                 2*list_dot_product(q.qm, c.c) +
                 list_dot_product(c.c, c.c)) AS adc
           FROM qsub q
           JOIN assign a ON a.cid = q.cid
           JOIN codes d ON d.vec_id = a.vec_id AND d.m = q.m
           JOIN cb c ON c.m = d.m AND c.j = d.code
           GROUP BY q.query_id, d.vec_id),
         ranked AS (
           SELECT query_id, vec_id, adc,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY adc, vec_id) AS rn
           FROM pair)
         SELECT query_id, vec_id, round(adc, 6) AS adc
         FROM ranked WHERE rn <= 10
         ORDER BY query_id, vec_id""",
    // append == one-shot build: the q_s_index_persist re-derivation
    // verbatim — a correct frozen-quantizer append is
    // indistinguishable from indexing the full corpus at build time
"q_s_index_append" ->
      """WITH base AS (
           SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         cents AS (
           SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS c
           FROM (SELECT * FROM base ORDER BY vec_id LIMIT 16)),
         cscores AS (
           SELECT b.vec_id, ct.cid,
             list_dot_product(b.v, ct.c) /
               (sqrt(list_dot_product(b.v, b.v)) *
                sqrt(list_dot_product(ct.c, ct.c))) AS cs
           FROM base b CROSS JOIN cents ct),
         assign AS (
           SELECT vec_id, cid FROM (
             SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid) AS rn
             FROM cscores) WHERE rn = 1),
         resid AS (
           SELECT b.vec_id, a.cid,
             list_transform(range(1, 1 + len(b.v)),
               i -> b.v[i] - ct.c[i]) AS r
           FROM base b
           JOIN assign a ON a.vec_id = b.vec_id
           JOIN cents ct ON ct.cid = a.cid),
         cb AS (
           SELECT m.range AS m, r.vec_id - 16 AS j,
                  list_slice(r.r, m.range*8 + 1, m.range*8 + 8) AS c
           FROM range(8) m,
                (SELECT vec_id, r FROM resid
                 WHERE vec_id BETWEEN 16 AND 31) r),
         pqscores AS (
           SELECT r.vec_id, c.m, c.j,
             list_dot_product(c.c, c.c) -
               2*list_dot_product(c.c,
                   list_slice(r.r, c.m*8 + 1, c.m*8 + 8)) AS s
           FROM resid r CROSS JOIN cb c),
         codes AS (
           SELECT vec_id, m, j AS code FROM (
             SELECT vec_id, m, j,
               row_number() OVER (PARTITION BY vec_id, m ORDER BY s, j) AS rn
             FROM pqscores) WHERE rn = 1),
         probes AS (
           SELECT vec_id AS query_id, cid FROM (
             SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid) AS rn
             FROM cscores WHERE vec_id < 5) WHERE rn <= 3),
         qres AS (
           SELECT p.query_id, p.cid,
             list_transform(range(1, 1 + len(b.v)),
               i -> b.v[i] - ct.c[i]) AS r
           FROM probes p
           JOIN base b ON b.vec_id = p.query_id
           JOIN cents ct ON ct.cid = p.cid),
         qsub AS (
           SELECT q.query_id, q.cid, m.range AS m,
                  list_slice(q.r, m.range*8 + 1, m.range*8 + 8) AS qm
           FROM qres q, range(8) m),
         pair AS (
           SELECT q.query_id, d.vec_id,
             sum(list_dot_product(q.qm, q.qm) -
                 2*list_dot_product(q.qm, c.c) +
                 list_dot_product(c.c, c.c)) AS adc
           FROM qsub q
           JOIN assign a ON a.cid = q.cid
           JOIN codes d ON d.vec_id = a.vec_id AND d.m = q.m
           JOIN cb c ON c.m = d.m AND c.j = d.code
           GROUP BY q.query_id, d.vec_id),
         ranked AS (
           SELECT query_id, vec_id, adc,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY adc, vec_id) AS rn
           FROM pair)
         SELECT query_id, vec_id, round(adc, 6) AS adc
         FROM ranked WHERE rn <= 10
         ORDER BY query_id, vec_id""",
    // OPQ∘residual-IVF-PQ, fixed slots: identical chain to the
    // q_s_ivfpq_residual oracle except every vector is FIRST permuted
    // y_i = x_{5i mod 64} (the value-exact stand-in for a trained
    // rotation) — cells, residuals, codebooks, probes, and ADC all
    // computed in permuted space
    "q_s_opq_ivfpq" ->
      """WITH raw AS (
           SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v0 FROM embeddings),
         base AS (
           SELECT vec_id,
             list_transform(range(0, 64), i -> v0[(i*5)%64 + 1]) AS v
           FROM raw),
         cents AS (
           SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS c
           FROM (SELECT * FROM base ORDER BY vec_id LIMIT 16)),
         cscores AS (
           SELECT b.vec_id, ct.cid,
             list_dot_product(b.v, ct.c) /
               (sqrt(list_dot_product(b.v, b.v)) *
                sqrt(list_dot_product(ct.c, ct.c))) AS cs
           FROM base b CROSS JOIN cents ct),
         assign AS (
           SELECT vec_id, cid FROM (
             SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid) AS rn
             FROM cscores) WHERE rn = 1),
         resid AS (
           SELECT b.vec_id, a.cid,
             list_transform(range(1, 1 + len(b.v)),
               i -> b.v[i] - ct.c[i]) AS r
           FROM base b
           JOIN assign a ON a.vec_id = b.vec_id
           JOIN cents ct ON ct.cid = a.cid),
         cb AS (
           SELECT m.range AS m, r.vec_id - 16 AS j,
                  list_slice(r.r, m.range*8 + 1, m.range*8 + 8) AS c
           FROM range(8) m,
                (SELECT vec_id, r FROM resid
                 WHERE vec_id BETWEEN 16 AND 31) r),
         pqscores AS (
           SELECT r.vec_id, c.m, c.j,
             list_dot_product(c.c, c.c) -
               2*list_dot_product(c.c,
                   list_slice(r.r, c.m*8 + 1, c.m*8 + 8)) AS s
           FROM resid r CROSS JOIN cb c),
         codes AS (
           SELECT vec_id, m, j AS code FROM (
             SELECT vec_id, m, j,
               row_number() OVER (PARTITION BY vec_id, m ORDER BY s, j) AS rn
             FROM pqscores) WHERE rn = 1),
         probes AS (
           SELECT vec_id AS query_id, cid FROM (
             SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid) AS rn
             FROM cscores WHERE vec_id < 5) WHERE rn <= 4),
         qres AS (
           SELECT p.query_id, p.cid,
             list_transform(range(1, 1 + len(b.v)),
               i -> b.v[i] - ct.c[i]) AS r
           FROM probes p
           JOIN base b ON b.vec_id = p.query_id
           JOIN cents ct ON ct.cid = p.cid),
         qsub AS (
           SELECT q.query_id, q.cid, m.range AS m,
                  list_slice(q.r, m.range*8 + 1, m.range*8 + 8) AS qm
           FROM qres q, range(8) m),
         pair AS (
           SELECT q.query_id, d.vec_id,
             sum(list_dot_product(q.qm, q.qm) -
                 2*list_dot_product(q.qm, c.c) +
                 list_dot_product(c.c, c.c)) AS adc
           FROM qsub q
           JOIN assign a ON a.cid = q.cid
           JOIN codes d ON d.vec_id = a.vec_id AND d.m = q.m
           JOIN cb c ON c.m = d.m AND c.j = d.code
           GROUP BY q.query_id, d.vec_id),
         ranked AS (
           SELECT query_id, vec_id, adc,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY adc, vec_id) AS rn
           FROM pair)
         SELECT query_id, vec_id, round(adc, 6) AS adc
         FROM ranked WHERE rn <= 10
         ORDER BY query_id, vec_id""",
    // OPQ∘residual-IVF-PQ vs plain residual IVF-PQ recall: trained
    // rotation + quantizers, literal-verdict gate
    "q_s_opq_ivfpq_recall" ->
      """SELECT opq_ivfpq_beats_plain, opq_ivfpq_ok
         FROM (VALUES (true, true)) AS t(opq_ivfpq_beats_plain, opq_ivfpq_ok)""",
    // LOPQ-style fixed slots: cells + residuals exactly as the
    // q_s_ivfpq_residual oracle, then the RESIDUAL permuted
    // y_i = r_{5i mod 64} before codebook slicing / encode / ADC
    "q_s_lopq" ->
      """WITH base AS (
           SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         cents AS (
           SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS c
           FROM (SELECT * FROM base ORDER BY vec_id LIMIT 16)),
         cscores AS (
           SELECT b.vec_id, ct.cid,
             list_dot_product(b.v, ct.c) /
               (sqrt(list_dot_product(b.v, b.v)) *
                sqrt(list_dot_product(ct.c, ct.c))) AS cs
           FROM base b CROSS JOIN cents ct),
         assign AS (
           SELECT vec_id, cid FROM (
             SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid) AS rn
             FROM cscores) WHERE rn = 1),
         resid AS (
           SELECT b.vec_id, a.cid,
             list_transform(range(0, 64),
               i -> b.v[(i*5)%64 + 1] - ct.c[(i*5)%64 + 1]) AS r
           FROM base b
           JOIN assign a ON a.vec_id = b.vec_id
           JOIN cents ct ON ct.cid = a.cid),
         cb AS (
           SELECT m.range AS m, r.vec_id - 16 AS j,
                  list_slice(r.r, m.range*16 + 1, m.range*16 + 16) AS c
           FROM range(4) m,
                (SELECT vec_id, r FROM resid
                 WHERE vec_id BETWEEN 16 AND 31) r),
         pqscores AS (
           SELECT r.vec_id, c.m, c.j,
             list_dot_product(c.c, c.c) -
               2*list_dot_product(c.c,
                   list_slice(r.r, c.m*16 + 1, c.m*16 + 16)) AS s
           FROM resid r CROSS JOIN cb c),
         codes AS (
           SELECT vec_id, m, j AS code FROM (
             SELECT vec_id, m, j,
               row_number() OVER (PARTITION BY vec_id, m ORDER BY s, j) AS rn
             FROM pqscores) WHERE rn = 1),
         probes AS (
           SELECT vec_id AS query_id, cid FROM (
             SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid) AS rn
             FROM cscores WHERE vec_id < 5) WHERE rn <= 3),
         qres AS (
           SELECT p.query_id, p.cid,
             list_transform(range(0, 64),
               i -> b.v[(i*5)%64 + 1] - ct.c[(i*5)%64 + 1]) AS r
           FROM probes p
           JOIN base b ON b.vec_id = p.query_id
           JOIN cents ct ON ct.cid = p.cid),
         qsub AS (
           SELECT q.query_id, q.cid, m.range AS m,
                  list_slice(q.r, m.range*16 + 1, m.range*16 + 16) AS qm
           FROM qres q, range(4) m),
         pair AS (
           SELECT q.query_id, d.vec_id,
             sum(list_dot_product(q.qm, q.qm) -
                 2*list_dot_product(q.qm, c.c) +
                 list_dot_product(c.c, c.c)) AS adc
           FROM qsub q
           JOIN assign a ON a.cid = q.cid
           JOIN codes d ON d.vec_id = a.vec_id AND d.m = q.m
           JOIN cb c ON c.m = d.m AND c.j = d.code
           GROUP BY q.query_id, d.vec_id),
         ranked AS (
           SELECT query_id, vec_id, adc,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY adc, vec_id) AS rn
           FROM pair)
         SELECT query_id, vec_id, round(adc, 6) AS adc
         FROM ranked WHERE rn <= 10
         ORDER BY query_id, vec_id""",
    // LOPQ residual-rotation vs plain residual IVF-PQ recall: trained
    // rotation + quantizers, literal-verdict gate
    "q_s_lopq_recall" ->
      """SELECT lopq_beats_plain, lopq_ok
         FROM (VALUES (true, true)) AS t(lopq_beats_plain, lopq_ok)""",
    // residual-vs-raw ADC recall: trained quantizers, so the contract
    // is the literal expected verdict (the q_s_pq_recall policy)
    "q_s_ivfpq_resid_recall" ->
      """SELECT resid_beats_raw, resid_ok
         FROM (VALUES (true, true)) AS t(resid_beats_raw, resid_ok)""",
    // OPQ rotation vs naive PQ: trained state, literal-verdict gate
    "q_s_opq_recall" ->
      """SELECT opq_beats_naive, opq_ok
         FROM (VALUES (true, true)) AS t(opq_beats_naive, opq_ok)""",
    // bounded-sample quantizer training holds full-training recall on
    // the clustered fixture: trained state -> literal-verdict gate
    "q_s_sampled_train" ->
      """SELECT sampled_holds_full, sampled_ok
         FROM (VALUES (true, true)) AS t(sampled_holds_full, sampled_ok)""",
    // iterative (Procrustes) OPQ vs its parametric seed: trained state,
    // literal-verdict gate
    "q_s_opq_iter_recall" ->
      """SELECT iter_holds_seed, iter_ok
         FROM (VALUES (true, true)) AS t(iter_holds_seed, iter_ok)""",

    // PQ re-derived end-to-end: codebooks = sub-slices of the first 16
    // vectors, codes = argmin(c·c − 2 c·v_m) with the same (score, j)
    // tie order, ADC = Σ_m (q·q − 2 q·c + c·c) over the chosen
    // centroids — identical expression structure to the engine.
    "q_s_pq_adc" ->
      """WITH base AS (
           SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         cb AS (
           SELECT m.range AS m, b.vec_id AS j,
                  list_slice(b.v, m.range*8 + 1, m.range*8 + 8) AS c
           FROM range(8) m, (SELECT vec_id, v FROM base WHERE vec_id < 16) b),
         scores AS (
           SELECT b.vec_id, c.m, c.j,
             list_dot_product(c.c, c.c) -
               2*list_dot_product(c.c,
                   list_slice(b.v, c.m*8 + 1, c.m*8 + 8)) AS s
           FROM base b CROSS JOIN cb c),
         codes AS (
           SELECT vec_id, m, j AS code FROM (
             SELECT vec_id, m, j,
               row_number() OVER (PARTITION BY vec_id, m ORDER BY s, j) AS rn
             FROM scores) WHERE rn = 1),
         qsub AS (
           SELECT b.vec_id AS query_id, m.range AS m,
                  list_slice(b.v, m.range*8 + 1, m.range*8 + 8) AS qm
           FROM base b, range(8) m WHERE b.vec_id < 5),
         pair AS (
           SELECT q.query_id, d.vec_id,
             sum(list_dot_product(q.qm, q.qm) -
                 2*list_dot_product(q.qm, c.c) +
                 list_dot_product(c.c, c.c)) AS adc
           FROM qsub q
           JOIN codes d ON d.m = q.m
           JOIN cb c ON c.m = d.m AND c.j = d.code
           GROUP BY q.query_id, d.vec_id),
         ranked AS (
           SELECT query_id, vec_id, adc,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY adc, vec_id) AS rn
           FROM pair)
         SELECT query_id, vec_id, round(adc, 6) AS adc
         FROM ranked WHERE rn <= 10
         ORDER BY query_id, vec_id""",

    // SemDeDup re-derived: same fixed-centroid assignment idiom as
    // q_s_ivf_fixed, then within-cluster pair cosines only.
    "q_d_semantic_pairs" ->
      """WITH cents AS (
           SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
                  CAST(embedding AS DOUBLE[]) AS c
           FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 8)),
         scores AS (
           SELECT v.vec_id, c.cid,
             list_dot_product(CAST(v.embedding AS DOUBLE[]), c.c) /
               (sqrt(list_dot_product(CAST(v.embedding AS DOUBLE[]),
                                      CAST(v.embedding AS DOUBLE[]))) *
                sqrt(list_dot_product(c.c, c.c))) AS cs
           FROM embeddings v CROSS JOIN cents c),
         assign AS (
           SELECT vec_id, cid FROM (
             SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid) AS rn
             FROM scores) WHERE rn = 1),
         pairs AS (
           SELECT a.cid AS cluster, a.vec_id AS id_a, b.vec_id AS id_b,
             list_dot_product(CAST(va.embedding AS DOUBLE[]),
                              CAST(vb.embedding AS DOUBLE[])) /
               (sqrt(list_dot_product(CAST(va.embedding AS DOUBLE[]),
                                      CAST(va.embedding AS DOUBLE[]))) *
                sqrt(list_dot_product(CAST(vb.embedding AS DOUBLE[]),
                                      CAST(vb.embedding AS DOUBLE[])))) AS cos
           FROM assign a
           JOIN assign b ON a.cid = b.cid AND a.vec_id < b.vec_id
           JOIN embeddings va ON va.vec_id = a.vec_id
           JOIN embeddings vb ON vb.vec_id = b.vec_id)
         SELECT CAST(cluster AS INT) AS cluster, id_a, id_b,
                round(cos, 6) AS cos
         FROM pairs WHERE cos >= 0.45
         ORDER BY cluster, id_a, id_b""",

    "q_s_ivf_fixed" ->
      """WITH cents AS (
           SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
                  CAST(embedding AS DOUBLE[]) AS c
           FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 16)),
         scores AS (
           SELECT v.vec_id, c.cid,
             list_dot_product(CAST(v.embedding AS DOUBLE[]), c.c) /
               (sqrt(list_dot_product(CAST(v.embedding AS DOUBLE[]),
                                      CAST(v.embedding AS DOUBLE[]))) *
                sqrt(list_dot_product(c.c, c.c))) AS cs
           FROM embeddings v CROSS JOIN cents c),
         assign AS (
           SELECT vec_id, cid FROM (
             SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid) AS rn
             FROM scores) WHERE rn = 1),
         probes AS (
           SELECT vec_id AS query_id, cid FROM (
             SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid) AS rn
             FROM scores WHERE vec_id < 5) WHERE rn <= 4),
         cand AS (
           SELECT p.query_id, a.vec_id,
             list_dot_product(CAST(cv.embedding AS DOUBLE[]),
                              CAST(qv.embedding AS DOUBLE[])) /
               (sqrt(list_dot_product(CAST(cv.embedding AS DOUBLE[]),
                                      CAST(cv.embedding AS DOUBLE[]))) *
                sqrt(list_dot_product(CAST(qv.embedding AS DOUBLE[]),
                                      CAST(qv.embedding AS DOUBLE[])))) AS cos
           FROM probes p
           JOIN assign a ON a.cid = p.cid
           JOIN embeddings cv ON cv.vec_id = a.vec_id
           JOIN embeddings qv ON qv.vec_id = p.query_id),
         ranked AS (
           SELECT query_id, vec_id, cos,
             row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rn
           FROM cand)
         SELECT query_id, vec_id, round(cos, 6) AS cos FROM ranked WHERE rn <= 5
         ORDER BY query_id, cos DESC, vec_id""",
    // exact brute force over all pairs — tractable at oracle scale, and
    // the engine's OR-amplified LSH is expected to reproduce it exactly
    // (~99.5% per-pair recall; zero false positives by construction)
    "q_d_embedding_pairs" ->
      """WITH corpus AS (
           SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding
           FROM embeddings
           UNION ALL
           SELECT vec_id + 100000,
                  list_transform(CAST(embedding AS DOUBLE[]), x -> x * 2)
           FROM embeddings WHERE vec_id < 8)
         SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                round(list_dot_product(a.embedding, b.embedding) /
                      (sqrt(list_dot_product(a.embedding, a.embedding)) *
                       sqrt(list_dot_product(b.embedding, b.embedding))), 6)
                  AS cos
         FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
         WHERE list_dot_product(a.embedding, b.embedding) /
               (sqrt(list_dot_product(a.embedding, a.embedding)) *
                sqrt(list_dot_product(b.embedding, b.embedding))) >= 0.9
         ORDER BY id_a, id_b"""
  )

  /** Deterministic sf-proportional OSM-shaped ways synthesized from
    * `part`: 8 highway classes, sparse access/foot/bicycle tags and a
    * textual maxspeed, all keyed off p_partkey residues so an
    * independent SQL oracle re-derives the identical table. Null-valued
    * entries are filtered out of the map (absent tag == absent key). */
  private def scaleWays(s: SparkSession, dir: String): DataFrame = {
    val hws = Seq("residential", "footway", "motorway", "cycleway",
      "primary", "steps", "service", "path")
    part(s, dir).select(
      col("p_partkey").as("id"),
      map_filter(map(
        lit("highway"), element_at(typedlit(hws),
          (col("p_partkey") % 8 + 1).cast("int")),
        lit("access"), when(col("p_partkey") % 7 === 0, "private"),
        lit("foot"), when(col("p_partkey") % 5 === 0, "designated"),
        lit("bicycle"), when(col("p_partkey") % 11 === 0, "designated"),
        lit("maxspeed"), when(col("p_partkey") % 3 === 0,
          concat((col("p_size") * 10).cast("string"), lit(" km/h")))),
        (k, v) => v.isNotNull).as("tags"),
      array(col("p_partkey"), col("p_partkey") + lit(1)).as("nodes"),
      array(struct(lit(0.0).as("lon"), lit(0.0).as("lat")),
        struct(lit(0.001).as("lon"), lit(0.0).as("lat"))).as("linestring"))
  }

  /** The `w`-CTE both scale oracles share: the SQL re-derivation of
    * [[scaleWays]]. */
  private val scaleWaysSql: String =
    """w AS (
      SELECT p_partkey AS id,
        list_extract(['residential','footway','motorway','cycleway',
                      'primary','steps','service','path'],
                     CAST(p_partkey % 8 + 1 AS INTEGER)) AS highway,
        CASE WHEN p_partkey % 7 = 0 THEN 'private' END AS access,
        CASE WHEN p_partkey % 5 = 0 THEN 'designated' END AS foot,
        CASE WHEN p_partkey % 11 = 0 THEN 'designated' END AS bicycle_t,
        CAST(NULL AS VARCHAR) AS service, CAST(NULL AS VARCHAR) AS cycleway,
        CAST(NULL AS VARCHAR) AS footway, CAST(NULL AS VARCHAR) AS motor_vehicle,
        CAST(NULL AS VARCHAR) AS bus,
        CASE WHEN p_partkey % 3 = 0 THEN CAST(p_size * 10 AS INTEGER) END AS speed_raw
      FROM part)"""

  /** DuckDB replica of the LSH-ANN pipeline: the seed-deterministic
    * hyperplanes enter as DOUBLE[] literals generated from the SAME
    * [[graft.llm.Similarity.hyperplanes]] call the query uses, so
    * bucketing, the bucket join, exact rescore and per-query ranking
    * are all independently recomputed. (Double arithmetic agrees
    * bit-for-bit: both engines fold the dot product left-to-right.) */
  private def annLshOracleSql: String = {
    val planes = llm.Similarity.hyperplanes(6, 64)
    val vals = planes.zipWithIndex.map { case (p, i) =>
      s"($i, [${p.mkString(",")}]::DOUBLE[])"
    }.mkString(",\n    ")
    s"""WITH planes(pid, p) AS (VALUES
    $vals),
  b AS (
    SELECT e.vec_id,
      CAST(sum(CASE WHEN list_dot_product(CAST(e.embedding AS DOUBLE[]), pl.p) > 0
               THEN 1 << pl.pid ELSE 0 END) AS BIGINT) AS bucket
    FROM embeddings e, planes pl
    GROUP BY e.vec_id
  ),
  cb AS (SELECT b.vec_id, bucket, e.embedding
         FROM b JOIN embeddings e USING (vec_id)),
  qb AS (SELECT vec_id AS query_id, bucket, embedding AS qv
         FROM cb WHERE vec_id < 5),
  cand AS (
    SELECT qb.query_id, cb.vec_id,
      list_dot_product(CAST(cb.embedding AS DOUBLE[]), CAST(qb.qv AS DOUBLE[])) /
        (sqrt(list_dot_product(CAST(cb.embedding AS DOUBLE[]),
                               CAST(cb.embedding AS DOUBLE[]))) *
         sqrt(list_dot_product(CAST(qb.qv AS DOUBLE[]),
                               CAST(qb.qv AS DOUBLE[])))) AS cos
    FROM cb JOIN qb USING (bucket)
  ),
  ranked AS (
    SELECT query_id, vec_id, cos,
      row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rn
    FROM cand
  )
  SELECT query_id, vec_id, round(cos, 6) AS cos FROM ranked WHERE rn <= 5
  ORDER BY query_id, cos DESC, vec_id"""
  }

  /** DuckDB replica of the whole MinHash-LSH pipeline — possible only
    * because every hash is md5-derived (portable by design; see
    * [[graft.llm.Dedup.md5Hash31]]). Generated from the SAME
    * `minhashParams` the engine uses, so the two sides cannot drift. */
  /** Oracle for the streaming LSH candidate stage: same portable
    * md5 minhash family (numPerm=16, 4 bands of 4) as the operator;
    * "first doc per (band, bucket)" is min(doc_id) because the query
    * feeds batches in id order with ts monotone in id, so the emitted
    * candidate set is exactly (bucket-first, other, band). */
  private def neardupStreamOracleSql: String = {
    val ps = llm.Dedup.minhashParams(16)
    val mins = ps.zipWithIndex.map { case ((a, b), i) =>
      s"min((h*$a + $b) % 2147483647) AS m$i"
    }.mkString(",\n    ")
    val bandVals = (0 until 4).map { b =>
      val cols = (0 until 4).map(j => s"m${b * 4 + j}").mkString(",")
      s"($b, concat_ws('|',$cols))"
    }.mkString(",")
    s"""WITH sh AS (
    SELECT doc_id, substr(text, CAST(i AS INTEGER), 5) AS s
    FROM documents, LATERAL unnest(range(1, greatest(length(text)-4,1)+1)) AS t(i)
  ),
  h AS (
    SELECT doc_id, CAST(('0x' || substr(md5(s),1,8)) AS BIGINT) % 2147483647 AS h
    FROM sh
  ),
  sig AS (
    SELECT doc_id,
    $mins
    FROM h GROUP BY doc_id
  ),
  bands AS (
    SELECT doc_id, b.band, b.bh FROM sig, LATERAL (VALUES $bandVals) AS b(band, bh)
  ),
  buckets AS (
    SELECT band, bh, min(doc_id) AS id_a FROM bands GROUP BY band, bh
  )
  SELECT DISTINCT b.id_a AS id_a, x.doc_id AS id_b, x.band AS band
  FROM bands x JOIN buckets b ON x.band = b.band AND x.bh = b.bh
  WHERE x.doc_id <> b.id_a
  ORDER BY 1, 2, 3"""
  }

  private def minhashOracleSql: String = {
    val ps = llm.Dedup.minhashParams(32)
    val mins = ps.zipWithIndex.map { case ((a, b), i) =>
      s"min((h*$a + $b) % 2147483647) AS m$i"
    }.mkString(",\n    ")
    val bandVals = (0 until 4).map { b =>
      val cols = (0 until 8).map(j => s"m${b * 8 + j}").mkString(",")
      s"($b, concat_ws('|',$cols))"
    }.mkString(",")
    s"""WITH sh AS (
    SELECT doc_id, substr(text, CAST(i AS INTEGER), 5) AS s
    FROM documents, LATERAL unnest(range(1, greatest(length(text)-4,1)+1)) AS t(i)
  ),
  h AS (
    SELECT doc_id, CAST(('0x' || substr(md5(s),1,8)) AS BIGINT) % 2147483647 AS h
    FROM sh
  ),
  sig AS (
    SELECT doc_id,
    $mins
    FROM h GROUP BY doc_id
  ),
  bands AS (
    SELECT doc_id, b.band, b.bh FROM sig, LATERAL (VALUES $bandVals) AS b(band, bh)
  ),
  cand AS (
    SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
    FROM bands a JOIN bands c ON a.band = c.band AND a.bh = c.bh AND a.doc_id < c.doc_id
  ),
  sets AS (
    SELECT doc_id, list_distinct(list(s)) AS st FROM sh GROUP BY doc_id
  ),
  verified AS (
    SELECT id_a, id_b,
      CAST(len(list_intersect(sa.st, sb.st)) AS DOUBLE) /
        len(list_distinct(list_concat(sa.st, sb.st))) AS j
    FROM cand JOIN sets sa ON cand.id_a = sa.doc_id
              JOIN sets sb ON cand.id_b = sb.doc_id
  )
  SELECT id_a, id_b, round(j, 4) AS jaccard FROM verified
  WHERE j >= 0.4 ORDER BY id_a, id_b"""
  }

  /** Shared CTE chain for the routing oracles: rebuilt merged graph
    * (graphPrefix) + node coords + per-edge haversine cm lengths +
    * strict directed expansion + hop-bounded SSSP recursion `r`. */
  private val oracleRouteCore: String = """,
         coords(node_id, lon, lat) AS (VALUES
           (1,0.00,0.0),(2,0.01,0.0),(3,0.02,0.0),(4,0.03,0.0),
           (5,0.02,-0.01),(6,0.02,0.01),(7,0.10,0.0),(8,0.12,0.0),
           (9,0.20,0.0),(10,0.22,0.0),(12,0.31,0.0)),
         segsrc AS (
           SELECT way_id AS edge_id, group_id, sequence_id, node_id FROM ntm
           UNION ALL
           SELECT way_id, -1, sequence_id, node_id FROM way_nodes
           WHERE way_id NOT IN (SELECT DISTINCT way_id FROM ntm)),
         segpts AS (
           SELECT s.edge_id, s.group_id, s.sequence_id,
                  CAST(c.lon AS DOUBLE) AS lon, CAST(c.lat AS DOUBLE) AS lat,
                  lead(CAST(c.lon AS DOUBLE)) OVER w AS lon2,
                  lead(CAST(c.lat AS DOUBLE)) OVER w AS lat2
           FROM segsrc s JOIN coords c ON c.node_id = s.node_id
           WINDOW w AS (PARTITION BY s.edge_id, s.group_id ORDER BY s.sequence_id)),
         elen AS (
           SELECT edge_id, group_id,
                  CAST(round(sum(2 * 6371008.8 * asin(sqrt(
                    sin(radians(lat2 - lat)/2)^2 +
                    cos(radians(lat)) * cos(radians(lat2)) *
                      sin(radians(lon2 - lon)/2)^2))) * 100) AS BIGINT) AS w
           FROM segpts WHERE lon2 IS NOT NULL GROUP BY edge_id, group_id),
         attrs(way_id, highway, oneway) AS (VALUES
           (101,'residential',CAST(NULL AS VARCHAR)),(102,'tertiary',CAST(NULL AS VARCHAR)),
           (103,'primary','yes'),(104,'motorway','-1'),
           (106,'motorway',CAST(NULL AS VARCHAR)),(109,'tertiary',CAST(NULL AS VARCHAR))),
         m4 AS (SELECT m.start_node, m.end_node, l.w, a.highway, a.oneway
                FROM merged m
                JOIN elen l ON m.edge_id = l.edge_id AND m.group_id = l.group_id
                JOIN attrs a ON m.edge_id = a.way_id),
         dedges AS (
           SELECT start_node AS src, end_node AS dst, w FROM m4
            WHERE (oneway IS NULL OR oneway = 'no') AND highway != 'motorway'
           UNION ALL
           SELECT end_node, start_node, w FROM m4
            WHERE (oneway IS NULL OR oneway = 'no') AND highway != 'motorway'
           UNION ALL
           SELECT start_node, end_node, w FROM m4
            WHERE oneway = 'yes' OR (highway = 'motorway' AND oneway != '-1')
           UNION ALL
           SELECT end_node, start_node, w FROM m4 WHERE oneway = '-1'),
         r(node, dist, hops) AS (
           SELECT 1, CAST(0 AS BIGINT), 0
           UNION ALL
           SELECT e.dst, r.dist + e.w, r.hops + 1
           FROM r JOIN dedges e ON e.src = r.node WHERE r.hops < 8)"""

  /** [[oracleRouteCore]] with the way-derived edge id carried through
    * `m4`/`dedges` (for the pgRouting-shaped per-edge row oracles) and
    * without the trailing distance recursion — callers append their
    * own path enumeration. */
  private val oracleRouteIdCore: String = """,
         coords(node_id, lon, lat) AS (VALUES
           (1,0.00,0.0),(2,0.01,0.0),(3,0.02,0.0),(4,0.03,0.0),
           (5,0.02,-0.01),(6,0.02,0.01),(7,0.10,0.0),(8,0.12,0.0),
           (9,0.20,0.0),(10,0.22,0.0),(12,0.31,0.0)),
         segsrc AS (
           SELECT way_id AS edge_id, group_id, sequence_id, node_id FROM ntm
           UNION ALL
           SELECT way_id, -1, sequence_id, node_id FROM way_nodes
           WHERE way_id NOT IN (SELECT DISTINCT way_id FROM ntm)),
         segpts AS (
           SELECT s.edge_id, s.group_id, s.sequence_id,
                  CAST(c.lon AS DOUBLE) AS lon, CAST(c.lat AS DOUBLE) AS lat,
                  lead(CAST(c.lon AS DOUBLE)) OVER w AS lon2,
                  lead(CAST(c.lat AS DOUBLE)) OVER w AS lat2
           FROM segsrc s JOIN coords c ON c.node_id = s.node_id
           WINDOW w AS (PARTITION BY s.edge_id, s.group_id ORDER BY s.sequence_id)),
         elen AS (
           SELECT edge_id, group_id,
                  CAST(round(sum(2 * 6371008.8 * asin(sqrt(
                    sin(radians(lat2 - lat)/2)^2 +
                    cos(radians(lat)) * cos(radians(lat2)) *
                      sin(radians(lon2 - lon)/2)^2))) * 100) AS BIGINT) AS w
           FROM segpts WHERE lon2 IS NOT NULL GROUP BY edge_id, group_id),
         attrs(way_id, highway, oneway) AS (VALUES
           (101,'residential',CAST(NULL AS VARCHAR)),(102,'tertiary',CAST(NULL AS VARCHAR)),
           (103,'primary','yes'),(104,'motorway','-1'),
           (106,'motorway',CAST(NULL AS VARCHAR)),(109,'tertiary',CAST(NULL AS VARCHAR))),
         m4 AS (SELECT m.start_node, m.end_node, l.w,
                       CAST(a.way_id AS BIGINT) AS eid, a.highway, a.oneway
                FROM merged m
                JOIN elen l ON m.edge_id = l.edge_id AND m.group_id = l.group_id
                JOIN attrs a ON m.edge_id = a.way_id),
         dedges AS (
           SELECT start_node AS src, end_node AS dst, w, eid FROM m4
            WHERE (oneway IS NULL OR oneway = 'no') AND highway != 'motorway'
           UNION ALL
           SELECT end_node, start_node, w, eid FROM m4
            WHERE (oneway IS NULL OR oneway = 'no') AND highway != 'motorway'
           UNION ALL
           SELECT start_node, end_node, w, eid FROM m4
            WHERE oneway = 'yes' OR (highway = 'motorway' AND oneway != '-1')
           UNION ALL
           SELECT end_node, start_node, w, eid FROM m4 WHERE oneway = '-1')"""

  /** PageRank oracle: the same strict directed edge set (shared routing
    * core), iterations UNROLLED as generated CTEs p0..p20 — recursive
    * CTEs can't aggregate over their own recursive reference, so the
    * fixed iteration count becomes a fixed CTE chain. Semantics mirror
    * GraphCheck.pageRank exactly (dangling mass leaks; teleport
    * 0.15/n), and 8-place rounding on both sides absorbs float-sum
    * order drift. */
  private def pagerankOracleSql: String = {
    val iters = 20
    // MATERIALIZED throughout: DuckDB inlines plain CTEs, so without it
    // each p_k re-inlines dedges AND its whole merged-network upstream —
    // 20 nested copies of the recursive graph build took >30 min of
    // optimizer+execution time and single-handedly stalled the full
    // correctness sweep; materialized, the chain is 20 tiny joins (<1 s)
    val chain = (1 to iters).map { k =>
      s"""         p$k AS MATERIALIZED (
           SELECT nd.node, 0.15 / nn.n + 0.85 * COALESCE(s.c, 0) AS rank
           FROM pgnodes nd CROSS JOIN nn
           LEFT JOIN (
             SELECT e.dst AS node, sum(p${k - 1}.rank / od.deg) AS c
             FROM dm e JOIN p${k - 1} ON e.src = p${k - 1}.node
                       JOIN od ON od.node = e.src
             GROUP BY e.dst) s ON s.node = nd.node)"""
    }.mkString(",\n")
    OsmOracle.graphPrefix.replaceFirst("WITH", "WITH RECURSIVE") +
      oracleRouteCore + s""",
         dm AS MATERIALIZED (SELECT src, dst FROM dedges),
         pgnodes AS MATERIALIZED (
           -- GROUP BY, not UNION: under WITH RECURSIVE DuckDB 1.0 does
           -- NOT dedup UNION branches of non-recursive CTEs, and a
           -- duplicated node universe compounds the rank sums each
           -- iteration (ranks in the thousands by p20)
           SELECT node FROM (SELECT src AS node FROM dm
                             UNION ALL SELECT dst FROM dm)
           GROUP BY node),
         nn AS MATERIALIZED (
           SELECT CAST(count(*) AS DOUBLE) AS n FROM pgnodes),
         od AS MATERIALIZED (
           SELECT src AS node, CAST(count(*) AS DOUBLE) AS deg
           FROM dm GROUP BY src),
         p0 AS MATERIALIZED (
           SELECT node, 1.0 / nn.n AS rank FROM pgnodes CROSS JOIN nn),
$chain
         SELECT CAST(node AS BIGINT) AS node_id, round(rank, 8) AS rank
         FROM p$iters ORDER BY node_id"""
  }

  /** The logistic quality model replayed end-to-end: hashed 1..2-gram
    * tf features with the portable md5 bucket, `iters` batch-GD rounds
    * as a MATERIALIZED chain (w ← w − Xᵀ(σ(Xw) − y)/n, intercept on
    * reserved bucket −1), then scoring — doubles throughout, round(5)
    * at the end (the pagerankOracleSql numeric policy; exp() agrees to
    * ulps across engines, far inside the rounding). */
  private def qualityModelOracleSql(iters: Int, lr: Double = 8.0): String = {
    val chain = (1 to iters).map { k =>
      s"""         s$k AS MATERIALIZED (
           SELECT f.doc_id, sum(f.x * COALESCE(w.w, 0)) AS s
           FROM fx f LEFT JOIN w${k - 1} w USING (bucket)
           GROUP BY f.doc_id),
         e$k AS MATERIALIZED (
           SELECT s$k.doc_id, 1.0 / (1.0 + exp(-s$k.s)) - yy.y AS e
           FROM s$k JOIN yy USING (doc_id)),
         g$k AS MATERIALIZED (
           SELECT f.bucket, sum(f.x * e$k.e) / nn.n AS g
           FROM fx f JOIN e$k USING (doc_id), nn
           GROUP BY f.bucket, nn.n),
         w$k AS MATERIALIZED (
           SELECT w.bucket, w.w - $lr * COALESCE(g$k.g, 0) AS w
           FROM w${k - 1} w LEFT JOIN g$k USING (bucket))"""
    }.mkString(",\n")
    s"""WITH toks AS (
           SELECT doc_id, string_split_regex(text, '\\s+') AS t
           FROM documents),
         grams AS (
           SELECT doc_id, unnest(t) AS g FROM toks
           UNION ALL
           SELECT doc_id, t[i] || ' ' || t[i + 1] AS g
           FROM toks, unnest(generate_series(1, len(t) - 1)) u(i)),
         fc AS (
           SELECT DISTINCT doc_id,
                  (CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT)
                    % 2147483647) % 1024 AS bucket
           FROM grams),
         fx AS MATERIALIZED (
           SELECT doc_id, bucket, 1.0 AS x FROM fc
           UNION ALL
           SELECT doc_id, CAST(-1 AS BIGINT), 1.0 FROM documents),
         yy AS MATERIALIZED (
           SELECT doc_id,
                  CASE WHEN list_contains(
                    string_split_regex(text, '\\s+'), 'spark')
                  THEN 1.0 ELSE 0.0 END AS y
           FROM documents),
         nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM yy),
         w0 AS MATERIALIZED (
           SELECT DISTINCT bucket, 0.0 AS w FROM fx),
$chain,
         score AS (
           SELECT f.doc_id,
                  1.0 / (1.0 + exp(-sum(f.x * COALESCE(w.w, 0)))) AS p
           FROM fx f LEFT JOIN w$iters w USING (bucket)
           GROUP BY f.doc_id)
         SELECT CAST(doc_id AS BIGINT) AS doc_id,
                round(p, 5) AS p_pos, round(p, 5) > 0.5 AS pred_pos
         FROM score ORDER BY doc_id"""
  }

  /** Personalized PageRank replayed round-for-round: the
    * pagerankOracleSql chain with teleport mass and the initial rank
    * concentrated on the seed set. */
  private def pprOracleSql(seeds: Seq[Long], iters: Int): String = {
    val inList = seeds.mkString(", ")
    val share = s"0.15 / ${seeds.size}.0"
    val init = s"1.0 / ${seeds.size}.0"
    val chain = (1 to iters).map { k =>
      s"""         p$k AS MATERIALIZED (
           SELECT nd.node,
                  CASE WHEN nd.node IN ($inList) THEN $share
                       ELSE 0.0 END + 0.85 * COALESCE(s.c, 0) AS rank
           FROM pgnodes nd
           LEFT JOIN (
             SELECT e.dst AS node, sum(p${k - 1}.rank / od.deg) AS c
             FROM dm e JOIN p${k - 1} ON e.src = p${k - 1}.node
                       JOIN od ON od.node = e.src
             GROUP BY e.dst) s ON s.node = nd.node)"""
    }.mkString(",\n")
    OsmOracle.graphPrefix.replaceFirst("WITH", "WITH RECURSIVE") +
      oracleRouteCore + s""",
         dm AS MATERIALIZED (SELECT src, dst FROM dedges),
         pgnodes AS MATERIALIZED (
           SELECT node FROM (SELECT src AS node FROM dm
                             UNION ALL SELECT dst FROM dm)
           GROUP BY node),
         od AS MATERIALIZED (
           SELECT src AS node, CAST(count(*) AS DOUBLE) AS deg
           FROM dm GROUP BY src),
         p0 AS MATERIALIZED (
           SELECT node,
                  CASE WHEN node IN ($inList) THEN $init
                       ELSE 0.0 END AS rank
           FROM pgnodes),
$chain
         SELECT CAST(node AS BIGINT) AS node_id, round(rank, 8) AS rank
         FROM p$iters ORDER BY node_id"""
  }

  /** HITS replayed round-for-round (the pagerankOracleSql policy:
    * fixed MATERIALIZED chain, doubles, consumer round(6)): per round
    * an authority pass (sum of inbound hub, sum-normalized) then a hub
    * pass (sum of outbound authority, sum-normalized). */
  private def hitsOracleSql(iters: Int): String = {
    val chain = (1 to iters).map { k =>
      s"""         ar$k AS MATERIALIZED (
           SELECT e.dst AS node, sum(h${k - 1}.hub) AS a
           FROM dm e JOIN h${k - 1} ON e.src = h${k - 1}.node
           GROUP BY e.dst),
         sa$k AS MATERIALIZED (SELECT sum(a) AS s FROM ar$k),
         a$k AS MATERIALIZED (
           SELECT nd.node,
                  CASE WHEN s.s > 0 THEN COALESCE(ar.a, 0) / s.s
                       ELSE 0 END AS auth
           FROM hnodes nd CROSS JOIN sa$k s
           LEFT JOIN ar$k ar ON ar.node = nd.node),
         hr$k AS MATERIALIZED (
           SELECT e.src AS node, sum(a$k.auth) AS h
           FROM dm e JOIN a$k ON e.dst = a$k.node
           GROUP BY e.src),
         sh$k AS MATERIALIZED (SELECT sum(h) AS s FROM hr$k),
         h$k AS MATERIALIZED (
           SELECT nd.node,
                  CASE WHEN s.s > 0 THEN COALESCE(hr.h, 0) / s.s
                       ELSE 0 END AS hub
           FROM hnodes nd CROSS JOIN sh$k s
           LEFT JOIN hr$k hr ON hr.node = nd.node)"""
    }.mkString(",\n")
    OsmOracle.graphPrefix.replaceFirst("WITH", "WITH RECURSIVE") +
      oracleRouteCore + s""",
         dm AS MATERIALIZED (SELECT src, dst FROM dedges),
         hnodes AS MATERIALIZED (
           SELECT node FROM (SELECT src AS node FROM dm
                             UNION ALL SELECT dst FROM dm)
           GROUP BY node),
         hn AS MATERIALIZED (
           SELECT CAST(count(*) AS DOUBLE) AS n FROM hnodes),
         h0 AS MATERIALIZED (
           SELECT node, 1.0 / hn.n AS hub FROM hnodes CROSS JOIN hn),
$chain
         SELECT CAST(h.node AS BIGINT) AS node_id,
                round(h.hub, 6) AS hub, round(a.auth, 6) AS authority
         FROM h$iters h JOIN a$iters a ON a.node = h.node
         ORDER BY node_id"""
  }

  /** Synchronous LPA replayed round-for-round: fixed iteration count →
    * fixed MATERIALIZED CTE chain (the pagerankOracleSql policy), the
    * per-node argmax as row_number over (count DESC, label) — exactly
    * the engine's (−count, label) struct-min tie order. */
  /** Shared LPA round chain (graphPrefix + lsym + l0..l{rounds}) — the
    * WITH-prefix only, so modularity / refinement oracles can extend
    * the same labeling instead of re-deriving it. */
  private def lpaChainSql(rounds: Int): String = {
    val chain = (1 to rounds).map { k =>
      s"""         l$k AS MATERIALIZED (
           SELECT a AS node_id, label FROM (
             SELECT s.a, l.label,
                    row_number() OVER (PARTITION BY s.a
                      ORDER BY count(*) DESC, l.label) AS rn
             FROM lsym s JOIN l${k - 1} l ON s.b = l.node_id
             GROUP BY s.a, l.label)
           WHERE rn = 1)"""
    }.mkString(",\n")
    OsmOracle.graphPrefix + s""",
         lsym AS MATERIALIZED (
           SELECT start_node AS a, end_node AS b FROM merged
           WHERE start_node <> end_node
           UNION
           SELECT end_node, start_node FROM merged
           WHERE start_node <> end_node),
         l0 AS MATERIALIZED (
           SELECT DISTINCT a AS node_id, a AS label FROM lsym),
$chain"""
  }

  private def lpaOracleSql(rounds: Int): String =
    lpaChainSql(rounds) + s"""
         SELECT CAST(node_id AS BIGINT) AS node_id,
                CAST(label AS BIGINT) AS community
         FROM l$rounds ORDER BY node_id"""

  /** Newman modularity of the LPA labeling, exact integer sums (DuckDB
    * BIGINT sums land in HUGEINT — exact), double only in the final
    * ratio — mirrors GraphCheck.modularity's DECIMAL(38,0) contract. */
  private def modularityOracleSql(rounds: Int): String =
    lpaChainSql(rounds) + s""",
         mund AS MATERIALIZED (
           SELECT DISTINCT least(start_node, end_node) AS a,
                  greatest(start_node, end_node) AS b
           FROM merged WHERE start_node <> end_node),
         mdeg AS (
           SELECT node, count(*) AS d FROM (
             SELECT a AS node FROM mund
             UNION ALL SELECT b AS node FROM mund)
           GROUP BY node),
         mlc AS (
           SELECT la.label, count(*) AS lc
           FROM mund
           JOIN l$rounds la ON mund.a = la.node_id
           JOIN l$rounds lb ON mund.b = lb.node_id
           WHERE la.label = lb.label GROUP BY la.label),
         mdc AS (
           SELECT la.label, sum(mdeg.d) AS dcs
           FROM mdeg JOIN l$rounds la ON mdeg.node = la.node_id
           GROUP BY la.label),
         mm AS (SELECT count(*) AS m FROM mund)
         SELECT CAST(mm.m AS BIGINT) AS m_edges,
                CAST(count(*) AS BIGINT) AS n_communities,
                round(CAST(sum(4 * mm.m * coalesce(mlc.lc, 0)
                               - mdc.dcs * mdc.dcs) AS DOUBLE)
                      / (4.0 * mm.m * mm.m), 6) AS modularity
         FROM mdc LEFT JOIN mlc ON mlc.label = mdc.label, mm
         GROUP BY mm.m"""

  /** `refineRounds` chained synchronous exact-integer local-move
    * rounds over the LPA labeling — mirrors
    * GraphCheck.refineCommunities[Rounds]: per round, argmax of
    * 2m·w − d·D_c (ties to smallest c), move iff
    * 2m·(w_new − w_old) > d·(D_new − D_old + d), all in HUGEINT,
    * recomputing w/D from the previous round's labels. The chain form
    * ends at the `ref{refineRounds}` CTE so louvainOracleSql can keep
    * building on it. */
  private def refineChainSql(lpaRounds: Int, refineRounds: Int): String = {
    val steps = (1 to refineRounds).map { k =>
      val in = if (k == 1) s"l$lpaRounds" else s"ref${k - 1}"
      s""",
         rdc$k AS (
           SELECT la.label, sum(rdeg.d) AS dcs
           FROM rdeg JOIN $in la ON rdeg.node_id = la.node_id
           GROUP BY la.label),
         rw$k AS (
           SELECT r.a AS node_id, lb.label AS c, count(*) AS w
           FROM rsym r JOIN $in lb ON r.b = lb.node_id
           GROUP BY r.a, lb.label),
         scored$k AS (
           SELECT rw$k.node_id, rw$k.c, rw$k.w, rdc$k.dcs,
                  la.label AS cur, rdeg.d
           FROM rw$k
           JOIN rdc$k ON rdc$k.label = rw$k.c
           JOIN $in la ON la.node_id = rw$k.node_id
           JOIN rdeg ON rdeg.node_id = rw$k.node_id),
         best$k AS (
           SELECT node_id, c, w, dcs FROM (
             SELECT s.node_id, s.c, s.w, s.dcs,
                    row_number() OVER (PARTITION BY s.node_id
                      ORDER BY (CAST(m2.m2 AS HUGEINT) * s.w
                                - CAST(s.d AS HUGEINT) * s.dcs) DESC,
                               s.c) AS rn
             FROM scored$k s, m2 WHERE s.c <> s.cur)
           WHERE rn = 1),
         own$k AS (
           SELECT node_id, w AS wold FROM scored$k WHERE c = cur),
         ref$k AS MATERIALIZED (
           SELECT la.node_id,
                  CASE WHEN best$k.node_id IS NOT NULL
                         AND CAST(m2.m2 AS HUGEINT)
                               * (best$k.w - coalesce(own$k.wold, 0))
                             > CAST(rdeg.d AS HUGEINT)
                               * (best$k.dcs - dcur.dcs + rdeg.d)
                       THEN best$k.c ELSE la.label END AS label
           FROM $in la
           JOIN rdeg ON rdeg.node_id = la.node_id
           JOIN rdc$k dcur ON dcur.label = la.label
           LEFT JOIN best$k ON best$k.node_id = la.node_id
           LEFT JOIN own$k ON own$k.node_id = la.node_id, m2)"""
    }.mkString
    lpaChainSql(lpaRounds) + mundSql + s""",
         rsym AS MATERIALIZED (
           SELECT a, b FROM mund UNION ALL SELECT b, a FROM mund),
         rdeg AS MATERIALIZED (
           SELECT a AS node_id, count(*) AS d FROM rsym GROUP BY a),
         m2 AS (SELECT 2 * count(*) AS m2 FROM mund)""" + steps
  }

  private def refineOracleSql(lpaRounds: Int, refineRounds: Int): String =
    refineChainSql(lpaRounds, refineRounds) + s"""
         SELECT CAST(node_id AS BIGINT) AS node_id,
                CAST(label AS BIGINT) AS community
         FROM ref$refineRounds
         ORDER BY node_id"""

  /** Canonical simple undirected edge set of the micro graph. */
  private val mundSql = """,
         mund AS MATERIALIZED (
           SELECT DISTINCT least(start_node, end_node) AS a,
                  greatest(start_node, end_node) AS b
           FROM merged WHERE start_node <> end_node)"""

  /** Louvain phase-2 coarsening of `labelCte`'s communities: super-node
    * graph with internal edges on the diagonal — mirrors
    * GraphCheck.coarsenGraph. */
  private def coarseChainSql(labelCte: String): String = s""",
         coarse AS MATERIALIZED (
           SELECT least(la.label, lb.label) AS a,
                  greatest(la.label, lb.label) AS b, count(*) AS w
           FROM mund
           JOIN $labelCte la ON mund.a = la.node_id
           JOIN $labelCte lb ON mund.b = lb.node_id
           GROUP BY least(la.label, lb.label),
                    greatest(la.label, lb.label))"""

  private def coarsenOracleSql(lpaRounds: Int): String =
    lpaChainSql(lpaRounds) + mundSql + coarseChainSql(s"l$lpaRounds") + """
         SELECT CAST(a AS BIGINT) AS community_a,
                CAST(b AS BIGINT) AS community_b,
                CAST(w AS BIGINT) AS w
         FROM coarse ORDER BY community_a, community_b"""

  /** Weighted modularity of the coarse graph under identity labels —
    * Win_c is the diagonal, S_c the super-node strength; exact HUGEINT
    * numerator, one double ratio (the GraphCheck.modularityWeighted
    * contract). Must equal q_osm_modularity's Q bit-for-bit. */
  private def modularity2OracleSql(lpaRounds: Int): String =
    lpaChainSql(lpaRounds) + mundSql + coarseChainSql(s"l$lpaRounds") + """,
         cdeg AS MATERIALIZED (
           SELECT node_id, sum(s) AS d FROM (
             SELECT a AS node_id, w AS s FROM coarse WHERE a <> b
             UNION ALL SELECT b, w FROM coarse WHERE a <> b
             UNION ALL SELECT a, 2 * w FROM coarse WHERE a = b) t
           GROUP BY node_id),
         cw AS (SELECT sum(w) AS m FROM coarse)
         SELECT CAST(cw.m AS BIGINT) AS w_total,
                CAST(count(*) AS BIGINT) AS n_communities,
                round(CAST(sum(4 * cw.m * coalesce(sl.w, 0)
                               - cdeg.d * cdeg.d) AS DOUBLE)
                      / (4.0 * cw.m * cw.m), 6) AS modularity
         FROM cdeg LEFT JOIN (SELECT a, w FROM coarse WHERE a = b) sl
           ON sl.a = cdeg.node_id, cw
         GROUP BY cw.m"""

  /** Two-level Louvain replayed move-for-move: the refine chain's
    * ref{l1} labels, coarsened; then `l2Rounds` weighted synchronous
    * sweeps over the community graph, round k gated to super-nodes
    * with id % 2 == k % 2 (the parity alternation that breaks the
    * two-community synchronous swap); labels projected back. All
    * arithmetic HUGEINT — mirrors GraphCheck.louvainTwoLevel. */
  private def louvainOracleSql(lpaRounds: Int, l1Rounds: Int,
      l2Rounds: Int): String = {
    val steps = (1 to l2Rounds).map { k =>
      val in = if (k == 1) "c0" else s"cref${k - 1}"
      val p = k % 2
      s""",
         wdc$k AS (
           SELECT la.label, sum(cdeg.d) AS dcs
           FROM cdeg JOIN $in la ON cdeg.node_id = la.node_id
           GROUP BY la.label),
         ww$k AS (
           SELECT r.a AS node_id, lb.label AS c, sum(r.w) AS w
           FROM csym r JOIN $in lb ON r.b = lb.node_id
           GROUP BY r.a, lb.label),
         wsc$k AS (
           SELECT ww$k.node_id, ww$k.c, ww$k.w, wdc$k.dcs,
                  la.label AS cur, cdeg.d
           FROM ww$k
           JOIN wdc$k ON wdc$k.label = ww$k.c
           JOIN $in la ON la.node_id = ww$k.node_id
           JOIN cdeg ON cdeg.node_id = ww$k.node_id),
         wbest$k AS (
           -- gated rounds admit DOWN candidates only (c < cur): the
           -- engine's swap-proof move rule
           SELECT node_id, c, w, dcs FROM (
             SELECT s.node_id, s.c, s.w, s.dcs,
                    row_number() OVER (PARTITION BY s.node_id
                      ORDER BY (CAST(cm2.m2 AS HUGEINT) * s.w
                                - CAST(s.d AS HUGEINT) * s.dcs) DESC,
                               s.c) AS rn
             FROM wsc$k s, cm2 WHERE s.c < s.cur)
           WHERE rn = 1),
         wown$k AS (
           SELECT node_id, w AS wold FROM wsc$k WHERE c = cur),
         cref$k AS MATERIALIZED (
           SELECT la.node_id,
                  CASE WHEN la.node_id % 2 = $p
                         AND wbest$k.node_id IS NOT NULL
                         AND CAST(cm2.m2 AS HUGEINT)
                               * (wbest$k.w - coalesce(wown$k.wold, 0))
                             > CAST(cdeg.d AS HUGEINT)
                               * (wbest$k.dcs - dcur.dcs + cdeg.d)
                       THEN wbest$k.c ELSE la.label END AS label
           FROM $in la
           JOIN cdeg ON cdeg.node_id = la.node_id
           JOIN wdc$k dcur ON dcur.label = la.label
           LEFT JOIN wbest$k ON wbest$k.node_id = la.node_id
           LEFT JOIN wown$k ON wown$k.node_id = la.node_id, cm2)"""
    }.mkString
    refineChainSql(lpaRounds, l1Rounds) +
      coarseChainSql(s"ref$l1Rounds") + s""",
         csym AS MATERIALIZED (
           SELECT a, b, w FROM coarse WHERE a <> b
           UNION ALL SELECT b, a, w FROM coarse WHERE a <> b),
         cdeg AS MATERIALIZED (
           SELECT node_id, sum(s) AS d FROM (
             SELECT a AS node_id, w AS s FROM csym
             UNION ALL
             SELECT a, 2 * w FROM coarse WHERE a = b) t
           GROUP BY node_id),
         cm2 AS (SELECT 2 * sum(w) AS m2 FROM coarse),
         c0 AS MATERIALIZED (
           SELECT DISTINCT label AS node_id, label FROM ref$l1Rounds)""" +
      steps + s"""
         SELECT CAST(la.node_id AS BIGINT) AS node_id,
                CAST(cf.label AS BIGINT) AS community
         FROM ref$l1Rounds la
         JOIN cref$l2Rounds cf ON la.label = cf.node_id
         ORDER BY la.node_id"""
  }

  /** H-index coreness replayed round-for-round: fixed rounds →
    * MATERIALIZED CTE chain; H = max rank r (neighbors sorted by value
    * desc) with value ≥ r — tie order inside equal values cannot change
    * H, so row_number is safe on both engines. */
  private def corenessOracleSql(rounds: Int): String = {
    val chain = (1 to rounds).map { k =>
      s"""         h$k AS MATERIALIZED (
           SELECT a AS node_id,
                  coalesce(max(CASE WHEN value >= rn THEN rn END), 0) AS value
           FROM (
             SELECT s.a, v.value,
                    CAST(row_number() OVER (PARTITION BY s.a
                      ORDER BY v.value DESC) AS BIGINT) AS rn
             FROM csym s JOIN h${k - 1} v ON s.b = v.node_id)
           GROUP BY a)"""
    }.mkString(",\n")
    s"""WITH und AS (
           SELECT DISTINCT least(l_partkey % 200, l_suppkey % 200) AS a,
                  greatest(l_partkey % 200, l_suppkey % 200) AS b
           FROM lineitem
           WHERE l_partkey % 200 <> l_suppkey % 200),
         csym AS MATERIALIZED (
           SELECT a, b FROM und UNION SELECT b, a FROM und),
         h0 AS MATERIALIZED (
           SELECT a AS node_id, CAST(count(*) AS BIGINT) AS value
           FROM csym GROUP BY a),
$chain
         SELECT CAST(node_id AS BIGINT) AS node_id,
                CAST(value AS BIGINT) AS coreness
         FROM h$rounds ORDER BY node_id"""
  }

  /** Same candidate CTEs, verified by DuckDB's own levenshtein instead
    * of Jaccard — an independent edit-distance implementation agreeing
    * with Spark's on every surviving pair. */
  private def editDistOracleSql: String = {
    val base = minhashOracleSql
    val prefix = base.substring(0, base.lastIndexOf("  sets AS ("))
    prefix + """  ed AS (
    SELECT id_a, id_b, CAST(levenshtein(da.text, db.text) AS BIGINT) AS edit_dist
    FROM cand JOIN documents da ON cand.id_a = da.doc_id
              JOIN documents db ON cand.id_b = db.doc_id)
  SELECT id_a, id_b, edit_dist FROM ed
  WHERE edit_dist <= 50 ORDER BY id_a, id_b"""
  }

  /** Same pipeline CTEs, continued into cluster dedup: pairs ->
    * recursive-CTE components -> drop non-canonical members. */
  private def neardupKeepOracleSql: String = {
    val base = minhashOracleSql
    val prefix = base.substring(0, base.lastIndexOf("  SELECT id_a"))
    prefix.replaceFirst("WITH sh AS", "WITH RECURSIVE sh AS") + """,
  pairs AS (SELECT id_a, id_b FROM verified WHERE j >= 0.4),
  sym AS (SELECT id_a AS a, id_b AS b FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
  reach(n, l) AS (
    SELECT a, a FROM (SELECT DISTINCT a FROM sym)
    UNION
    SELECT s.a, r.l FROM sym s JOIN reach r ON s.b = r.n),
  comp AS (SELECT n AS doc_id, min(l) AS root FROM reach GROUP BY n),
  dropped AS (SELECT doc_id FROM comp WHERE doc_id <> root)
  SELECT lang, count(*) AS kept FROM documents
  WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
  GROUP BY lang ORDER BY lang"""
  }

  /** DuckDB replica of the SimHash pipeline (60-bit portable md5 token
    * hash; bit j of a doc's simhash = majority vote over its tokens).
    * Candidate generation here uses the simple single-chunk pigeonhole
    * (maxDist+1 chunks, any one shared); the engine uses composite
    * 2-of-(maxDist+2) chunk keys. Both are recall-exact for Hamming <=
    * maxDist and both verify with exact Hamming, so the OUTPUT set is
    * identical — the oracle deliberately keeps the simpler scheme. */
  private def simhashOracleSql: String = {
    val bits = llm.Dedup.SimhashBits
    val numChunks = 7 // single-chunk pigeonhole: maxDist 6 + 1
    val bounds = (0 to numChunks).map(i => i * bits / numChunks)
    val chunkVals = (0 until numChunks).map { i =>
      val lo = bounds(i); val mask = (1L << (bounds(i + 1) - lo)) - 1L
      s"($i, $lo, $mask)"
    }.mkString(",")
    s"""WITH tok AS (
    SELECT doc_id, CAST(('0x' || substr(md5(t),1,15)) AS BIGINT) AS h
    FROM (SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS t FROM documents)
  ),
  bits AS (
    SELECT doc_id, j,
      CASE WHEN 2 * count(*) FILTER (WHERE (h >> CAST(j AS INTEGER)) & 1 = 1) > count(*)
           THEN CAST(1 AS BIGINT) << CAST(j AS INTEGER) ELSE 0 END AS bitval
    FROM tok, LATERAL unnest(range(0, $bits)) AS tt(j)
    GROUP BY doc_id, j
  ),
  sig AS (SELECT doc_id, sum(bitval) AS simhash FROM bits GROUP BY doc_id),
  chunks AS (
    SELECT doc_id, simhash, c.i AS chunk_idx, (simhash >> c.lo) & c.mask AS chunk
    FROM sig, LATERAL (VALUES $chunkVals) AS c(i, lo, mask)
  ),
  pairs AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
      CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
    FROM chunks a JOIN chunks b
      ON a.chunk_idx = b.chunk_idx AND a.chunk = b.chunk AND a.doc_id < b.doc_id
  )
  SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 6 ORDER BY id_a, id_b"""
  }

  /** Unrolled BPE-training replay (the q_osm_pagerank unrolled-CTE
    * policy): stage i counts every adjacent symbol pair of enc_i
    * (overlapping included) weighted by word count, picks the (count
    * DESC, l, r) winner, and rewrites enc_{i+1} by non-overlapping
    * left-to-right string replace over `<sym><sym>`-fenced words —
    * fencing makes symbol boundaries unambiguous, so `replace` is
    * exactly the engine's greedy merge pass. MATERIALIZED throughout
    * (plain CTEs re-inline the whole chain into every stage). */
  private def bpeCtePrefix(nMerges: Int): String =
    bpeCteWith(nMerges, head = """
  words AS MATERIALIZED (
    SELECT word, count(*) AS cnt FROM (
      SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
      FROM documents) GROUP BY word),
  enc0 AS MATERIALIZED (
    SELECT word, cnt,
      '<' || array_to_string(regexp_extract_all(word, '.'), '><') || '>' AS enc
    FROM words)""")

  /** Byte-level variant: pre-tokens from the SAME regex the engine
    * uses (no lookahead — RE2), symbols = UTF-8 bytes as 2-hex-digit
    * strings via hex(encode(word)); the merge stages are shared. */
  private def bpeByteCtePrefix(nMerges: Int): String =
    bpeCteWith(nMerges, head = """
  words AS MATERIALIZED (
    SELECT word, count(*) AS cnt FROM (
      SELECT unnest(regexp_extract_all(lower(text),
        ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9\s]+')) AS word
      FROM documents) GROUP BY word),
  enc0 AS MATERIALIZED (
    SELECT word, cnt,
      '<' || array_to_string(
        regexp_extract_all(hex(encode(word)), '..'), '><') || '>' AS enc
    FROM words)""")

  private def bpeCteWith(nMerges: Int, head: String): String = {
    val stages = (0 until nMerges).map { i =>
      s"""
  pairs$i AS MATERIALIZED (
    SELECT syms[j] AS l, syms[j+1] AS r, sum(cnt) AS c
    FROM (SELECT string_split(trim(enc, '<>'), '><') AS syms, cnt
          FROM enc$i),
         unnest(generate_series(1, len(syms) - 1)) AS u(j)
    GROUP BY 1, 2),
  best$i AS MATERIALIZED (
    SELECT l, r FROM pairs$i ORDER BY c DESC, l, r LIMIT 1),
  enc${i + 1} AS MATERIALIZED (
    SELECT word, cnt,
      replace(enc, '<' || b.l || '><' || b.r || '>',
                   '<' || b.l || b.r || '>') AS enc
    FROM enc$i CROSS JOIN best$i b)"""
    }
    "WITH " + (head +: stages).mkString(",")
  }

  private def bpeTrainOracleSql(nMerges: Int): String = {
    val rows = (0 until nMerges)
      .map(i => s"SELECT $i AS rank, l AS left_sym, r AS right_sym FROM best$i")
      .mkString(" UNION ALL ")
    bpeCtePrefix(nMerges) +
      s" SELECT rank, left_sym, right_sym FROM ($rows) ORDER BY rank"
  }

  private def bpeByteTrainOracleSql(nMerges: Int): String = {
    val rows = (0 until nMerges)
      .map(i => s"SELECT $i AS rank, l AS left_sym, r AS right_sym FROM best$i")
      .mkString(" UNION ALL ")
    bpeByteCtePrefix(nMerges) +
      s" SELECT rank, left_sym, right_sym FROM ($rows) ORDER BY rank"
  }

  private def bpeApplyOracleSql(nMerges: Int): String =
    bpeCtePrefix(nMerges) + s""",
  docw AS MATERIALIZED (
    SELECT doc_id, word, count(*) AS n FROM (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
      FROM documents WHERE doc_id < 20) GROUP BY doc_id, word),
  tok AS (
    SELECT d.doc_id, d.n, unnest(string_split(trim(f.enc, '<>'), '><')) AS sym
    FROM docw d JOIN enc$nMerges f USING (word))
  SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_tokens,
         CAST(count(DISTINCT sym) AS BIGINT) AS n_distinct
  FROM tok GROUP BY doc_id ORDER BY doc_id"""

  private def bpeByteApplyOracleSql(nMerges: Int): String =
    bpeByteCtePrefix(nMerges) + s""",
  docw AS MATERIALIZED (
    SELECT doc_id, word, count(*) AS n FROM (
      SELECT doc_id, unnest(regexp_extract_all(lower(text),
        ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9\\s]+')) AS word
      FROM documents WHERE doc_id < 20) GROUP BY doc_id, word),
  tok AS (
    SELECT d.doc_id, d.n, unnest(string_split(trim(f.enc, '<>'), '><')) AS sym
    FROM docw d JOIN enc$nMerges f USING (word))
  SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_tokens,
         CAST(count(DISTINCT sym) AS BIGINT) AS n_distinct
  FROM tok GROUP BY doc_id ORDER BY doc_id"""
}
