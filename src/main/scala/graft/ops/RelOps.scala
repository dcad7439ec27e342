package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Relational helper operators re-expressing reference SQL idioms that
  * Spark lacks as single built-ins (SURVEY §2 / §7.3). All are plan
  * combinators over the DataFrame API — Catalyst sees plain relational
  * plans and optimizes them normally.
  */
object RelOps {

  /** A6: PG `array_agg(v ORDER BY s)` (osm-road-graphs.sql:144).
    * Spark's `collect_list` has no ordering guarantee, so the canonical
    * deterministic form is sort-the-collected-structs. Aggregation stays
    * a single hash agg (one shuffle); the sort is per-group, in-memory.
    */
  def orderedListAgg(sortCol: Column, valueCol: Column): Column =
    transform(
      array_sort(collect_list(struct(sortCol.as("s"), valueCol.as("v")))),
      x => x.getField("v"))

  /** A13: PG `SELECT DISTINCT ON (keys) ... ORDER BY keys, order`
    * (osm-road-graphs.sql:78-85) — top-1 per group via a ranking window.
    * One shuffle on the group keys; no global sort.
    */
  def top1PerGroup(df: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** S7: PG filtered `DELETE ... WHERE pred` under SQL three-valued
    * logic (osm-road-graphs.sql:19-28): rows where pred is NULL are NOT
    * deleted. The surviving set is therefore `NOT coalesce(pred, false)`
    * — a plain `filter(pred IS NOT TRUE)` would also do; we spell the
    * coalesce to make the 3VL intent explicit (SURVEY §7.4-2).
    */
  def deleteWhere(df: DataFrame, pred: Column): DataFrame =
    df.filter(!coalesce(pred, lit(false)))

  /** S8: PG `UPDATE target SET tcol = source.scol FROM source WHERE
    * whereTarget AND join-keys match` (osm-road-graphs.sql:49-54) as an
    * immutable rewrite: left join + conditional replace. The source is
    * always broadcast — UPDATE..FROM sources in the reference are tiny
    * summary tables (per-highway medians), the classic broadcast
    * dimension. `set` maps target column -> source column.
    */
  def updateFrom(
      target: DataFrame,
      source: DataFrame,
      keys: Seq[String],
      set: Map[String, String],
      whereTarget: Column = lit(true)): DataFrame = {
    val srcCols = (keys ++ set.values).distinct
    val renamed = broadcast(source
      .select(srcCols.map(c => col(c).as("__u_" + c)): _*)
      .withColumn("__u_matched", lit(true)))
    val cond = keys.map(k => target.col(k) <=> col("__u_" + k)).reduce(_ && _)
    val joined = target.join(renamed, cond, "left")
    val updated = set.foldLeft(joined) { case (df, (tcol, scol)) =>
      df.withColumn(tcol,
        when(coalesce(col("__u_matched"), lit(false)) && whereTarget, col("__u_" + scol))
          .otherwise(col(tcol)))
    }
    updated.drop(renamed.columns.toSeq: _*)
  }

  /** U1: SQL `UNION` (distinct across both inputs), osm-road-graphs.sql:60. */
  def unionDistinct(dfs: Seq[DataFrame]): DataFrame =
    dfs.reduce(_ unionByName _).distinct()

  /** U2/S5: serial `INSERT ... SELECT` branches as one immutable plan
    * (osm-pois-extract.sql:3-48). */
  def unionAll(dfs: Seq[DataFrame]): DataFrame =
    dfs.reduce(_ unionByName _)

  /** Skew-salted broadcast-replicate join: for a fact table with a few
    * hot keys, split each hot key's rows across `buckets` salted
    * sub-keys (deterministic: salt = hash of the fact row's other
    * columns mod buckets) and replicate the dimension side once per
    * bucket, then equi-join on (key, salt). Result is identical to the
    * plain join (asserted in tests); the win is that one hot key's rows
    * no longer land in a single task. AQE's skew-join handles sort-merge
    * skew automatically — this helper is for the cases AQE can't split
    * (e.g. a downstream aggregation keyed on the hot key).
    */
  def saltedJoin(fact: DataFrame, dim: DataFrame, key: String,
      buckets: Int, saltSource: Column): DataFrame = {
    val salted = fact.withColumn("__salt", pmod(hash(saltSource), lit(buckets)))
    val replicated = dim
      .withColumn("__salt", explode(array((0 until buckets).map(lit): _*)))
    salted.join(replicated, Seq(key, "__salt")).drop("__salt")
  }

  /** Two-phase salted aggregation for decomposable aggregates on skewed
    * keys: partial-aggregate on (key, salt), then combine on key. Spark
    * already map-side-combines; the explicit second phase additionally
    * splits a hot key's REDUCE work across `buckets` tasks. */
  def saltedCount(df: DataFrame, key: String, buckets: Int,
      saltSource: Column): DataFrame =
    df.withColumn("__salt", pmod(hash(saltSource), lit(buckets)))
      .groupBy(col(key), col("__salt")).agg(count(lit(1)).as("__partial"))
      .groupBy(col(key)).agg(sum(col("__partial")).as("cnt"))

  /** W5 at scale: a whole-table aggregate made available to every row
    * without an empty-partition window (`SUM(w) OVER ()` collapses to a
    * single partition at 100x — SURVEY §7.4-6). One scalar row, cross
    * joined with broadcast: constant-folding-cheap and shuffle-free.
    */
  def withGlobalAgg(df: DataFrame, aggs: Column*): DataFrame =
    df.crossJoin(broadcast(df.agg(aggs.head, aggs.tail: _*)))

  /** ANSI `MERGE INTO` (upsert), the batch-relational rewrite: target
    * FULL OUTER JOINed to source on `keys`; matched rows take the
    * source's values for `updateCols` and keep the target's for
    * everything else, source-only rows INSERT whole, target-only rows
    * pass through unchanged. Table-format engines (Delta/Iceberg) run
    * this as row-level transactions; over immutable parquet the rewrite
    * IS the merge — land the result with [[graft.etl.CatalogOps]] CTAS.
    *
    * Contract (the standard MERGE cardinality rule): at most one source
    * row per key — duplicate source keys would fan matched rows out
    * nondeterministically, which ANSI MERGE treats as an ERROR, so the
    * op pre-flights one hash-agg over the source keys and fails loudly
    * on a duplicate
    * instead of silently duplicating target rows. Source rows with a
    * NULL in any key column are exempt from the check — under the
    * AND-chained `===` join condition they can never match, so they
    * cannot fan out (each simply INSERTs). Note the pre-flight is an
    * EAGER job (`limit(1).collect()`) inside an otherwise lazy plan
    * builder; at 100 TB that pre-flight is one extra source-sized job.
    * Presence is tracked by
    * injected marker columns, so NULL-valued key columns in the data
    * cannot masquerade as "not matched"; the injected names live under
    * the reserved `__` prefix, which input schemas must not use (a user
    * column literally named `__tp` would otherwise be overwritten).
    *
    * 100 TB shape: exactly one keyed shuffle (the full-outer hash
    * join); no window, no collect. AQE handles a skewed key the same
    * way it does every other join in this engine. */
  def mergeInto(target: DataFrame, source: DataFrame, keys: Seq[String],
      updateCols: Seq[String]): DataFrame = {
    val cols = target.columns.toSeq
    require(source.columns.toSeq == cols,
      s"mergeInto needs identical schemas, got ${cols.mkString(",")} vs " +
        source.columns.mkString(","))
    require(updateCols.forall(cols.contains) && keys.forall(cols.contains),
      "update/key columns must exist in the schema")
    require(keys.intersect(updateCols).isEmpty, "cannot update a merge key")
    require(!cols.exists(_.startsWith("__")),
      "mergeInto reserves the __ column-name prefix for its presence " +
        s"markers; rename ${cols.filter(_.startsWith("__")).mkString(",")}")
    // A NULL in ANY key column makes the AND-chained === join condition
    // non-true, so such a source row can never match a target row and
    // duplicates among them cannot fan out — exclude them from the check
    // (they still INSERT, one row each).
    val dup = source
      .filter(keys.map(k => col(k).isNotNull).reduce(_ && _))
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__c")).filter(col("__c") > 1)
      .limit(1).collect()
    require(dup.isEmpty,
      s"MERGE source has duplicate key ${dup.headOption.orNull} — ANSI " +
        "MERGE forbids more than one source row per target row")
    val t = target.withColumn("__tp", lit(true))
      .select(col("__tp") +: cols.map(c => col(c).as(s"__t_$c")): _*)
    val s = source.withColumn("__sp", lit(true))
      .select(col("__sp") +: cols.map(c => col(c).as(s"__s_$c")): _*)
    val cond = keys.map(k => col(s"__t_$k") === col(s"__s_$k")).reduce(_ && _)
    val matched = col("__tp").isNotNull && col("__sp").isNotNull
    t.join(s, cond, "full_outer")
      .select(cols.map { c =>
        val tc = col(s"__t_$c"); val sc = col(s"__s_$c")
        val v =
          if (keys.contains(c)) coalesce(tc, sc)
          else if (updateCols.contains(c))
            when(col("__sp").isNotNull, sc).otherwise(tc) // update + insert
          else when(matched, tc).when(col("__sp").isNotNull, sc).otherwise(tc)
        v.as(c)
      }: _*)
  }
}
