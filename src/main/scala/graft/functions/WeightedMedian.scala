package graft.functions

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Weighted-median surface re-expressing the reference's plpgsql
  * procedures (general-functions.sql:52-75 `weighted_median`,
  * :84-106 `weighted_median_by_group`). The dynamic-SQL templating of
  * the original is unnecessary — parameterization is native Scala
  * (SURVEY §2.8 F10): these are `DataFrame => DataFrame/scalar`
  * functions over column *names*.
  *
  * Reference semantics, reproduced exactly (and exercised against the
  * FIXTURES.md §1 edge cases — NULL weight, all-zero weights):
  *   - order rows by x; runsum = running sum of coalesce(w,0)
  *     (ROWS UNBOUNDED PRECEDING..CURRENT ROW), prevsum = same frame
  *     ending 1 PRECEDING (NULL on the first row, which therefore never
  *     qualifies — PG BETWEEN with a NULL bound is NULL);
  *   - candidate rows: total/2 BETWEEN prevsum AND runsum;
  *   - scalar version returns AVG(x) of candidates (the reference's
  *     `prevx = last_value(x) ... CURRENT ROW` is the current row's own
  *     x, so its even/odd branch reduces to avg(x));
  *   - grouped version returns MAX(x) of candidates per group (its
  *     branches use max(), general-functions.sql:98).
  */
object WeightedMedian {

  private def cumCols(x: String, w: String, part: Seq[String]): Seq[(String, Column)] = {
    val ord = Window.partitionBy(part.map(col): _*).orderBy(col(x))
    val run = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val prev = ord.rowsBetween(Window.unboundedPreceding, -1)
    Seq(
      "__runsum" -> sum(coalesce(col(w), lit(0))).over(run),
      "__prevsum" -> sum(coalesce(col(w), lit(0))).over(prev))
  }

  /** X5 scalar form. The global ordering window is inherently
    * single-partition; the reference only ever calls it on small derived
    * tables (osm-road-graphs.sql:176). For large inputs use the grouped
    * form (partition-parallel) or `percentile_approx` with weights
    * pre-expanded.
    */
  def weightedMedian(df: DataFrame, x: String, w: String): Option[Double] = {
    // J8: driver-composed scalars, spliced as literals — ONE scan for
    // both (count and total were two full passes; guide §1.2)
    val nt = df.agg(count(lit(1)).as("n"),
      sum(coalesce(col(w), lit(0))).as("t")).head()
    val n = nt.getLong(0)
    val total = nt.get(1)
    if (n == 0 || total == null) return None
    val withCums = cumCols(x, w, Nil).foldLeft(df) { case (d, (c, e)) => d.withColumn(c, e) }
    val cand = withCums.filter(
      (lit(total) / 2).between(col("__prevsum"), col("__runsum")))
    val r = cand.agg(avg(col(x))).head()
    if (r.isNullAt(0)) None else Some(r.getDouble(0))
  }

  /** X5 at scale: same reference semantics as [[weightedMedian]] but
    * WITHOUT the single-partition global window. Two passes over a
    * range-partitioned sort:
    *   1. per-partition weight/row totals -> driver prefix scan
    *      (tiny: one row per partition — the J8 scalar boundary);
    *   2. per-partition running sums seeded with the broadcast prefix
    *      offsets, emitting candidate rows where total/2 lands in
    *      [prevsum, runsum] (global row 1 excluded — PG's NULL-bound
    *      BETWEEN).
    * Candidate average is computed distributedly (all-zero-weight
    * inputs make EVERY row a candidate — never collect them).
    * `mapPartitions` is justified here per the custom-op preference
    * order: a cross-partition prefix scan is genuinely per-partition
    * imperative logic.
    */
  def weightedMedianScalable(df: DataFrame, x: String, w: String,
      numPartitions: Int = 0): Option[Double] = {
    val spark = df.sparkSession
    val parts = if (numPartitions > 0) numPartitions
      else spark.sessionState.conf.numShufflePartitions
    val prepared = df
      .select(col(x).cast("double").as("x"),
        coalesce(col(w), lit(0)).cast("double").as("w"))
      .repartitionByRange(parts, col("x"))
      .sortWithinPartitions("x")
      .persist()
    try {
      val partAgg = prepared.rdd.mapPartitionsWithIndex { (pid, it) =>
        var s = 0.0; var n = 0L
        it.foreach { r => s += r.getDouble(1); n += 1 }
        Iterator((pid, s, n))
      }.collect().sortBy(_._1)
      val totalN = partAgg.map(_._3).sum
      if (totalN == 0) return None
      val half = partAgg.map(_._2).sum / 2
      val wOff = partAgg.scanLeft(0.0)(_ + _._2).init
      val nOff = partAgg.scanLeft(0L)(_ + _._3).init
      val bc = spark.sparkContext.broadcast((wOff, nOff, half))
      val (sum, n) = prepared.rdd.mapPartitionsWithIndex { (pid, it) =>
        val (wo, no, h) = bc.value
        var run = wo(pid); var idx = no(pid)
        it.flatMap { r =>
          val prev = run
          run += r.getDouble(1); idx += 1
          if (idx > 1 && prev <= h && h <= run) Some((r.getDouble(0), 1L))
          else None
        }
      }.fold((0.0, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
      if (n == 0) None else Some(sum / n)
    } finally { prepared.unpersist(); () }
  }

  /** X6 grouped form (UDTF-shaped in PG, a plain DataFrame here):
    * returns `(group_id, weighted_median)`. Windows are partitioned by
    * the group key — parallel across groups, one shuffle; the per-group
    * total weight is a window over the same partitioning (no global
    * collapse), and the A14 parity count joins back broadcast.
    */
  def weightedMedianByGroup(df: DataFrame, x: String, w: String, g: String): DataFrame = {
    // the A14 parity count rides the SAME per-group window partitioning
    // as __total instead of a second scan + groupBy + join-back (r21;
    // guide §2.4: two operations keyed the same way share one exchange)
    val withCums = cumCols(x, w, Seq(g)).foldLeft(df) { case (d, (c, e)) => d.withColumn(c, e) }
      .withColumn("__total", sum(coalesce(col(w), lit(0))).over(Window.partitionBy(col(g))))
      .withColumn("__cnt", count(lit(1)).over(Window.partitionBy(col(g))))
    withCums
      .filter((col("__total") / 2).between(col("__prevsum"), col("__runsum")))
      .groupBy(col(g))
      // double before the even-count sum: a BIGINT __mx >= 2^62 would
      // overflow (ARITHMETIC_OVERFLOW under ANSI) in __mx + __mx
      .agg(max(col(x)).cast("double").as("__mx"), first(col("__cnt")).as("__cnt"))
      .select(
        col(g).cast("string").as("group_id"),
        when(col("__cnt") % 2 === 0, (col("__mx") + col("__mx")) / 2.0)
          .otherwise(col("__mx")).as("weighted_median"))
  }
}
