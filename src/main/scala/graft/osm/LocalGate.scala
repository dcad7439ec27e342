package graft.osm

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}

/** The local-or-distributed decision of the graph family, and the
  * collected-graph plumbing the driver-local twins share.
  *
  * Every iterative operator in [[GraphCheck]] and [[Contraction]] has a
  * driver-local twin: below `localThreshold` rows the whole input is
  * collected and the loop runs in memory, because a graph that fits on
  * the driver pays tens of per-round job launches in the distributed
  * loop for nothing (the same adaptive decision a broadcast join
  * makes). Each twin argues its own exactness next to its code; the
  * decision itself lives only here.
  *
  * Contract of [[rows]]: ONE job — `limit(threshold + 1).collect()` on
  * an already-materialized frame — and `None` (run the distributed
  * path) when `threshold <= 0`, when the frame has more than
  * `threshold` rows, or when any collected value is NULL. Otherwise the
  * collected rows ARE the whole relation. The NULL rule keeps dirty
  * input on the distributed path, whose joins and aggregates define
  * what a NULL endpoint or weight means; the twins read primitives.
  * `localThreshold = 0` on any public operator forces its distributed
  * loop (scale witnesses, plan audits, differential specs). */
private[graft] object LocalGate {

  /** Default `localThreshold` of every gated graph operator. */
  final val Threshold = 100000L

  /** The collected rows of `df` if it is small and NULL-free; see the
    * object contract. `df` should be materialized (localCheckpoint), so
    * the probe is a cheap scan rather than a re-run of its upstream. */
  def rows(df: DataFrame, threshold: Long): Option[Array[Row]] = {
    if (threshold <= 0) return None
    val probe = df
      .limit(math.min(threshold + 1, Int.MaxValue.toLong).toInt)
      .collect()
    if (probe.length > threshold || probe.exists(_.anyNull)) None
    else Some(probe)
  }

  /** Weighted adjacency of collected `(start, end, w: double)` rows:
    * node -> its out-edges `(end, w)`, parallel edges kept in row
    * order. */
  def adjacency(rows: Array[Row]): Map[Long, Array[(Long, Double)]] =
    rows.map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2))))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }

  /** Dijkstra from `sources` (all at distance 0) over `adj`: the
    * distance and predecessor of every reached node. Relaxations to a
    * distance above `bound`, and edges `(u, v)` with `skip(u, v)`, are
    * ignored. On an equal-distance tie the SMALLER predecessor wins —
    * the rule of the distributed path attribution in
    * [[GraphCheck.shortestPathTo]] — and a source is its own
    * predecessor. Distances do not depend on predecessor
    * tracking: path sums accumulate from the source in the same order
    * as the distributed frontier relaxation. */
  def dijkstra(adj: Map[Long, Array[(Long, Double)]], sources: Seq[Long],
      bound: Double = Double.PositiveInfinity,
      skip: (Long, Long) => Boolean = (_, _) => false)
      : (mutable.Map[Long, Double], mutable.Map[Long, Long]) = {
    val dist = mutable.Map.empty[Long, Double]
    val pred = mutable.Map.empty[Long, Long]
    val pq = mutable.PriorityQueue
      .empty[(Double, Long)](Ordering.by[(Double, Long), Double](_._1).reverse)
    sources.foreach { s => dist(s) = 0.0; pred(s) = s; pq.enqueue((0.0, s)) }
    while (pq.nonEmpty) {
      val (d, u) = pq.dequeue()
      if (d <= dist(u)) adj.getOrElse(u, Array.empty[(Long, Double)]).foreach {
        case (v, w) =>
          val nd = d + w
          if (nd <= bound && !skip(u, v)) {
            if (!dist.contains(v) || nd < dist(v)) {
              dist(v) = nd; pred(v) = u; pq.enqueue((nd, v))
            } else if (nd == dist(v) && u < pred(v)) pred(v) = u
          }
      }
    }
    (dist, pred)
  }

  /** The node sequence `from`..`to` along `pred` (as returned by
    * [[dijkstra]] from `from`). A walk longer than `pred.size` steps
    * has entered a predecessor cycle, and throws
    * `IllegalStateException` naming a node on it. */
  def walkBack(pred: collection.Map[Long, Long], from: Long,
      to: Long): List[Long] = {
    var path = List(to); var cur = to; var steps = 0
    while (cur != from) {
      if (steps == pred.size) throw new IllegalStateException(
        s"walkBack $from -> $to: predecessor cycle through node $cur")
      cur = pred(cur); path = cur :: path; steps += 1
    }
    path
  }

  /** Collected `(src, dst)` rows on a dense index: the sorted distinct
    * node ids (endpoints plus `extra`) and every edge, in row order, as
    * a pair of positions in that array. */
  def denseEdges(rows: Array[Row],
      extra: Seq[Long] = Nil): (Array[Long], Array[(Int, Int)]) = {
    val es = rows.map(r => (r.getLong(0), r.getLong(1)))
    val ids = (es.map(_._1) ++ es.map(_._2) ++ extra).distinct.sorted
    val idx = ids.zipWithIndex.toMap
    (ids, es.map { case (a, b) => (idx(a), idx(b)) })
  }
}
