package graft.functions

import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.{Encoder, Encoders}

/** Buffer for [[MedianAggregator]]: prepend-only list, merged by concat. */
case class MedianBuf(xs: List[Double])

/** Exact-median UDAF re-expressing the reference's
  * `CREATE AGGREGATE median(anyelement)` (general-functions.sql:29-34)
  * whose finalizer `_final_median` (general-functions.sql:7-26) drops
  * NULLs, sorts, and averages the middle one/two values.
  *
  * Spark `Aggregator` gives us the piece PG left implicit: a real
  * distributed `merge` (partial aggregation per partition, then
  * combiner merge), so the state shipped per partition is one buffer,
  * not one row per value per shuffle record.
  *
  * It is the X4 surface demo behind `q_a10_median` only: the engine's
  * own exact medians (speed-limit imputation, `median_any` on numbers)
  * run Spark's built-in `median`, which skips this aggregator's
  * encoder round-trip per update. State is O(group size); at 100 TB
  * use `percentile_approx`. Tests assert this aggregator == built-in
  * `percentile(0.5)`, exactly on integers (FIXTURES.md §1).
  */
object MedianAggregator extends Aggregator[java.lang.Double, MedianBuf, java.lang.Double] {
  override def zero: MedianBuf = MedianBuf(Nil)

  override def reduce(b: MedianBuf, a: java.lang.Double): MedianBuf =
    if (a == null) b else MedianBuf(a.doubleValue :: b.xs)

  override def merge(b1: MedianBuf, b2: MedianBuf): MedianBuf =
    MedianBuf(b1.xs ::: b2.xs)

  override def finish(b: MedianBuf): java.lang.Double = {
    val s = b.xs.sorted
    val n = s.size
    if (n == 0) null
    else if (n % 2 == 1) s(n / 2)
    else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  override def bufferEncoder: Encoder[MedianBuf] = Encoders.product[MedianBuf]
  override def outputEncoder: Encoder[java.lang.Double] = Encoders.DOUBLE
}
