package graft.functions

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import scala.collection.mutable.ArrayBuffer

/** Exact median over the orderable non-numeric types — the
  * `median(anyelement)` surface of the reference's type-generic
  * aggregate (general-functions.sql:29-34, `anyarray` state) for the
  * inputs Spark's built-in `median` rejects. The injected `median_any`
  * sends numeric input to built-in `median` (mean of the two middles,
  * as DOUBLE) and everything else here.
  *
  * Even-count semantics BY TYPE (documented choice, matching DuckDB so
  * the oracle can replay it; PostgreSQL itself would ERROR running the
  * reference's `avg(middle two)` on text):
  *   - timestamp: midpoint of the two middle instants (micros mean,
  *     floorDiv — exact whenever the operands are at >= millisecond
  *     granularity);
  *   - string / boolean / date: the LOWER middle, type-preserved
  *     (DuckDB's ordinal rule for strings; for DATE DuckDB instead
  *     widens to a TIMESTAMP midpoint — deviation documented, dates
  *     keep their type here).
  * Odd counts return the middle element. NULLs are dropped; empty
  * input yields NULL. Strings compare in UTF-8 binary order (Spark's
  * own string ordering).
  *
  * State is the group's value list (exact median is inherently
  * holistic); partials ship as 8-byte longs or length-prefixed UTF-8.
  */
case class MedianAny(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[ArrayBuffer[Any]] {

  override def dataType: DataType = child.dataType match {
    case TimestampType | TimestampNTZType | DateType | StringType | BooleanType =>
      child.dataType
    case dt => throw new IllegalArgumentException(
      s"median_any: unsupported type $dt")
  }
  private def isString: Boolean = dataType == StringType
  override def nullable: Boolean = true
  override def children: Seq[Expression] = Seq(child)
  override def prettyName: String = "median_any"

  override def createAggregationBuffer(): ArrayBuffer[Any] =
    ArrayBuffer.empty[Any]

  // normalized buffer element: String (string) or Long (timestamp
  // micros, date days, boolean 0/1) — both JVM-orderable
  override def update(buf: ArrayBuffer[Any], input: InternalRow): ArrayBuffer[Any] = {
    val v = child.eval(input)
    if (v != null) buf += (v match {
      case s: UTF8String => s.toString
      case b: Boolean => if (b) 1L else 0L
      case d: Int => d.toLong
      case t: Long => t
    })
    buf
  }

  override def merge(b1: ArrayBuffer[Any], b2: ArrayBuffer[Any]): ArrayBuffer[Any] = {
    b1 ++= b2
    b1
  }

  override def eval(buf: ArrayBuffer[Any]): Any = {
    val n = buf.length
    if (n == 0) return null
    if (isString) {
      // sort as UTF8String: Spark's binary string order, not UTF-16
      val s = buf.asInstanceOf[ArrayBuffer[String]]
        .map(UTF8String.fromString).sorted
      return s((n - 1) / 2) // lower middle
    }
    val s = buf.asInstanceOf[ArrayBuffer[Long]].sorted
    val m = s((n - 1) / 2) // lower middle
    dataType match {
      case DateType => m.toInt
      case BooleanType => m == 1L
      case _ if n % 2 == 1 => m
      // timestamp floor midpoint without the a+b overflow; >>> treats a
      // wrapped diff as unsigned so this holds for any Long range.
      case _ => m + ((s(n / 2) - m) >>> 1)
    }
  }

  override def serialize(buf: ArrayBuffer[Any]): Array[Byte] =
    if (isString) {
      val bytes = buf.asInstanceOf[ArrayBuffer[String]]
        .map(_.getBytes(StandardCharsets.UTF_8))
      val bb = ByteBuffer.allocate(bytes.map(_.length + 4).sum)
      bytes.foreach { b => bb.putInt(b.length); bb.put(b) }
      bb.array()
    } else {
      val bb = ByteBuffer.allocate(buf.length * 8)
      buf.asInstanceOf[ArrayBuffer[Long]].foreach(bb.putLong)
      bb.array()
    }

  override def deserialize(bytes: Array[Byte]): ArrayBuffer[Any] = {
    val bb = ByteBuffer.wrap(bytes)
    val out = ArrayBuffer.empty[Any]
    if (isString) {
      while (bb.remaining() >= 4) {
        val b = new Array[Byte](bb.getInt)
        bb.get(b)
        out += new String(b, StandardCharsets.UTF_8)
      }
    } else while (bb.remaining() >= 8) out += bb.getLong
    out
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): MedianAny =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MedianAny =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}
