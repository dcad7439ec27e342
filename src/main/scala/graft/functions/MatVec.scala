package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** A constant matrix held OUTSIDE the expression tree, as a plain
  * constructor argument of [[MatVec]]. Equality is by content and the
  * hash is computed once, so two `MatVec`s over equal matrices stay
  * `semanticEquals` (the LSH self-join still reuses one exchange).
  * `toString` prints only the shape and the hash: Spark formats the
  * whole plan when each SQL execution starts and on every AQE plan
  * update. Held as a `Literal` child, the 384x64 LSH matrix made
  * `q_d_embedding_pairs`' executed plan 3.9 M characters of
  * `Double.toString` text (23.6 k with the holder), and cost about
  * 1.3 GB of allocation per `query_mix` pass. */
final class ConstMatrix(val rows: Array[Array[Double]]) extends Serializable {
  override val hashCode: Int = java.util.Arrays.deepHashCode(
    rows.asInstanceOf[Array[AnyRef]])

  override def equals(other: Any): Boolean = other match {
    case m: ConstMatrix => (m eq this) || (m.hashCode == hashCode &&
      java.util.Arrays.deepEquals(rows.asInstanceOf[Array[AnyRef]],
        m.rows.asInstanceOf[Array[AnyRef]]))
    case _ => false
  }

  override def toString: String = {
    val cols = if (rows.isEmpty) 0 else rows.map(_.length).max
    f"matrix[${rows.length}x$cols#$hashCode%08x]"
  }
}

object ConstMatrix {
  def apply(rows: Array[Array[Double]]): ConstMatrix = new ConstMatrix(rows)

  /** Evaluates a foldable `ARRAY<ARRAY<DOUBLE>>` argument once, at
    * function-build time (the `matvec` builder in [[GraftExtensions]]). */
  def fromLiteral(matrix: Expression): ConstMatrix = {
    require(matrix.foldable, "matvec: matrix must be a literal")
    val md = matrix.eval().asInstanceOf[ArrayData]
    require(md != null, "matvec: matrix must not be NULL")
    ConstMatrix(Array.tabulate(md.numElements())(i =>
      md.getArray(i).toDoubleArray()))
  }
}

/** Matrix-vector product against a constant matrix: `matvec(matrix,
  * vec)` returns `ARRAY<DOUBLE>` of per-row dot products. This is the
  * codegen'd primitive behind every "score a vector against N fixed
  * directions" operator (LSH hyperplane projections, IVF centroid
  * scoring, PQ codebooks, PCA projection): Spark's higher-order
  * functions (`transform`/`zip_with`/`aggregate`) are CodegenFallback,
  * so a matrix of dots expressed through them runs interpreted with a
  * boxed lambda call per element — measured ~4x slower at 192x64 per
  * row. Here the whole product is two primitive loops.
  *
  * The matrix is a [[ConstMatrix]], not a child expression: the SQL
  * form's foldable first argument is evaluated once by the function
  * builder, and the plan names the matrix by shape and hash only
  * (`matvec(matrix[384x64#1a2b3c4d], v)`). Traced `q_d_embedding_pairs`
  * in `query_mix` (seed 301, 4 cores) fell from 1.58 to 0.71 s when its
  * plan stopped carrying the 24,576 doubles as a `Literal`.
  *
  * Dot accumulation is left-to-right double adds — bit-identical to the
  * `aggregate(zip_with(...))` formulation and to DuckDB's
  * `list_dot_product`, so oracle checks stay exact. The vector may be
  * FLOAT or DOUBLE typed; rows shorter than a matrix row contribute
  * only their overlap (matrix/vector length mismatch is a caller bug,
  * but must not throw mid-job).
  */
case class MatVec(matrix: ConstMatrix, vec: Expression)
    extends UnaryExpression {

  override def child: Expression = vec
  override def prettyName: String = "matvec"
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  private val vecIsFloat: Boolean =
    vec.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override protected def nullSafeEval(v: Any): Any =
    MatVec.dot(matrix.rows, v.asInstanceOf[ArrayData], vecIsFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val matRef = ctx.addReferenceObj("matvecMatrix", matrix.rows, "double[][]")
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.functions.MatVec.dot($matRef, $v, $vecIsFloat);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(vec = newChild)
}

object MatVec {
  /** Shared by interpreted eval and generated code. Named `dot`, NOT
    * `eval`: the class inherits `Expression.eval(InternalRow)`, and a
    * same-named companion method gets NO static forwarder — the
    * generated `graft.functions.MatVec.eval(...)` call then fails
    * Janino compilation and the whole projection silently degrades to
    * interpreted mode (found via the UnsafeProjection fallback WARN). */
  def dot(mat: Array[Array[Double]], vec: ArrayData,
      isFloat: Boolean): ArrayData = {
    val varr: Array[Double] =
      if (isFloat) {
        val f = vec.toFloatArray()
        val a = new Array[Double](f.length)
        var i = 0
        while (i < f.length) { a(i) = f(i); i += 1 }
        a
      } else vec.toDoubleArray()
    val out = new Array[Double](mat.length)
    var i = 0
    while (i < mat.length) {
      val row = mat(i)
      val n = math.min(row.length, varr.length)
      var s = 0.0
      var j = 0
      while (j < n) { s += row(j) * varr(j); j += 1 }
      out(i) = s
      i += 1
    }
    ArrayData.toArrayData(out)
  }
}
