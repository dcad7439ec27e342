package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.Median
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType, NumericType}
import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}

import scala.reflect.runtime.universe.typeTag

/** `SparkSessionExtensions` hook registering graft's custom Catalyst
  * functions, usable via `.withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.functions.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(
      (new FunctionIdentifier("get_ints_from_text"),
        new ExpressionInfo(classOf[ExtractInts].getName, "get_ints_from_text"),
        (children: Seq[Expression]) => ExtractInts(children.head)))
    ext.injectFunction(
      (new FunctionIdentifier("vector_sum"),
        new ExpressionInfo(classOf[VectorSum].getName, "vector_sum"),
        (children: Seq[Expression]) =>
          VectorSum(org.apache.spark.sql.catalyst.expressions.Cast(
            children.head,
            ArrayType(org.apache.spark.sql.types.DoubleType)))
            .toAggregateExpression()))
    ext.injectFunction(
      (new FunctionIdentifier("median_any"),
        new ExpressionInfo(classOf[MedianAny].getName, "median_any"),
        // numeric input goes to Spark's exact `median`; MedianAny holds
        // only the orderable types `median` rejects
        (children: Seq[Expression]) => (children.head.dataType match {
          case _: NumericType => Median(children.head)
          case _ => MedianAny(children.head)
        }).toAggregateExpression()))
    ext.injectFunction(
      (new FunctionIdentifier("simhash_agg"),
        new ExpressionInfo(classOf[SimhashAgg].getName, "simhash_agg"),
        (children: Seq[Expression]) =>
          SimhashAgg(org.apache.spark.sql.catalyst.expressions.Cast(
            children.head, org.apache.spark.sql.types.LongType))
            .toAggregateExpression()))
    ext.injectFunction(
      (new FunctionIdentifier("convex_hull"),
        new ExpressionInfo(classOf[ConvexHullAgg].getName, "convex_hull"),
        (children: Seq[Expression]) =>
          ConvexHullAgg(
            org.apache.spark.sql.catalyst.expressions.Cast(
              children(0), org.apache.spark.sql.types.DoubleType),
            org.apache.spark.sql.catalyst.expressions.Cast(
              children(1), org.apache.spark.sql.types.DoubleType))
            .toAggregateExpression()))
    ext.injectFunction(
      (new FunctionIdentifier("misra_gries"),
        new ExpressionInfo(classOf[MisraGriesAgg].getName, "misra_gries"),
        (children: Seq[Expression]) => {
          require(children(1).foldable,
            "misra_gries: k must be a literal")
          MisraGriesAgg(
            org.apache.spark.sql.catalyst.expressions.Cast(
              children.head, org.apache.spark.sql.types.StringType),
            children(1).eval().asInstanceOf[Number].intValue)
            .toAggregateExpression()
        }))
    ext.injectFunction(
      (new FunctionIdentifier("matvec"),
        new ExpressionInfo(classOf[MatVec].getName, "matvec"),
        (children: Seq[Expression]) =>
          MatVec(ConstMatrix.fromLiteral(children(0)), children(1))))
    ext.injectFunction(
      (new FunctionIdentifier("ear_triangulate"),
        new ExpressionInfo(classOf[EarTriangulate].getName, "ear_triangulate"),
        (children: Seq[Expression]) => EarTriangulate(children.head)))
    ext.injectFunction(
      (new FunctionIdentifier("polygon_difference"),
        new ExpressionInfo(classOf[PolygonDifference].getName,
          "polygon_difference"),
        (children: Seq[Expression]) =>
          PolygonDifference(children(0), children(1))))
    ext.injectFunction(
      (new FunctionIdentifier("int_dot"),
        new ExpressionInfo(classOf[IntDot].getName, "int_dot"),
        (children: Seq[Expression]) => IntDot(children(0), children(1))))
    ext.injectFunction(
      (new FunctionIdentifier("repetition_stats"),
        new ExpressionInfo(classOf[RepetitionStats].getName, "repetition_stats"),
        (children: Seq[Expression]) => RepetitionStats(children.head)))
    ext.injectFunction(
      (new FunctionIdentifier("nfc_normalize"),
        new ExpressionInfo(classOf[NfcNormalize].getName, "nfc_normalize"),
        (children: Seq[Expression]) => NfcNormalize(children.head)))
    // Spark's own runtime-filter expressions, driven explicitly
    // (Curation.decontaminateBloom): build hashes the value with the
    // same fixed-seed XxHash64 the probe does, so the pair composes
    // without the caller ever touching hash seeds.
    ext.injectFunction(
      (new FunctionIdentifier("bloom_filter_build"),
        new ExpressionInfo(
          classOf[org.apache.spark.sql.catalyst.expressions.aggregate
            .BloomFilterAggregate].getName, "bloom_filter_build"),
        (children: Seq[Expression]) =>
          new org.apache.spark.sql.catalyst.expressions.aggregate
            .BloomFilterAggregate(
              new org.apache.spark.sql.catalyst.expressions.XxHash64(
                Seq(children.head)),
              children(1), children(2))
            .toAggregateExpression()))
    ext.injectFunction(
      (new FunctionIdentifier("bloom_might_contain"),
        new ExpressionInfo(
          classOf[org.apache.spark.sql.catalyst.expressions
            .BloomFilterMightContain].getName, "bloom_might_contain"),
        (children: Seq[Expression]) =>
          org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
            children.head,
            new org.apache.spark.sql.catalyst.expressions.XxHash64(
              Seq(children(1))))))
    ext.injectFunction(
      (new FunctionIdentifier("outer_upper"),
        new ExpressionInfo(classOf[OuterUpper].getName, "outer_upper"),
        (children: Seq[Expression]) => OuterUpper(children.head)))
    ext.injectFunction(
      (new FunctionIdentifier("closest_point_on_line"),
        new ExpressionInfo(classOf[ClosestPointOnLine].getName,
          "closest_point_on_line"),
        (children: Seq[Expression]) => ClosestPointOnLine(children(0),
          org.apache.spark.sql.catalyst.expressions.Cast(
            children(1), org.apache.spark.sql.types.DoubleType),
          org.apache.spark.sql.catalyst.expressions.Cast(
            children(2), org.apache.spark.sql.types.DoubleType))))
    ext.injectFunction(
      (new FunctionIdentifier("simplify_line"),
        new ExpressionInfo(classOf[SimplifyLine].getName, "simplify_line"),
        (children: Seq[Expression]) => SimplifyLine(children(0),
          org.apache.spark.sql.catalyst.expressions.Cast(
            children(1), org.apache.spark.sql.types.DoubleType))))
    ext.injectOptimizerRule(_ => GraftOptimizations)
  }
}

/** Column-level API for graft's function surface (SURVEY §2.8/§2.10). */
object GraftFunctions {

  /** The median UDAF (X4); use directly on columns: `medianExact($"x")`. */
  lazy val medianExact: UserDefinedFunction =
    udaf(MedianAggregator)(typeTag[java.lang.Double])

  /** Register name-addressable functions on an existing session (for
    * `spark.sql(...)` use and `call_function`). Extension-injected
    * functions (get_ints_from_text) need `withExtensions` instead.
    *
    * Also turns `spark.sql.icu.caseMappings.enabled` off, so `lower` and
    * `upper` run the JVM's `UTF8String.toLowerCase`/`toUpperCase`. With
    * it on (Spark's default) the first `lower()` in the JVM initializes
    * Spark's `CollationAwareUTF8String`, whose static table calls ICU's
    * `toTitleCase` once per code point: 3.2 GB allocated and ~0.9 s of
    * CPU, about 37% of a cold `query_mix` pass's allocation (8.7 GB
    * with ICU, 5.4 GB without, 4-core runs). The two
    * mappings agree on every code point except 134, all pinned in
    * `CaseMappingSpec`: ICU 77 knows Unicode 16, JDK 17 Unicode 13.
    *   - `lower` differs on 67 capitals added in Unicode 14/16: U+1C89,
    *     U+2C2F, U+A7C0, U+A7CB-A7CC, U+A7D0, U+A7D6, U+A7D8, U+A7DA,
    *     U+A7DC, U+10570-1057A, U+1057C-1058A, U+1058C-10592,
    *     U+10594-10595 and U+10D50-10D65 (the JVM leaves them as is).
    *   - `upper` differs on their 67 small letters, two of them old:
    *     U+019B and U+0264, whose capitals U+A7DC and U+A7CB are new in
    *     Unicode 16 (the JVM leaves all 67 as they are).
    * `initcap` follows the same setting; the engine calls none.
    */
  def register(spark: SparkSession): Unit = {
    spark.udf.register("median_exact", medianExact)
    spark.conf.set(SQLConf.ICU_CASE_MAPPINGS_ENABLED.key, "false")
  }

  /** `body(v)` with `v` evaluated once per row — the engine's one way to
    * share a per-row value between several uses inside one expression.
    *
    * The once-per-row rule: a lambda body never re-evaluates a
    * row-invariant array or string. A higher-order function evaluates
    * its lambda once per element, and Catalyst eliminates no common
    * subexpression across those calls, so a document's token array used
    * inside its n-gram windows is re-split per window (O(L²) for an
    * L-token text) unless it is bound first. A caller holding the
    * DataFrame may instead project the value as a column (as
    * [[graft.llm.TextAnalysis.chunkByTokens]] does), provided the
    * projection is referenced more than once so CollapseProject cannot
    * inline it back. Here the value rides a one-element array,
    * `element_at(transform(array(v), x => body(x)), 1)`, so the body
    * runs once and every use of `x` reads the bound value. NULL `v`
    * binds as NULL, so `let(v)(f)` returns exactly `f(v)`.
    * `LambdaAuditSpec` holds every registry query to the rule. */
  def let(v: Column)(body: Column => Column): Column =
    element_at(transform(array(v), body), 1)

  /** F1 as a pure built-in composition — semantically identical to the
    * [[ExtractInts]] expression (tested equivalent); stays entirely in
    * codegen'd built-ins. get_ints_from_text per general-functions.sql:3-5.
    * Like ExtractInts, runs exceeding Int.MaxValue are DROPPED, not
    * thrown: the length guard runs before any cast, so a pathological
    * 2^31+ digit run (phone number, vandalized maxspeed) can't trip
    * Spark 4's ANSI overflow and kill the whole job.
    */
  def extractIntsBuiltin(c: Column): Column = {
    val trimmed = transform(
      filter(split(c, "[^0-9]+"), x => x =!= ""),
      x => regexp_replace(x, "^0+(?=.)", ""))
    val short = filter(trimmed, x => length(x) <= 10) // <=10 digits fits a long
    filter(short, x => x.cast(LongType) <= Int.MaxValue.toLong)
      .cast(ArrayType(IntegerType))
  }

  /** The custom-expression form, resolved through the injected function. */
  def extractInts(c: Column): Column = call_function("get_ints_from_text", c)

  /** Polymorphic median over any orderable atomic type: built-in
    * `median` on numbers, the injected [[MedianAny]] on text, dates,
    * timestamps and booleans. */
  def medianAny(c: Column): Column = call_function("median_any", c)

  /** ST_ConvexHull aggregate over a point-struct column: the CCW hull
    * ring (our polygon model), O(hull) partial state. Use in `agg()`. */
  def convexHull(p: Column): Column =
    call_function("convex_hull", p.getField("lon"), p.getField("lat"))

  /** Misra-Gries k-counter heavy-hitter sketch aggregate (injected
    * [[MisraGriesAgg]]): `array<struct<item,lb>>` of at most `k`
    * candidates, every item with frequency > N/(k+1) guaranteed in. */
  def misraGries(c: Column, k: Int): Column =
    call_function("misra_gries", c, lit(k))

  /** Element-wise array-sum aggregate (injected [[VectorSum]]). */
  def vectorSum(c: Column): Column = call_function("vector_sum", c)

  /** SimHash signature aggregate over a 60-bit token-hash column
    * (injected [[SimhashAgg]]): packed majority-vote LONG per group. */
  def simhashAgg(c: Column): Column = call_function("simhash_agg", c)

  /** Codegen'd matrix-vector product against a constant matrix
    * (injected [[MatVec]], which holds it as a [[ConstMatrix]]): per-row
    * dots of `vec` with each matrix row. */
  def matVec(matrix: Seq[Seq[Double]], vec: Column): Column =
    call_function("matvec", typedlit(matrix), vec)

  /** Codegen'd exact long dot of two `ARRAY<INT>` columns (injected
    * [[IntDot]]) — the int8-search hot-path primitive. */
  def intDot(a: Column, b: Column): Column = call_function("int_dot", a, b)

  /** Ear-clipping triangulation of a simple polygon ring (injected
    * [[EarTriangulate]]): array of CCW triangles partitioning it. */
  def earTriangulate(ring: Column): Column =
    call_function("ear_triangulate", ring)

  /** General polygon difference (injected [[PolygonDifference]]):
    * convex pieces tiling `subject ∖ clip`. */
  def polygonDifference(subject: Column, clip: Column): Column =
    call_function("polygon_difference", subject, clip)

  /** One-pass repetition features over a token array (injected
    * [[RepetitionStats]]): struct(dup_token_frac, top_bigram_frac). */
  def repetitionStats(tokens: Column): Column =
    call_function("repetition_stats", tokens)

  /** ST_Simplify (Douglas–Peucker, injected [[SimplifyLine]]) over a
    * linestring column; tolerance in coordinate units (planar). */
  def simplifyLine(line: Column, eps: Double): Column =
    call_function("simplify_line", line, lit(eps))

  /** ST_ClosestPoint + squared ST_Distance to a linestring, planar
    * (injected [[ClosestPointOnLine]]): STRUCT<dist2, x, y>. */
  def closestPointOnLine(line: Column, px: Column, py: Column): Column =
    call_function("closest_point_on_line", line, px, py)

  /** Per-row second-moment vector (injected [[OuterUpper]]): the
    * vector followed by the flattened upper triangle of x·xᵀ. */
  def outerUpper(vec: Column): Column = call_function("outer_upper", vec)
}
