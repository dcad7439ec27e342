package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.ScalaAggregator
import org.apache.spark.sql.functions._

/** Physical-plan audits: the scale properties the 100 TB design rests on,
  * asserted against the actual Catalyst output so regressions fail CI —
  * broadcast placement, pushdown/pruning, and the absence of cartesian
  * products or single-partition windows in hot paths.
  */
class PlanAuditSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan.toString

  private def optimized(q: String): String =
    SparkEntry.queries(q)(spark, sf).queryExecution.optimizedPlan.toString

  test("dimension joins broadcast (J1 inner, J2 attr copy, J3 range)") {
    Seq("q_j1_inner", "q_j2_attr_copy", "q_j3_range").foreach { q =>
      assert(plan(q).contains("BroadcastHashJoin"), s"$q should broadcast")
    }
  }

  test("no cartesian product anywhere except the sanctioned broadcast cross joins") {
    SparkEntry.queries.keys.foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian product")
    }
  }

  test("filter pushdown reaches the parquet scan (flagship)") {
    val p = plan("q_flagship_tag_freq")
    // column pruning: the customer scan must read only the two source
    // columns of the map, nothing else
    assert(p.contains("ReadSchema") &&
      p.contains("c_mktsegment") && !p.contains("c_acctbal"),
      "scan should be pruned to map-source columns")
  }

  test("semi/anti joins are real semi/anti operators, not filters-after-join") {
    assert(plan("q_j4_semi").contains("LeftSemi"))
    assert(plan("q_j6_anti").contains("LeftAnti"))
  }

  test("W5 share avoids single-partition window (scalar agg + broadcast)") {
    val p = plan("q_w5_share")
    assert(!p.contains("Window"), "q_w5_share must not use a window at all")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"))
  }

  test("grid join (J7) is an equi-join on the cell key") {
    val p = plan("q_j7_grid")
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin") ||
      p.contains("ShuffledHashJoin"), "grid join must be a keyed join")
  }

  test("exact dedup is a single hash-aggregate pipeline, no join") {
    val p = plan("q_d_exact_dedup")
    assert(p.contains("HashAggregate"))
    assert(!p.toLowerCase.contains("join"), "dedup must not join")
  }

  test("blocked Jaccard join keys on the block columns, no cross join") {
    val p = optimized("q_d_jaccard_pairs")
    assert(p.contains("Join Inner") && p.contains("lang"),
      "pair generation must be an equi-join on block keys")
  }

  test("partial aggregation (map-side combine) in the flagship aggregate") {
    val p = plan("q_flagship_tag_freq")
    // two HashAggregate nodes around the exchange = partial + final
    assert("HashAggregate".r.findAllIn(p).length >= 2)
    assert(p.contains("Exchange hashpartitioning"))
  }

  test("scale-way synthesis prunes the part scan to its two source columns") {
    val p = plan("q_osm_complete_scale")
    assert(p.contains("p_partkey") && p.contains("p_size") &&
      !p.contains("p_name") && !p.contains("p_retailprice"),
      s"part scan should read only p_partkey/p_size:\n$p")
  }

  test("dedup self-joins reuse one exchange, no pinned cache (minhash/simhash)") {
    Seq("q_d_minhash_pairs", "q_d_simhash_pairs").foreach { q =>
      val df = SparkEntry.queries(q)(spark, sf)
      df.collect() // AQE finalizes reuse decisions at execution
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("ReusedExchange"),
        s"$q: signature agg should feed both join sides via ReuseExchange")
      assert(!p.contains("InMemoryTableScan"),
        s"$q: no executor-storage cache expected")
    }
  }

  test("array-form split runs in <= 3 shuffles (its design contract)") {
    val p = plan("q_osm_split_array")
    val hashEx = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") && !l.contains("Reused"))
    assert(hashEx <= 3, s"expected <=3 hash exchanges, plan:\n$p")
    assert(!p.contains("Window"), "array form must not need a window")
  }

  test("decontamination broadcasts the benchmark gram set into a semi-join") {
    val p = plan("q_t_decontam")
    assert(p.contains("BroadcastHashJoin LeftSemi") ||
      p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"benchmark grams should broadcast, plan:\n$p")
  }

  test("whole-stage codegen covers the scan->project->filter hot paths") {
    // AQE only annotates codegen stages in the FINAL plan — execute first
    Seq("q_t_text_stats", "q_f_math_case", "q_t_quality").foreach { q =>
      val df = SparkEntry.queries(q)(spark, sf)
      df.collect() // the write path spawns its own QueryExecution; collect
                   // finalizes THIS one's adaptive plan
      val p = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      assert(p.contains("codegen id"), s"$q should codegen:\n$p")
    }
  }

  test("median imputation broadcasts the per-class median table") {
    val t = osm.OsmModel.microFixture(spark)
    val df = osm.RoadGraph.imputeSpeedLimits(
      osm.RoadGraph.excludeModes(osm.RoadGraph.carNetwork(t.ways)))
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"))
    // the median is the built-in, not a typed Aggregator (ScalaAggregator)
    df.collect()
    val udafs = new AdaptiveSparkPlanHelper {}.collectWithSubqueries(
        df.queryExecution.executedPlan) { case n => n.expressions }
      .flatten.flatMap(_.collect { case a: ScalaAggregator[_, _, _] => a })
    assert(udafs.isEmpty, udafs)
  }

  test("AQE is enabled in the session") {
    assert(spark.conf.get("spark.sql.adaptive.enabled") === "true")
  }

  test("createTopology has no partition-less window (dense ids via two-phase offsets)") {
    // a global Window.orderBy funnels every distinct vertex (~10^8 at
    // planet scale) through ONE task — the id assignment must show up
    // as range partitioning + zipWithIndex instead
    // a bare two-edge frame so the audited plan holds ONLY
    // createTopology's own operators (the road-network build upstream
    // has its own — partitioned, legitimate — windows)
    import spark.implicits._
    val net = Seq(
      (1L, Seq((0.0, 0.0), (1.0, 1.0))),
      (2L, Seq((1.0, 1.0), (2.0, 2.0)))).toDF("edge_id", "pts")
      .select($"edge_id",
        expr("transform(pts, p -> struct(p._1 as lon, p._2 as lat))").as("geom"))
    val topo = osm.GeometricSplit.createTopology(net)
    val p = topo.queryExecution.executedPlan.toString
    assert(!p.contains("Window"),
      s"createTopology must not use any window:\n$p")
    // the id ordering itself lives in the zipWithIndex input frame (a
    // separate RDD lineage) — assert IT is a range exchange, i.e. the
    // total order is distributed, not a single-partition sort
    val cells = osm.GeometricSplit.sortedDistinctCells(
      osm.GeometricSplit.snapEndpoints(net, 1e-4))
    val cp = cells.queryExecution.executedPlan.toString
    assert(cp.contains("rangepartitioning"),
      s"cell ordering should be a range exchange:\n$cp")
    assert(!cp.contains("SinglePartition") && !cp.contains("Window"),
      s"no single-partition collapse in the id path:\n$cp")
  }

  test("true-crossing split pairs come from a cell equi-join, not all-pairs") {
    val p = plan("q_osm_cross_split")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"crossing candidates must never be an all-pairs join:\n$p")
  }

  test("blades-alt pairs come from a cell equi-join, not all-pairs") {
    val p = plan("q_osm_blades_alt")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"blades-alt way pairs must ride the bbox-cell equi-join:\n$p")
  }

  test("pgRouting edge rows: result is path-sized driver state, not graph lineage") {
    // routeEdgeRows runs its pair lookup as ONE eager broadcast join
    // (pairs side broadcast, collected once) and expands path-sized
    // state on the driver — the returned relation must therefore be a
    // LocalTableScan with no distributed lineage (a plan that re-reads
    // the graph per consumer would re-run the whole route)
    Seq("q_osm_route_edges", "q_osm_ksp_edges").foreach { q =>
      val p = plan(q)
      assert(p.contains("LocalTableScan") && !p.contains("Join") &&
        !p.contains("Scan parquet"),
        s"$q should be a driver-local path-sized relation:\n$p")
    }
  }

  test("top-ngrams is partial-agg + top-k heap, never a global vocabulary sort") {
    val p = plan("q_t_top_ngrams")
    assert(p.contains("TakeOrderedAndProject"),
      s"orderBy.limit should plan as TakeOrderedAndProject:\n$p")
    // exactly one HASH exchange: the gram hash-agg shuffle (map-side
    // partials before it); a second would mean the vocabulary is
    // globally sorted. (The upstream round-robin spread of the
    // single-split documents scan is a deliberate non-hash exchange —
    // see QueryHelpers.spreadDocs — and doesn't move grouped data.)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges === 1,
      s"expected 1 hash exchange, got $exchanges:\n$p")
    assert(!p.contains("Sort "), s"no global vocabulary sort:\n$p")
    assert(p.contains("partial_count") || p.contains("HashAggregate"),
      s"gram counting should be a hash aggregate with partials:\n$p")
  }

  test("gopher filter is scan-local: zero exchanges, whole-stage codegen") {
    // audit the operator, not the gate query — the query's trailing
    // orderBy adds a range exchange that exists only for the oracle's
    // deterministic row order
    val p = graft.llm.Curation.gopherFilter(
        Tables.documents(spark, sf), "doc_id", col("text"))
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange") && !p.contains("Sort") &&
      !p.contains("Aggregate"),
      s"per-rule booleans must not shuffle (scan-local project):\n$p")
    // one pass over one scan; the stopword HOF keeps the Project itself
    // off codegen (CodegenFallback, like qualityFeatures) but the cost
    // stays per-row and scan-local — the property that matters at 100 TB
    assert("FileScan".r.findAllIn(p).length === 1,
      s"exactly one scan pass:\n$p")
  }

  test("repetition stats expression evaluates once per row (no per-field inlining)") {
    // projecting both struct fields must NOT duplicate the expression:
    // the struct is aliased in its own projection and CollapseProject
    // won't inline a non-cheap alias referenced twice
    val df = SparkEntry.queries("q_t_repetition")(spark, sf)
    df.collect() // finalize the adaptive plan so codegen stages are annotated
    // the adaptive dump repeats the tree under "== Initial Plan ==" — audit
    // only the final plan
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    val hits = "repetition_stats".r.findAllIn(p).length
    assert(hits === 1, s"repetition_stats appears $hits times in plan:\n$p")
    val formatted = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(formatted.contains("codegen id"), "repetition path should be codegen'd")
  }

  test("int8 quantization: scale fold evaluates once per ROW, not per element") {
    // withInt8 materializes the O(dim) array_max fold as its own alias
    // and the codes bind it once per row; a fold inside the codes lambda
    // would run per element — O(dim²) per row (VERDICT r7 #2). The alias
    // is referenced by the codes and by the scale output, which keeps
    // the projection split, so the fold appears once; this pins that.
    val df = SparkEntry.queries("q_s_quantize")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // the scale fold is array_max OVER THE ABS-TRANSFORM (the query's
    // own code_max output is a plain array_max over the codes — not it)
    val hits = "array_max\\(transform".r.findAllIn(p).length
    assert(hits === 1, s"scale fold appears $hits times in plan:\n$p")
  }

  test("distance join: grid equi-join, never a cartesian or nested-loop pair join") {
    val df = SparkEntry.queries("q_geo_dwithin")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"ST_DWithin must bucket, not pair all points:\n$p")
    assert(p.contains("HashJoin"), s"cell join should be a hash equi-join:\n$p")
  }

  test("nearest join: grid equi-join + hash-agg argmin, no window sort") {
    val df = SparkEntry.queries("q_geo_nearest")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"nearest must bucket, not pair all points:\n$p")
    assert(p.contains("HashJoin"), s"cell join should be a hash equi-join:\n$p")
    // the per-query argmin is min(struct(dist, tid)): a hash aggregate
    // with map-side partials, NOT a row_number window (which would sort
    // every candidate list); partial_min proves the combine happens
    // before the qid exchange
    assert(p.contains("partial_min"), s"argmin should map-side combine:\n$p")
    assert(!p.contains("row_number"), s"no window-sort argmin:\n$p")
  }

  test("nearest-edge snap: cell equi-join + hash-agg argmin, no window") {
    val df = SparkEntry.queries("q_geo_snap")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"snap must bucket, not pair all points with all edges:\n$p")
    assert(p.contains("HashJoin"), s"cell join should be a hash equi-join:\n$p")
    assert(p.contains("partial_min"), s"argmin should map-side combine:\n$p")
    assert(!p.contains("row_number"), s"no window-sort argmin:\n$p")
  }

  test("passage dedup: hashed-key heavy-hitter join-back, per-doc window only") {
    val df = SparkEntry.queries("q_d_dup_passages")(spark, sf)
    df.collect() // finalize AQE so join strategies are the real ones
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // the flagged-gram set is small by construction -> broadcast, and
    // the join key is the 64-bit hash, never the gram string
    assert(p.contains("BroadcastHashJoin"), s"join-back should broadcast:\n$p")
    assert(p.contains("xxhash64"), s"count/join key should be hashed:\n$p")
    // islands window must be partitioned by document, never global
    assert(!p.contains("Window [") || !p.contains("windowspecdefinition()"),
      s"no partition-less window:\n$p")
    assert("windowspecdefinition\\(doc_id".r.findFirstIn(p).isDefined,
      s"islands window should partition by doc_id:\n$p")
  }

  test("paragraph dedup: hashed winner key, no corpus-wide window, partial agg") {
    val df = SparkEntry.queries("q_d_paragraph_dedup")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // first-occurrence winners come from a hash-agg on xxhash64(chunk),
    // with map-side partials (partial_min) absorbing boilerplate skew —
    // NEVER a row_number window over the chunk text
    assert(p.contains("xxhash64"), s"winner key should be hashed:\n$p")
    assert(p.contains("partial_min"), s"winner agg should map-side combine:\n$p")
    assert(!p.contains("Window "), s"no window anywhere in paragraph dedup:\n$p")
  }

  test("triangle counting: keyed equi-joins only, partial counts, no window") {
    val df = SparkEntry.queries("q_osm_triangles")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // wedge + closing joins are hash equi-joins (cartesian is globally
    // asserted away); degree/triangle counts partial-aggregate
    assert(p.contains("partial_count"), s"counts should map-side combine:\n$p")
    assert(!p.contains("Window "), s"no window in triangle counting:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"no nested-loop join in triangle counting:\n$p")
  }

  test("lpa final labels: flat checkpointed plan, struct-min argmax without window") {
    val df = SparkEntry.queries("q_osm_lpa")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // per-round localCheckpoint cuts lineage: the final plan must be a
    // scan of the last round's checkpoint, not 3 rounds of join lineage
    assert(!p.contains("Window "), s"argmax must be the struct-min agg:\n$p")
    assert(p.contains("Scan ExistingRDD") || p.contains("LocalTableScan"),
      s"final plan should read the checkpoint, not re-derive rounds:\n$p")
  }

  test("curation pipeline e2e: no window, no nested-loop, dedup is a hash-agg, decontam gram set broadcasts") {
    val df = SparkEntry.queries("q_t_pipeline")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!p.contains("Window "), s"no window in the pipeline:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"no nested-loop join in the pipeline:\n$p")
    // exact dedup = min-per-content-hash hash agg with map-side partials
    assert(p.contains("partial_min"), s"dedup should map-side combine:\n$p")
    // decontamination's benchmark gram set is tiny -> broadcast semi join
    assert(p.contains("BroadcastHashJoin") &&
      p.contains("LeftSemi"), s"decontam semi-join should broadcast:\n$p")
    assert(p.contains("LeftAnti"), s"contaminated ids anti-join back:\n$p")
  }

  test("lm score: model relation cached once, feeds every consumer") {
    val df = SparkEntry.queries("q_t_lm_score")(spark, sf)
    df.collect()
    // count over the FULL adaptive string: the cache's consumers sit
    // inside nested broadcast-stage subtrees that the top-level final
    // plan elides. The regression this guards is "persist() removed" —
    // which zeroes InMemoryTableScan everywhere and re-explodes the
    // corpus once per consumer (ReuseExchange misses because pruning
    // differentiates the subtrees)
    val p = df.queryExecution.executedPlan.toString
    assert("InMemoryRelation".r.findAllIn(p).nonEmpty,
      s"model should be cached:\n$p")
    assert("InMemoryTableScan".r.findAllIn(p).length >= 2,
      s"cache should have multiple consumers:\n$p")
    spark.catalog.clearCache()
  }

  test("native expressions COMPILE under codegen (no silent interpreter fallback)") {
    // "the plan says WholeStageCodegen" is not enough: if the generated
    // static call doesn't resolve (e.g. a companion method named `eval`
    // gets no static forwarder because the class inherits
    // Expression.eval), Janino fails at RUNTIME and Spark silently
    // degrades the projection to interpreted mode — the plan string
    // never changes. Forcing GenerateUnsafeProjection turns that
    // degradation into a test failure.
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.catalyst.util.ArrayData
    val toks = BoundReference(0, ArrayType(StringType), nullable = true)
    val vec = BoundReference(1, ArrayType(DoubleType), nullable = true)
    val txt = BoundReference(2, StringType, nullable = true)
    val mat = functions.ConstMatrix(Array(Array(1.0, 0.0), Array(0.0, 1.0)))
    val ptType = StructType(Seq(StructField("lon", DoubleType),
      StructField("lat", DoubleType)))
    val line = BoundReference(3, ArrayType(ptType), nullable = true)
    val codes = BoundReference(4, ArrayType(IntegerType), nullable = true)
    val exprs = Seq(
      functions.RepetitionStats(toks),
      functions.MatVec(mat, vec),
      functions.ExtractInts(txt),
      functions.NfcNormalize(txt),
      functions.SimplifyLine(line, Literal(0.5)),
      functions.ClosestPointOnLine(line, Literal(1.0), Literal(1.0)),
      functions.OuterUpper(vec),
      functions.IntDot(codes, codes),
      functions.EarTriangulate(line))
    val proj = GenerateUnsafeProjection.generate(exprs) // throws on Janino error
    val row = org.apache.spark.sql.catalyst.InternalRow(
      ArrayData.toArrayData(Array(
        org.apache.spark.unsafe.types.UTF8String.fromString("a"),
        org.apache.spark.unsafe.types.UTF8String.fromString("a"))),
      ArrayData.toArrayData(Array(3.0, 4.0)),
      org.apache.spark.unsafe.types.UTF8String.fromString("x1 café 22"),
      new org.apache.spark.sql.catalyst.util.GenericArrayData(Array[Any](
        org.apache.spark.sql.catalyst.InternalRow(0.0, 0.0),
        org.apache.spark.sql.catalyst.InternalRow(1.0, 0.1),
        org.apache.spark.sql.catalyst.InternalRow(2.0, 0.0))),
      ArrayData.toArrayData(Array(3, 4)))
    val out = proj(row)
    assert(out.getStruct(0, 2).getDouble(0) === 0.5) // dup_token_frac
    assert(out.getArray(1).getDouble(0) === 3.0)     // identity matvec
    assert(out.getArray(2).getInt(0) === 1)          // extract_ints
    assert(out.getArray(4).numElements() === 2)      // mid vertex within eps
    // closest point on the (0,0)->(2,0) chord... the line dips to
    // (1,0.1); nearest to (1,1) is the middle vertex
    assert(math.abs(out.getStruct(5, 3).getDouble(0) - 0.81) < 1e-15)
    // outer_upper of [3,4]: [3, 4, 9, 12, 16]
    assert(out.getArray(6).toDoubleArray().toSeq === Seq(3.0, 4.0, 9.0, 12.0, 16.0))
    assert(out.getLong(7) === 25L)                   // int_dot [3,4]·[3,4]
    assert(out.getArray(8).numElements() === 1)      // one CCW triangle
  }

  test("MatVec keeps its matrix out of the plan string (q_d_embedding_pairs at sf0.01)") {
    // the 384x64 LSH plane matrix held as a Literal child made this
    // plan 3.9 M characters, formatted again at every execution start
    // and AQE update; the ConstMatrix prints by shape and hash
    val df = SparkEntry.queries("q_d_embedding_pairs")(spark,
      "/root/testdata/sf0.01")
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.length < 64 * 1024, s"plan is ${p.length} chars")
    assert(p.contains("matvec(matrix[384x64#"), "plan should name the matrix by shape")
    assert(p.contains("ReusedExchange"),
      "both bucket sides should read one exchange")
  }

  test("MatVecs over equal matrices are semanticEquals, over different ones not") {
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val v = BoundReference(0, ArrayType(DoubleType), nullable = true)
    def mv(rows: Array[Array[Double]]) =
      functions.MatVec(functions.ConstMatrix(rows), v)
    val a = mv(Array(Array(1.0, 2.0), Array(3.0, 4.0)))
    val b = mv(Array(Array(1.0, 2.0), Array(3.0, 4.0))) // equal content, new arrays
    assert(a.semanticEquals(b) && a.semanticHash() == b.semanticHash())
    assert(!a.semanticEquals(mv(Array(Array(1.0, 2.0), Array(3.0, 5.0)))))
    assert(!a.semanticEquals(mv(Array(Array(1.0, 2.0)))))
    assert(a.toString.startsWith("matvec(matrix[2x2#"), a.toString)
  }

  test("SQL matvec(matrix, vec) returns the Column form's rows") {
    val session = spark
    import session.implicits._
    val df = Seq(Tuple1(Seq(3.0, 4.0)), Tuple1(Seq(-1.5, 0.25, 9.0)),
      Tuple1(null: Seq[Double])).toDF("v")
    val viaSql = df.selectExpr(
      "matvec(array(array(1d, 0d), array(0d, 1d)), v) AS r").collect()
    val viaColumn = df.select(functions.GraftFunctions.matVec(
      Seq(Seq(1.0, 0.0), Seq(0.0, 1.0)), $"v").as("r")).collect()
    assert(viaSql.toSeq === viaColumn.toSeq)
    assert(viaSql.head.getSeq[Double](0) === Seq(3.0, 4.0))
    assert(viaSql.last.isNullAt(0))
  }

  test("matvec over a non-foldable matrix fails with the literal message") {
    val df = spark.range(1).selectExpr("array(1d, 2d) AS v")
    val e = intercept[Exception](
      df.selectExpr("matvec(array(v, v), v) AS r").collect())
    val msgs = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).flatMap(t => Option(t.getMessage))
    assert(msgs.exists(_.contains("matvec: matrix must be a literal")), e)
  }

  test("convex hull aggregate runs with map-side partials (O(hull) state ships)") {
    val p = plan("q_geo_hull")
    // partial + final ObjectHashAggregate around the group exchange:
    // the compacted hull buffer is what crosses the wire, not the group
    assert("ObjectHashAggregate".r.findAllIn(p).length >= 2,
      s"expected partial+final object hash agg:\n$p")
    assert(p.contains("Exchange hashpartitioning"))
    assert(!p.contains("CartesianProduct") && !p.contains("SortAggregate"))
  }

  test("points-in-polygons join: cell equi-join, never all-pairs") {
    val df = SparkEntry.queries("q_geo_pip_join")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"ST_Contains join must bucket, not pair all rows:\n$p")
    assert(p.contains("HashJoin"), s"cell join should be a hash equi-join:\n$p")
    // Geo.bboxCells binds the ring's lon array once for its min and max
    val o = df.queryExecution.optimizedPlan.toString
    assert("""transform\(__ring#\d+, lambdafunction\(lambda \w+#\d+\.lon""".r
      .findAllIn(o).size === 1, s"one lon projection of the ring:\n$o")
  }

  test("r12 operators keep their scale shapes (PQ, IVF-PQ, SemDeDup, multipolygon)") {
    // PQ ADC: the per-query distance tables ride a broadcast, never a
    // shuffled pair join
    val pq = plan("q_s_pq_adc")
    assert(pq.contains("BroadcastExchange"),
      s"query ADC tables should broadcast:\n$pq")
    // IVF-PQ: the cell prune is a broadcast hash EQUI-join on the cell
    // id — the candidate set shrinks before any scoring
    val ip = plan("q_s_ivfpq")
    assert(ip.contains("BroadcastHashJoin"),
      s"cell prune should be a broadcast hash join:\n$ip")
    // SemDeDup: pair generation is an equi-join on the cluster id (the
    // clustering IS the blocking — no all-pairs)
    val sd = optimized("q_d_semantic_pairs")
    assert(sd.contains("Join Inner") && sd.contains("cluster"),
      s"pair generation must equi-join on cluster:\n$sd")
    // point-in-multipolygon: hole subtraction is a real LeftAnti; the
    // containment legs are cell equi-joins, never point x polygon pairs
    val mp = plan("q_rel_mp_contains")
    assert(mp.contains("LeftAnti"), s"holes should anti-join:\n$mp")
    assert(!mp.contains("BroadcastNestedLoopJoin") &&
      !mp.contains("CartesianProduct"),
      s"containment must stay a cell equi-join:\n$mp")
  }

  test("r15 operators keep their scale shapes (substring dedup, restricted route, buffer)") {
    // exact substring dedup: the hash prefilter must be a real
    // LeftSemi (the unique gram mass dies before any string shuffle),
    // winners a hash-agg, and nothing cartesian. Since r21 the survivor
    // relation is checkpointed (it feeds two consumers), so the
    // prefilter's shape is audited on the LAZY survivor prefix and the
    // final plan is audited for the downstream properties.
    import org.apache.spark.sql.functions.{col => fcol}
    val sdDocs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select(fcol("doc_id"), fcol("text"))
    val sdToks = sdDocs.select(fcol("doc_id"),
      graft.llm.TextAnalysis.tokens(fcol("text")).as("__toks"))
    val sv = graft.llm.Dedup.substringSurvivors(sdToks, "doc_id", 12)
      .queryExecution.executedPlan.toString
    assert(sv.contains("LeftSemi"), s"hash prefilter should semi-join:\n$sv")
    assert(!sv.contains("CartesianProduct") &&
      !sv.contains("BroadcastNestedLoopJoin"),
      "substring survivor prefix must stay keyed")
    val sd = plan("q_d_substring_dedup")
    assert(!sd.contains("CartesianProduct") &&
      !sd.contains("BroadcastNestedLoopJoin"),
      "substring dedup must stay keyed")
    // turn-restricted routing: the SSSP loop materializes eagerly, so
    // audit the LINE-GRAPH frame itself — keyed equi-join on the via
    // node, ban prune a real LeftAnti, nothing cartesian
    import spark.implicits._
    val rEdges = Seq((1L, 1L, 2L, 1L, 201L), (2L, 2L, 4L, 1L, 202L))
      .toDF("edge_id", "start_node", "end_node", "w", "way_id")
    val rBans = Seq((201L, 2L, 202L, "no"))
      .toDF("from_way", "via_node", "to_way", "kind")
    val rr = osm.GraphCheck.restrictedLineGraph(rEdges, rBans)
      .queryExecution.executedPlan.toString
    assert(rr.contains("LeftAnti"), s"bans should anti-join:\n$rr")
    assert(!rr.contains("CartesianProduct") &&
      !rr.contains("BroadcastNestedLoopJoin"),
      s"line-graph expansion must stay keyed:\n$rr")
    // ST_Buffer: the offset/arc construction is pure per-row HOF work —
    // after the bbox aggregate there is no further exchange and no join
    val gb = plan("q_geo_buffer")
    assert(!gb.toLowerCase.contains("join"), s"buffer must not join:\n$gb")
    // via-way shadow states: restriction resolution broadcasts (the
    // table is KB-class), the F->V kill is a real LeftAnti, nothing
    // cartesian — audited on the returned state-graph frame
    val vEdges = Seq((1L, 1L, 2L, 1L, 101L), (2L, 2L, 3L, 1L, 102L),
      (3L, 3L, 4L, 1L, 103L))
      .toDF("edge_id", "start_node", "end_node", "w", "way_id")
    val vRestr = Seq((101L, Option.empty[Long], Option(102L), 103L, "no"))
      .toDF("from_way", "via_node", "via_way", "to_way", "kind")
    val (vlg, _) = osm.GraphCheck.restrictedStateGraph(vEdges, vRestr)
    val vp = vlg.queryExecution.executedPlan.toString
    assert(vp.contains("LeftAnti"), s"F->V kill should anti-join:\n$vp")
    assert(vp.contains("BroadcastHashJoin"),
      s"restriction resolution should broadcast:\n$vp")
    assert(!vp.contains("CartesianProduct"),
      s"shadow construction must stay keyed:\n$vp")
  }

  test("louvain phase 2: weighted round is window-free, coarsen is keyed joins + hash-agg; 50k-clique chain pairs exactly") {
    import spark.implicits._
    // plan shape of ONE weighted round (the loop materializes eagerly,
    // so audit the round frame): argmax via struct-min hash-agg — no
    // Window; the only non-equi join is the sanctioned broadcast of
    // the scalar 2W; coarsen is two keyed joins into one hash-agg
    val we = Seq((1L, 1L, 6L), (1L, 2L, 1L), (2L, 2L, 6L))
      .toDF("start_node", "end_node", "w")
    val wl = Seq((1L, 1L), (2L, 2L)).toDF("node_id", "label")
    val wp = osm.GraphCheck.refineCommunitiesWeighted(we, wl, Some(1))
      .queryExecution.executedPlan.toString
    assert(!wp.contains("Window"),
      s"weighted refine must argmax via struct-min, not a window:\n$wp")
    assert(!wp.contains("CartesianProduct"), "no cartesian in refine")
    val ce = Seq((1L, 2L), (2L, 3L)).toDF("start_node", "end_node")
    // localThreshold = 0 forces the distributed form: the keyed-join
    // shape is a property OF that form (the broadcast-local path is a
    // LocalTableScan)
    val cp = osm.GraphCheck.coarsenGraph(ce, wl.unionByName(
        Seq((3L, 2L)).toDF("node_id", "label")), localThreshold = 0L)
      .queryExecution.executedPlan.toString
    assert(cp.contains("HashAggregate") && !cp.contains("CartesianProduct")
      && !cp.contains("Window"), s"coarsen must stay keyed:\n$cp")
    // scale witness: 50k K4 cliques in a chain (350k edges). Level-2
    // merges adjacent cliques pairwise — the modularity resolution
    // limit makes every pairing Q-positive at this m — and the parity
    // alternation lands the exact {2j, 2j+1} pairing with NO
    // oscillation: final label of node n is (n div 8) * 2.
    val n = 50000L
    val (chainEdges, labels) = osm.GraphFixtures.cliqueChain(spark, n)
    val two = osm.GraphCheck.louvainTwoLevel(
      chainEdges, labels, level1Rounds = 0, level2Rounds = 2)
    val bad = two
      .filter(col("label") =!= floor(col("node_id") / 8) * 2).count()
    assert(bad === 0L, s"$bad nodes off the exact pairwise merge")
    assert(two.select(countDistinct(col("label"))).head().getLong(0)
      === n / 2)
  }

  test("coreness round plan is window-free (histogram fold, not a ranking window)") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L))
      .toDF("start_node", "end_node")
    val sym = edges
      .select(col("start_node").as("a"), col("end_node").as("b"))
      .unionByName(
        edges.select(col("end_node").as("a"), col("start_node").as("b")))
      .filter(col("a") =!= col("b")).distinct()
    val vals = sym.groupBy(col("a")).agg(count(lit(1)).as("value"))
      .select(col("a").as("node_id"), col("value"))
    val round = osm.GraphCheck.corenessRound(sym, vals)
    val p = round.queryExecution.executedPlan.toString
    assert(!p.contains("Window"),
      s"coreness round must histogram-fold, never rank in a window:\n$p")
    // and the fold really runs: one round of H-index on this fixture
    val got = round.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 2L, 2L -> 2L, 3L -> 2L, 4L -> 1L))
  }

  test("coreness skewed hub: a 200k-degree star folds through the histogram, no per-neighbor rows") {
    // A celebrity hub is the topology the old sorted-window path
    // straggles on (one partition gets all 200k neighbor rows). The
    // histogram path reduces the hub's neighbors map-side to <= values
    // x partitions rows, so this completes in seconds. Correctness:
    // star core = 1 for every node; with a K4 welded onto spoke 1 the
    // clique keeps core 3.
    import spark.implicits._
    val n = 200000L
    val star = spark.range(1L, n + 1).select(lit(0L).as("start_node"),
      col("id").as("end_node"))
    val k4 = Seq((1L, n + 1), (1L, n + 2), (1L, n + 3), (n + 1, n + 2),
      (n + 1, n + 3), (n + 2, n + 3)).toDF("start_node", "end_node")
    val core = osm.GraphCheck.coreness(star.unionByName(k4), rounds = 4)
    val stats = core.agg(
      max(when(col("node_id") === 0L, col("coreness"))).as("hub"),
      max(when(col("node_id") >= 2L && col("node_id") <= n,
        col("coreness"))).as("spoke_max"),
      min(when(col("node_id") > n, col("coreness"))).as("clique_min"))
      .head()
    assert(stats.getLong(0) === 1L, "hub of a star has coreness 1")
    assert(stats.getLong(1) === 1L, "pure spokes have coreness 1")
    assert(stats.getLong(2) === 3L, "welded K4 keeps coreness 3")
  }

  test("r17 operators keep their scale shapes (heavy hitters, CDC dedup)") {
    // heavy hitters: pass 2's candidate join must BROADCAST (<= k
    // rows), the full-cardinality item column must never be a join or
    // window key, and the sketch pass must run with partial aggregation
    // (ObjectHashAggregate partial_misra_gries before the exchange)
    val hh = plan("q_t_heavy_hitters")
    assert(hh.contains("BroadcastHashJoin"),
      "candidate recount must broadcast the <= k sketch items")
    assert(!hh.contains("SortMergeJoin"),
      "no sort-merge join anywhere in the two-pass plan")
    assert(hh.contains("partial_misra_gries"),
      "sketch must ship partial per-partition summaries")
    // CDC dedup: windows only per-doc (partitioned), winner selection
    // is a hash-agg on the hashed key, no corpus-wide window or
    // nested-loop anywhere
    val cdc = plan("q_d_cdc_dedup")
    assert(!cdc.contains("BroadcastNestedLoopJoin") &&
      !cdc.contains("CartesianProduct"))
    val cdcOpt = optimized("q_d_cdc_dedup")
    assert(!cdcOpt.contains("windowspecdefinition()"),
      "no unpartitioned window in CDC dedup")
    assert(cdcOpt.contains("xxhash64"),
      "winner selection must key on the hashed chunk, not the string")
  }

  test("every top-k-per-query ANN path plans as WindowGroupLimit rank " +
      "pushdown, not a full-window sort (VERDICT r19 item 7)") {
    // the row_number()-then-filter idiom is only 100 TB-safe because
    // Spark rewrites it to WindowGroupLimit (a per-partition top-k heap
    // BEFORE the exchange, so candidate rows never all shuffle); a
    // Spark upgrade or a refactor that breaks the rewrite would
    // silently regress to sort-the-world. Pin it on all three serve
    // paths: PQ-ADC brute, residual IVF-PQ codes serve (the IndexStore
    // path, witnessed in PLANS/q_s_index_persist.md), and the
    // reduced-space rescore.
    import graft.llm.Similarity
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val qs = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val cents = Similarity.initCentroids(emb, "vec_id", "embedding", 8)
    val cb = Similarity.pqCodebooksFixed(
      Similarity.residualCorpus(emb, "vec_id", "embedding", cents)
        .filter(col("vec_id").between(8, 23)),
      "vec_id", "embedding", m = 8, k = 16)
    def pin(tag: String, df: DataFrame): Unit = {
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("WindowGroupLimit"),
        s"$tag lost WindowGroupLimit rank pushdown:\n$p")
    }
    pin("pqAdcTopK",
      Similarity.pqAdcTopK(emb, qs, "vec_id", "embedding", "query_id",
        k = 5, cb))
    pin("searchIvfPqResidualCodes",
      Similarity.searchIvfPqResidualCodes(
        Similarity.encodeIvfPqResidual(emb, "vec_id", "embedding", cents, cb),
        qs, "vec_id", "embedding", "query_id", k = 5, cents, nprobe = 2, cb))
    val red = Similarity.withInt8(emb, col("embedding"), "__s", "__c")
      .select(col("vec_id"),
        transform(col("__c"), x => x.cast("double")).as("red"))
    val redQs = red.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("red"))
    pin("rescoreTopKPerQuery",
      Similarity.rescoreTopKPerQuery(emb, red, qs, redQs, "vec_id",
        "embedding", "red", "query_id", k = 5, candK = 20))
  }
}

/** Lambda audit: a higher-order function evaluates its lambda body once
  * per element, and Catalyst eliminates no common subexpression across
  * those calls. A row-invariant array, map, string or binary subtree
  * inside the body is therefore rebuilt per element — a document split
  * once per n-gram window is O(L²) for an L-token text. */
object LambdaAudit {
  import org.apache.spark.sql.catalyst.expressions.{ArrayAggregate, CreateArray,
    Expression, HigherOrderFunction, LambdaFunction, LeafExpression,
    NamedLambdaVariable}
  import org.apache.spark.sql.catalyst.plans.QueryPlan
  import org.apache.spark.sql.execution.columnar.InMemoryRelation
  import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, MapType, StringType}

  private def heavy(t: DataType): Boolean = t match {
    case _: ArrayType | _: MapType | _: StringType | BinaryType => true
    case _ => false
  }

  /** The lambdas `h` runs once per element. A HOF over one-element
    * arrays (`GraftFunctions.let`'s binding form) runs its body once per
    * row, and `aggregate`'s finish runs once per row. */
  private def perElement(h: HigherOrderFunction): Seq[Expression] = h match {
    case _ if h.arguments.forall {
      case CreateArray(Seq(_), _) => true
      case _ => false
    } => Nil
    case a: ArrayAggregate => Seq(a.merge)
    case _ => h.functions
  }

  private def lambdaVars(e: Expression) =
    e.collect { case f: LambdaFunction => f.arguments }.flatten
      .collect { case v: NamedLambdaVariable => v.exprId }.toSet

  /** Lambda variables `e` reads but does not bind itself. */
  private def freeVars(e: Expression) =
    e.collect { case v: NamedLambdaVariable => v.exprId }.toSet -- lambdaVars(e)

  /** The SQL of every maximal non-leaf, deterministic, non-foldable
    * subtree of a per-element lambda body that reads no variable bound by
    * that lambda or by a lambda nested in it, and that yields (itself or
    * in a non-leaf part) an array, map, string or binary. */
  def findings(e: Expression): Seq[String] =
    e.collect { case h: HigherOrderFunction => perElement(h) }.flatten.collect {
      case l: LambdaFunction =>
        val bound = lambdaVars(l)
        def invariant(x: Expression): Boolean =
          !x.isInstanceOf[LeafExpression] && x.deterministic && !x.foldable &&
            freeVars(x).intersect(bound).isEmpty &&
            x.exists(y => !y.isInstanceOf[LeafExpression] && heavy(y.dataType))
        def walk(x: Expression): Seq[String] =
          if (invariant(x)) Seq(x.sql) else x.children.flatMap(walk)
        walk(l.function)
    }.flatten.distinct

  /** [[findings]] over every expression of a plan, its subqueries and
    * the plans behind its cached relations. */
  def findings(plan: QueryPlan[_]): Seq[String] = {
    val nested: Seq[QueryPlan[_]] = plan match {
      case r: InMemoryRelation => Seq(r.cacheBuilder.cachedPlan)
      case _ => Nil
    }
    (plan.expressions.flatMap(findings) ++
      (plan.children ++ plan.subqueries ++ nested)
        .flatMap(p => findings(p.asInstanceOf[QueryPlan[_]]))).distinct
  }
}

class LambdaAuditSpec extends SparkTestBase {
  private val sf = "/root/testdata/sf0.001"

  test("lambda audit flags a per-window re-split and passes a bound token array") {
    val docs = spark.range(1)
      .select(concat(lit("a b c "), col("id").cast("string")).as("text"))
    val toks = split(col("text"), "\\s+")
    val resplit = docs.select(transform(sequence(lit(0), size(toks) - 2),
      i => array_join(slice(toks, i + 1, lit(2)), " ")).as("g"))
    val found = LambdaAudit.findings(resplit.queryExecution.optimizedPlan)
    assert(found.exists(_.startsWith("split(")), found)
    val bound = docs.select(element_at(transform(array(toks), t =>
      transform(sequence(lit(0), size(t) - 2),
        i => array_join(slice(t, i + 1, lit(2)), " "))), 1).as("g"))
    assert(LambdaAudit.findings(bound.queryExecution.optimizedPlan).isEmpty)
    assert(resplit.collect().toSeq === bound.collect().toSeq)
  }

  test("no registry query re-evaluates a row-invariant array or string per lambda element") {
    val found = SparkEntry.registry.flatMap { q =>
      LambdaAudit.findings(q.build(spark, sf).queryExecution.optimizedPlan)
        .map(s => s"${q.name}: $s")
    }
    spark.catalog.clearCache()
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }
}
