package graft.llm

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

import graft.functions.GraftFunctions.let

/** Similarity search over an embedding column (`ARRAY<FLOAT>`).
  *
  * Two paths, per the standard ANN playbook:
  *   - brute-force cosine top-k — the exact baseline; one scan of the
  *     corpus per query batch, no shuffle when queries are broadcast;
  *   - random-hyperplane LSH — the scale path: bucket on sign bits,
  *     equi-join query buckets to corpus buckets, exact-rescore only
  *     collisions.
  *
  * Math runs in double via codegen'd higher-order functions
  * (`zip_with` + `aggregate`) — no UDF in the hot path.
  */
object Similarity {

  /** Dot product of two array columns, accumulated in double. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Exact top-k by cosine for one literal query vector — corpus scan,
    * local top-k per partition then global k (orderBy+limit lets Spark
    * run TakeOrdered, no full sort materialization). */
  def bruteForceTopK(corpus: DataFrame, idCol: String, vecCol: String,
      query: Seq[Float], k: Int): DataFrame = {
    val q = typedlit(query)
    corpus.select(col(idCol), cosine(col(vecCol), q).as("cos"))
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)
  }

  /** Exact L2 top-k ground truth per query — the brute-force arm of a
    * recall gate: broadcast the query panel against the corpus, rank by
    * squared L2 (id tie-break). One full corpus scan. */
  def exactL2TopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, qidCol: String, k: Int): DataFrame = {
    val scored = corpus.select(col(idCol), col(vecCol))
      .crossJoin(broadcast(
        queries.select(col(qidCol), col(vecCol).as("__qv"))))
      .withColumn("__l2",
        dot(col(vecCol), col(vecCol))
          - dot(col(vecCol), col("__qv")) * 2
          + dot(col("__qv"), col("__qv")))
    val w = Window.partitionBy(qidCol).orderBy(col("__l2").asc, col(idCol))
    scored.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .select(col(qidCol), col(idCol))
  }

  // recall-gate ground truths, memoized per (session, caller key): the
  // exact arm is a MEASUREMENT, not part of the index path, and several
  // gates share a fixture (and re-read their own exact frame per arm) —
  // uncached it dominated their bench cost (q_s_ivfpq_resid_recall 48 s
  // cold vs a 1.9 s index path, r15 finding). Values are tiny
  // (|queries| x k ids), localCheckpoint'd so reuse costs no recompute.
  // Weak-keyed BY the session (reference identity, not identityHashCode,
  // which can collide across sessions): a stopped session's entries
  // become collectable instead of leaking, and a new session can never
  // resolve to a dead session's frames. NOTE the key still identifies
  // the fixture by path/params, not contents — regenerating a fixture
  // dir inside one long-lived session requires a fresh key (callers in
  // this repo never do; tests get a fresh session per suite).
  private val exactCache = new java.util.WeakHashMap[
    org.apache.spark.sql.SparkSession,
    java.util.concurrent.ConcurrentHashMap[String, DataFrame]]

  /** Memoize a ground-truth frame per (session, key); callers key by
    * fixture: data dir + corpus transform + panel + metric + k. */
  def memoizedGroundTruth(key: String,
      spark: org.apache.spark.sql.SparkSession)(
      body: => DataFrame): DataFrame = {
    val perSession = exactCache.synchronized {
      var m = exactCache.get(spark)
      if (m == null) {
        m = new java.util.concurrent.ConcurrentHashMap[String, DataFrame]
        exactCache.put(spark, m)
      }
      m
    }
    perSession.computeIfAbsent(key, _ => body.localCheckpoint(true))
  }

  /** [[exactL2TopK]] memoized per session and `key`. */
  def exactL2TopKCached(key: String, corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, qidCol: String, k: Int): DataFrame =
    memoizedGroundTruth(s"$key|l2|$k", corpus.sparkSession)(
      exactL2TopK(corpus, queries, idCol, vecCol, qidCol, k))

  /** Exact top-k per query row: broadcast the (small) query set against
    * the corpus, rank within each query. One corpus scan regardless of
    * query count. */
  def topKPerQuery(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, qidCol: String, k: Int): DataFrame = {
    val scored = corpus.crossJoin(
        broadcast(queries.select(col(qidCol), col(vecCol).as("__qv"))))
      .select(col(qidCol), col(idCol),
        cosine(col(vecCol), col("__qv")).as("cos"))
    val w = Window.partitionBy(qidCol).orderBy(col("cos").desc, col(idCol))
    scored.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k).drop("__rn")
  }

  /** Product-quantization codebooks (Jégou et al., TPAMI 2011 — the
    * IVF-PQ index family): split the `dim`-vector into `m` subspaces
    * and give each its own `k`-centroid codebook. This FIXED variant
    * slices the first `k` corpus vectors by id — same policy as
    * [[initCentroids]]: an independent SQL oracle can rebuild the
    * identical codebooks, so codes and ADC scores are value-checkable
    * (Lloyd-refined codebooks would need the recall-gate policy).
    * Returns `m × k × (dim/m)` doubles — driver-sized (8×16×8 = 1 KB),
    * broadcast as plan literals. */
  def pqCodebooksFixed(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int, k: Int): Seq[Seq[Seq[Double]]] = {
    // getSeq[Number], not [Float]: the corpus may be raw embeddings
    // (ARRAY<FLOAT>) or a residual transform (ARRAY<DOUBLE>)
    val firstK = corpus.orderBy(idCol).limit(k).select(vecCol).collect()
      .map(_.getSeq[Number](0).map(_.doubleValue).toIndexedSeq)
    val dim = firstK.head.length
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val sub = dim / m
    (0 until m).map(mi =>
      firstK.map(v => v.slice(mi * sub, (mi + 1) * sub): Seq[Double]).toSeq)
  }

  /** Lloyd-refined PQ codebooks — proper L2 Lloyd steps (assignment is
    * [[pqEncode]]'s own argmin, so training optimizes exactly what ADC
    * scores), and ALL m subspaces train in ONE job per iteration:
    * encode every vector's m codes in one expression, posexplode to
    * (subspace, code, sub-slice) rows, and a single (m·k)-group
    * VectorSum hash-agg yields every cluster mean at once (the same
    * one-pass shape [[kmeansCentroids]] uses, widened across
    * subspaces). Empty clusters keep their previous centroid. Like
    * Lloyd IVF, the refined centroids are partition-order float sums —
    * not value-checkable across engines — so queries built on these
    * gate on RECALL vs the exact search (the q_s_ivf_ann policy). */
  def pqCodebooksLloyd(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int, k: Int, iters: Int,
      init: Option[Seq[Seq[Seq[Double]]]] = None,
      trainMaxRows: Long = 0L): Seq[Seq[Seq[Double]]] = {
    // trainMaxRows > 0: Lloyd refinement scans a bounded hash-sample
    // (the 100 TB shape — see boundedTrainingSample); the caller's
    // encode pass still covers the full corpus.
    val train = boundedTrainingSample(corpus, idCol, trainMaxRows)
    val dim = train.select(vecCol).head().getSeq[Number](0).length
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val sub = dim / m
    val vecs = train.select(col(vecCol)).persist()
    var cbs = init.getOrElse(pqCodebooksFixed(train, idCol, vecCol, m, k))
    for (_ <- 1 to iters) {
      val means = vecs
        .select(posexplode(pqEncode(col(vecCol), cbs))
          .as(Seq("__mi", "__code")), col(vecCol))
        .select(col("__mi"), col("__code"),
          slice(col(vecCol), col("__mi") * sub + 1, lit(sub)).as("__sub"))
        .groupBy("__mi", "__code")
        .agg(graft.functions.GraftFunctions.vectorSum(col("__sub")).as("__s"),
          count(lit(1)).as("__n"))
        .collect()
        .map { r =>
          val n = r.getLong(3).toDouble
          (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2).map(_ / n).toSeq
        }.toMap
      cbs = cbs.zipWithIndex.map { case (cb, mi) =>
        cb.zipWithIndex.map { case (c, j) => means.getOrElse((mi, j), c) }
      }
    }
    vecs.unpersist()
    cbs
  }

  /** PQ encode: `ARRAY<INT>` of `m` codes — per subspace, the centroid
    * minimizing ‖v_m − c‖², computed as argmin(c·c − 2 c·v_m) (the
    * ‖v_m‖² term is constant within a subspace). Each subspace is one
    * codegen'd [[graft.functions.MatVec]] against its codebook; lowest
    * index wins ties, mirroring the oracle's `ORDER BY score, j`. One
    * scan, 8 bytes of index per 256-byte vector at (m=8, k≤256). */
  def pqEncode(vec: Column, codebooks: Seq[Seq[Seq[Double]]]): Column = {
    val sub = codebooks.head.head.length
    // `vec` and each subspace's scores are bound once per row: the
    // vector feeds m slices, the scores both the min and its position
    let(vec) { v =>
      array(codebooks.zipWithIndex.map { case (cb, mi) =>
        val cc = cb.map(c => c.foldLeft(0.0)((s, x) => s + x * x))
        let(zip_with(
            graft.functions.GraftFunctions.matVec(cb, slice(v, mi * sub + 1, sub)),
            typedlit(cc), (d, n2) => n2 - d * 2)) { scores =>
          (array_position(scores, array_min(scores)) - 1).cast("int")
        }
      }: _*)
    }
  }

  /** Per-query ADC lookup table as ONE flat `ARRAY<DOUBLE>` of length
    * m·k: entry mi·k+j = ‖q_mi − c_mi,j‖² expanded as
    * q·q − 2 q·c + c·c (the structure the oracle mirrors). */
  def pqAdcTable(vec: Column, codebooks: Seq[Seq[Seq[Double]]]): Column = {
    val sub = codebooks.head.head.length
    // bound once per row: the vector, each sub-vector, and its q·q —
    // inside the zip_with lambda they would be rebuilt per centroid
    let(vec) { v =>
      concat(codebooks.zipWithIndex.map { case (cb, mi) =>
        val cc = cb.map(c => c.foldLeft(0.0)((s, x) => s + x * x))
        let(slice(v, mi * sub + 1, sub)) { vm =>
          let(dot(vm, vm)) { qq =>
            zip_with(graft.functions.GraftFunctions.matVec(cb, vm),
              typedlit(cc), (d, n2) => qq - d * 2 + n2)
          }
        }
      }: _*)
    }
  }

  /** Asymmetric-distance (ADC) top-k: corpus is scanned as CODES ONLY
    * (m small ints per vector — at planet scale the 32×-compressed code
    * column is the only thing read), queries broadcast their m·k
    * distance tables, and each candidate costs m array lookups instead
    * of a dim-length dot. This is the brute-ADC building block; compose
    * with the IVF cell prune ([[ivfTopKWithCentroids]]) for the full
    * IVF-PQ index. Deterministic: ties rank by id. */
  def pqAdcTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, qidCol: String, k: Int,
      codebooks: Seq[Seq[Seq[Double]]]): DataFrame = {
    val m = codebooks.length
    val kcb = codebooks.head.length
    val enc = corpus.select(col(idCol),
      pqEncode(col(vecCol), codebooks).as("__codes"))
    val q = queries.select(col(qidCol),
      pqAdcTable(col(vecCol), codebooks).as("__tab"))
    val scored = enc.crossJoin(broadcast(q))
      .withColumn("__adc", aggregate(
        zip_with(col("__codes"), sequence(lit(0), lit(m - 1)),
          (c, mi) => element_at(col("__tab"), mi * kcb + c + 1)),
        lit(0.0), (acc, x) => acc + x))
    val w = Window.partitionBy(qidCol)
      .orderBy(col("__adc").asc, col(idCol))
    scored.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .select(col(qidCol), col(idCol), col("__adc").as("adc"))
  }

  /** Full IVF-PQ: coarse cells prune the candidate set (equi-join on
    * cell id, `nprobe` probes per query), then PQ codes + the query's
    * ADC table score the survivors — the index layout that serves
    * billion-vector corpora: the scan reads (cell, m codes) per vector
    * and NOTHING else; raw vectors exist only at build time. With
    * fixed coarse centroids and fixed codebooks the whole path is
    * deterministic and value-checkable. */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, qidCol: String, k: Int, cents: Seq[Seq[Double]],
      nprobe: Int, codebooks: Seq[Seq[Seq[Double]]]): DataFrame = {
    val m = codebooks.length
    val kcb = codebooks.head.length
    val enc = corpus
      .withColumn("__scores", centroidScores(col(vecCol), cents))
      .select(col(idCol), bestFromScores(col("__scores")).as("__cid"),
        pqEncode(col(vecCol), codebooks).as("__codes"))
    val probes = queries.select(col(qidCol), col(vecCol).as("__qv"))
      .withColumn("__scores", centroidScores(col("__qv"), cents))
      .withColumn("__cid",
        explode(topFromScores(col("__scores"), cents.size, nprobe)))
      .select(col(qidCol), col("__cid"),
        pqAdcTable(col("__qv"), codebooks).as("__tab"))
    val cand = enc.join(broadcast(probes), "__cid")
      .withColumn("__adc", aggregate(
        zip_with(col("__codes"), sequence(lit(0), lit(m - 1)),
          (c, mi) => element_at(col("__tab"), mi * kcb + c + 1)),
        lit(0.0), (acc, x) => acc + x))
    val w = Window.partitionBy(qidCol)
      .orderBy(col("__adc").asc, col(idCol))
    cand.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .select(col(qidCol), col(idCol), col("__adc").as("adc"))
  }

  /** Residual to a coarse centroid: r = v − c_cid, elementwise in
    * double. `cents` travels as a plan literal (nlist × dim doubles —
    * driver-sized), indexed per row by the materialized cell id, so the
    * subtraction is one codegen'd pass with no join. */
  def residual(vec: Column, cid: Column, cents: Seq[Seq[Double]]): Column =
    zip_with(vec, element_at(typedlit(cents), cid + 1),
      (x, c) => x.cast("double") - c)

  /** The corpus mapped to residual space: each vector replaced by its
    * residual to its own nearest coarse centroid (same assignment rule
    * as [[ivfPqTopK]] — argmax cosine, ties to the lowest cell id).
    * PQ codebooks for a residual-encoding IVF-PQ index train on THIS
    * frame (Jégou et al. TPAMI 2011 §IV; FAISS `IndexIVFPQ`): residual
    * variance is what the codebooks actually have to cover, and it is
    * much smaller than raw-vector variance once the coarse quantizer
    * has soaked up the cell mean. One scan, no shuffle. */
  def residualCorpus(corpus: DataFrame, idCol: String, vecCol: String,
      cents: Seq[Seq[Double]]): DataFrame =
    corpus
      .withColumn("__scores", centroidScores(col(vecCol), cents))
      .withColumn("__cid", bestFromScores(col("__scores")))
      .select(col(idCol), residual(col(vecCol), col("__cid"), cents).as(vecCol))

  /** Residual-encoding IVF-PQ — the production FAISS-style composed
    * index: each corpus vector stores (cell id, PQ codes of its
    * RESIDUAL to the cell centroid); each query probe re-centers the
    * query into that cell's residual frame and builds its ADC table
    * there. ‖q − (c_cell + c_code)‖² = ‖(q − c_cell) − c_code‖², so
    * ADC in residual space scores true distance to the reconstruction —
    * this is what keeps nprobe-pruned recall up at high compression on
    * real (non-isotropic) corpora, where raw-vector PQ wastes all its
    * codebook span on the cell means. Scan shape is identical to
    * [[ivfPqTopK]]: codes + cell id per corpus row, nothing else; the
    * only per-probe extra is one O(dim) subtraction on the (tiny,
    * broadcast) query side. Deterministic under fixed quantizers. */
  def ivfPqResidualTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, qidCol: String, k: Int, cents: Seq[Seq[Double]],
      nprobe: Int, codebooks: Seq[Seq[Seq[Double]]]): DataFrame =
    ivfPqResidualImpl(corpus, queries, idCol, vecCol, qidCol, k, cents,
      nprobe, codebooks, None)

  /** LOPQ-style residual rotation (the GLOBAL-R variant of Kalantidis &
    * Avrithis, CVPR 2014 "Locally optimized product quantization", which
    * rotates residuals per cell; one shared R keeps the broadcast-literal
    * plan shape): coarse cells live in RAW space — the cell prune is
    * IDENTICAL to [[ivfPqResidualTopK]]'s, so nothing is lost there —
    * and only the RESIDUALS are rotated before PQ encode / ADC. Since R
    * is orthonormal, ‖R r_q − R c‖ = ‖r_q − c‖: ADC still scores true
    * residual distance; the rotation only re-shapes what the codebooks
    * must cover. Train R on the residual distribution itself —
    * [[opqEigenAllocation]] (or [[opqIterative]]) over
    * [[residualCorpus]] — which is the distribution the codebooks
    * actually quantize; measured on the anisotropized sf0.01 corpus this
    * beats BOTH plain residual IVF-PQ and the [[opqIvfPqResidualTopK]]
    * pre-transform chain (0.475 vs 0.42 vs 0.46 recall@10), because a
    * raw-corpus rotation optimizes the wrong covariance. `codebooks`
    * must be trained on the ROTATED residual corpus.
    *
    * 100 TB shape: identical to [[ivfPqResidualTopK]] plus one MatVec
    * on the encode scan and the broadcast query side. */
  def ivfOpqResidualTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, qidCol: String, k: Int,
      cents: Seq[Seq[Double]], nprobe: Int, rot: Pca.PcaModel,
      codebooks: Seq[Seq[Seq[Double]]]): DataFrame =
    ivfPqResidualImpl(corpus, queries, idCol, vecCol, qidCol, k, cents,
      nprobe, codebooks, Some(rot))

  private def ivfPqResidualImpl(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, qidCol: String, k: Int,
      cents: Seq[Seq[Double]], nprobe: Int,
      codebooks: Seq[Seq[Seq[Double]]],
      resRot: Option[Pca.PcaModel]): DataFrame =
    searchIvfPqResidualCodes(
      encodeIvfPqResidual(corpus, idCol, vecCol, cents, codebooks, resRot),
      queries, idCol, vecCol, qidCol, k, cents, nprobe, codebooks, resRot)

  /** Build-time half of residual IVF-PQ, split out so the encoded
    * corpus can be MATERIALIZED once and served many times (the
    * [[IndexStore]] save/load lifecycle — at 100 TB an index is built
    * once and queried for months; rebuilding quantizer assignments and
    * codes inside every session would re-scan the raw vectors the
    * whole design exists to stop reading). Returns `(idCol, cell,
    * codes)` — the complete scan-side state of the index: 4 bytes of
    * cell id + m small ints per vector, nothing else.
    *
    * The rotated residual is MATERIALIZED as its own attribute before
    * pqEncode touches it — the HOF-inlining rule: pqEncode references
    * its input m times, so it must be an attribute load, not a MatVec
    * re-evaluated per subspace. */
  def encodeIvfPqResidual(corpus: DataFrame, idCol: String, vecCol: String,
      cents: Seq[Seq[Double]], codebooks: Seq[Seq[Seq[Double]]],
      resRot: Option[Pca.PcaModel] = None): DataFrame = {
    // code space = residual space, optionally rotated (LOPQ global R)
    def toCode(c: Column): Column =
      resRot.map(r => Pca.project(c, r)).getOrElse(c)
    corpus
      .withColumn("__scores", centroidScores(col(vecCol), cents))
      .withColumn("__cid", bestFromScores(col("__scores")))
      .withColumn("__res", residual(col(vecCol), col("__cid"), cents))
      .withColumn("__cres", toCode(col("__res")))
      .select(col(idCol), col("__cid").as("cell"),
        pqEncode(col("__cres"), codebooks).as("codes"))
  }

  /** Query-time half of residual IVF-PQ over an ALREADY-ENCODED corpus
    * (`(idCol, cell, codes)` — [[encodeIvfPqResidual]]'s output, fresh
    * or reloaded from [[IndexStore]]): probe expansion, per-cell
    * re-centered ADC tables, the (cell) equi-join, and the top-k — the
    * raw vector column is never touched. Codes scanned from a
    * cell-partitioned parquet prune to the probed cells only. */
  def searchIvfPqResidualCodes(codes: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, qidCol: String, k: Int,
      cents: Seq[Seq[Double]], nprobe: Int,
      codebooks: Seq[Seq[Seq[Double]]],
      resRot: Option[Pca.PcaModel] = None): DataFrame = {
    val m = codebooks.length
    val kcb = codebooks.head.length
    def toCode(c: Column): Column =
      resRot.map(r => Pca.project(c, r)).getOrElse(c)
    val probes = queries.select(col(qidCol), col(vecCol).as("__qv"))
      .withColumn("__scores", centroidScores(col("__qv"), cents))
      .withColumn("cell",
        explode(topFromScores(col("__scores"), cents.size, nprobe)))
      .withColumn("__qres", residual(col("__qv"), col("cell"), cents))
      .withColumn("__qcres", toCode(col("__qres")))
      .select(col(qidCol), col("cell"),
        pqAdcTable(col("__qcres"), codebooks).as("__tab"))
    val cand = codes
      .select(col(idCol), col("cell").cast("int").as("cell"), col("codes"))
      .join(broadcast(probes), "cell")
      .withColumn("__adc", aggregate(
        zip_with(col("codes"), sequence(lit(0), lit(m - 1)),
          (c, mi) => element_at(col("__tab"), mi * kcb + c + 1)),
        lit(0.0), (acc, x) => acc + x))
    val w = Window.partitionBy(qidCol)
      .orderBy(col("__adc").asc, col(idCol))
    cand.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .select(col(qidCol), col(idCol), col("__adc").as("adc"))
  }

  /** OPQ composed into residual IVF-PQ — the production FAISS index
    * string `OPQ{m},IVF{nlist},PQ{m}` (an `IndexPreTransform` wrapping
    * `IndexIVFPQ`): corpus AND queries pass through the trained
    * orthonormal rotation FIRST ([[Pca.project]] — an L2 isometry, so
    * the exact neighbor set is untouched), and the coarse quantizer,
    * the residuals, and the PQ codebooks all live in ROTATED space.
    * This is where production systems actually apply OPQ: the rotation
    * balances RESIDUAL variance across the m subspaces (residuals are
    * what the codebooks must cover once the coarse quantizer has
    * soaked up cell means), so `cents` and `codebooks` must be trained
    * on the ROTATED corpus — rotate, then [[kmeansCentroids]], then
    * [[pqCodebooksLloyd]] on [[residualCorpus]] of the rotated frame
    * (or the fixed variants for a value-exact oracle).
    *
    * 100 TB shape: identical to [[ivfPqResidualTopK]] — the rotation
    * adds one codegen'd MatVec to the encode scan and to the (tiny,
    * broadcast) query side; the search scan still reads codes + cell
    * id only, nothing widens. */
  def opqIvfPqResidualTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, qidCol: String, k: Int,
      rot: Pca.PcaModel, cents: Seq[Seq[Double]], nprobe: Int,
      codebooks: Seq[Seq[Seq[Double]]]): DataFrame = {
    val rc = corpus.select(col(idCol),
      Pca.project(col(vecCol), rot).as(vecCol))
    val rq = queries.select(col(qidCol),
      Pca.project(col(vecCol), rot).as(vecCol))
    ivfPqResidualTopK(rc, rq, idCol, vecCol, qidCol, k, cents, nprobe,
      codebooks)
  }

  /** A permutation as an orthonormal "rotation" model: y_i = x_perm(i),
    * mean 0. Exact in float/double (every matrix row is a unit basis
    * vector, so the MatVec moves values without arithmetic), which
    * makes the composed [[opqIvfPqResidualTopK]] chain value-checkable
    * against an independent SQL oracle — the fixed-quantizer analog of
    * [[pqCodebooksFixed]]/[[initCentroids]] for the rotation slot.
    * (Trained rotations are float-sum state → recall-gate policy.) */
  def permutationRotation(perm: Seq[Int]): Pca.PcaModel = {
    val d = perm.length
    require(perm.sorted == (0 until d), s"not a permutation of 0..${d - 1}")
    Pca.PcaModel(1L, Array.fill(d)(0.0),
      Array.tabulate(d, d)((i, j) => if (j == perm(i)) 1.0 else 0.0),
      Array.fill(d)(1.0), d.toDouble)
  }

  /** Parametric OPQ rotation (Ge et al., CVPR 2013: optimized product
    * quantization, eigenvalue-allocation variant): fit FULL-RANK PCA,
    * then deal the principal directions onto the m subspaces greedily —
    * each next-largest eigenvalue goes to the subspace whose variance
    * PRODUCT (sum of log λ) is currently smallest — so every subspace
    * carries comparable information and no codebook starves while
    * another drowns. Returns a [[Pca.PcaModel]] whose `components` are
    * REORDERED so that slice mi of the rotated vector holds subspace
    * mi's allocated directions; rotate with [[Pca.project]] (an
    * orthonormal map + translation, so L2 distances — hence the exact
    * top-k — are untouched; only the PQ cell shapes change, which is
    * the point). One corpus scan (the PCA moment agg) + O(d³) driver
    * Jacobi, the sanctioned [[Pca]] budget. */
  def opqEigenAllocation(corpus: DataFrame, vecCol: String,
      m: Int): Pca.PcaModel = {
    val dim = corpus.select(vecCol).head().getSeq[Number](0).length
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val sub = dim / m
    val model = Pca.fit(corpus, col(vecCol), dim)
    val buckets = Array.fill(m)(scala.collection.mutable.ArrayBuffer.empty[Int])
    val load = Array.fill(m)(0.0)
    model.eigenvalues.indices.foreach { ei => // descending λ by Pca.fit
      val open = (0 until m).filter(b => buckets(b).length < sub)
      val b = open.minBy(b => (load(b), b))
      buckets(b) += ei
      load(b) += math.log(math.max(model.eigenvalues(ei), 1e-300))
    }
    val order = buckets.flatMap(_.toSeq)
    model.copy(
      components = order.map(model.components),
      eigenvalues = order.map(model.eigenvalues))
  }

  /** PQ decode: the reconstruction ĉ(v) — each subspace's code mapped
    * back to its centroid, concatenated to a full `dim`-vector. One
    * literal lookup per subspace, no join; the training-side dual of
    * [[pqEncode]] (used by the OPQ Procrustes step, reconstruction-MSE
    * gates, and any re-ranking that wants approximate vectors without
    * touching the raw column). */
  def pqReconstruct(codes: Column, codebooks: Seq[Seq[Seq[Double]]]): Column =
    concat(codebooks.zipWithIndex.map { case (cb, mi) =>
      element_at(typedlit(cb.map(_.toIndexedSeq).toIndexedSeq),
        element_at(codes, mi + 1) + 1)
    }: _*)

  /** Iterative OPQ (Ge et al., CVPR 2013 — the NON-parametric
    * alternating optimization): seed R with [[opqEigenAllocation]],
    * then alternate (a) Lloyd PQ codebooks on the rotated corpus with
    * (b) the orthogonal-Procrustes rotation update
    * `R = V Uᵀ, U Σ Vᵀ = SVD(Σ x̄ ĉ(R x̄)ᵀ)` — the closed-form rotation
    * minimizing Σ‖R x̄ − ĉ‖² for fixed codes. Unlike the eigenvalue
    * allocation (which only balances subspace VARIANCE), this descends
    * the actual quantization error, so ADC recall improves further on
    * corpora whose principal axes straddle subspace boundaries.
    *
    * 100 TB shape per OPQ round: the Lloyd refit (one hash-agg job per
    * iteration) plus ONE extra corpus scan accumulating the d×d cross
    * moment `M = Σ x̄ ĉᵀ` via [[graft.functions.VectorSum]] — d² doubles
    * of agg state (32 KB at d=64), map-side partials, no per-row driver
    * traffic. The SVD is O(d³) on the driver ([[Pca.svdSquare]], the
    * sanctioned Jacobi budget). Rotation + codebooks are float-sum
    * state → recall-gate policy, not value-check (the Lloyd rule).
    * Returns the BEST-MSE (rotation model, codebooks, bestMse,
    * seedMse) across the alternation — iteration 1 is exactly the
    * parametric seed + Lloyd (its MSE comes back as `seedMse`, so
    * callers comparing against the parametric baseline don't retrain
    * it), and the result never has worse quantization error than that
    * seed; rotate with [[Pca.project]] before encoding/querying. */
  def opqIterative(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int, k: Int, opqIters: Int, lloydIters: Int)
      : (Pca.PcaModel, Seq[Seq[Seq[Double]]], Double, Double) = {
    var rot = opqEigenAllocation(corpus, vecCol, m)
    val d = rot.mean.length
    var cbs: Seq[Seq[Seq[Double]]] = Seq.empty
    // track the best (rotation, codebooks) by measured quantization MSE
    // — the alternation is monotone with warm-started Lloyd, but float
    // noise and finite iteration counts make "keep the argmin" the
    // contract callers can rely on (never worse than the seed)
    var best: (Pca.PcaModel, Seq[Seq[Seq[Double]]], Double) = null
    // EXPRESSION-NESTING TRAP (the withInt8 lesson, amplified): rec =
    // pqReconstruct(pqEncode(project(x))) inlined into a HOF lambda is
    // re-evaluated PER OUTER ELEMENT — O(d·m·k·sub) interpreted work ×
    // d per row (measured: 200 s for 2000 rows at d=64). Materialize
    // __y and __codes as row attributes first: each is referenced more
    // than once downstream, so CollapseProject keeps the aliases and
    // the heavy encode runs once per row; the lambdas then touch only
    // O(1) attribute loads and literal lookups.
    def encoded(r: Pca.PcaModel, cb: Seq[Seq[Seq[Double]]]): DataFrame =
      corpus
        .select(col(vecCol), Pca.project(col(vecCol), r).as("__y"))
        .select(col(vecCol), col("__y"),
          pqEncode(col("__y"), cb).as("__codes"))
    def mseOf(r: Pca.PcaModel, cb: Seq[Seq[Seq[Double]]]): Double = {
      val rec = pqReconstruct(col("__codes"), cb)
      encoded(r, cb)
        .agg(avg(aggregate(
          zip_with(col("__y"), rec, (a, b) => (a - b) * (a - b)),
          lit(0.0), (acc, x) => acc + x)))
        .head().getDouble(0)
    }
    var seedMse = Double.NaN
    for (t <- 1 to opqIters) {
      val rotated = corpus.select(col(idCol),
        Pca.project(col(vecCol), rot).as(vecCol))
      // warm-start from the previous round's codebooks (FAISS
      // OPQMatrix's structure): Lloyd continues in the updated frame
      // instead of re-seeding, which is what makes the MSE descend
      cbs = pqCodebooksLloyd(rotated, idCol, vecCol, m, k, lloydIters,
        init = if (t == 1) None else Some(cbs))
      if (t < opqIters) {
        // ONE corpus scan per round for BOTH the MSE gate and the
        // Procrustes cross moment (they read the same encode): the
        // split form paid the full rotate+encode pass twice per round
        // (guide §1.2 — fewer passes before anything else). Same
        // expression trees per row; only the pass count changes.
        val xbar = zip_with(col(vecCol), typedlit(rot.mean.toIndexedSeq),
          (x, mu) => x.cast("double") - mu)
        val rec = pqReconstruct(col("__codes"), cbs)
        // row-major flat outer product x̄ ĉᵀ: entry a·d+b = x̄_a·ĉ_b.
        // __rec as a materialized column too: the inner transform's
        // input is re-evaluated per OUTER element, so it must be an
        // attribute load, not the 8-lookup concat
        val row = encoded(rot, cbs)
          .select(col("__y"), xbar.as("__xbar"), rec.as("__rec"))
          .select(
            aggregate(
              zip_with(col("__y"), col("__rec"), (a, b) => (a - b) * (a - b)),
              lit(0.0), (acc, x) => acc + x).as("__se"),
            flatten(transform(col("__xbar"),
              xi => transform(col("__rec"), rj => xi * rj))).as("__outer"))
          .agg(avg(col("__se")),
            graft.functions.GraftFunctions.vectorSum(col("__outer")))
          .head()
        val mse = row.getDouble(0)
        if (t == 1) seedMse = mse
        if (best == null || mse < best._3) best = (rot, cbs, mse)
        val mFlat = row.getSeq[Double](1).toArray
        val mMat = Array.tabulate(d, d)((a, b) => mFlat(a * d + b))
        val (u, _, v) = Pca.svdSquare(mMat)
        val r = Array.tabulate(d, d) { (i, j) =>
          var s = 0.0; var c = 0
          while (c < d) { s += v(i)(c) * u(j)(c); c += 1 }
          s
        }
        rot = rot.copy(components = r)
      } else {
        val mse = mseOf(rot, cbs)
        if (t == 1) seedMse = mse
        if (best == null || mse < best._3) best = (rot, cbs, mse)
      }
    }
    (best._1, best._2, best._3, seedMse)
  }

  /** Two-stage retrieval: candidate generation in a compact space +
    * exact full-vector rescore of the survivors — THE production ANN
    * shape (what an IVF-PQ or PCA-compressed index does). `reduced`
    * carries `(idCol, redCol)` compact vectors for the SAME ids as
    * `corpus`; candidates are the reduced-space top-`candK` per query,
    * rescored against the original vectors, ranked, cut to `k`.
    *
    * 100 TB shape: the corpus-sized scan reads ONLY the compact column
    * (e.g. 16 of 1024 dims — a 64x bandwidth cut with column pruning);
    * the full-width vectors are fetched for `candK × |queries|` rows
    * via an equi-join, broadcast territory at any realistic batch. */
  def rescoreTopKPerQuery(corpus: DataFrame, reduced: DataFrame,
      queries: DataFrame, redQueries: DataFrame, idCol: String,
      vecCol: String, redCol: String, qidCol: String, k: Int,
      candK: Int): DataFrame = {
    val cands = topKPerQuery(reduced, redQueries, idCol, redCol, qidCol, candK)
      .select(col(qidCol), col(idCol))
    val full = cands
      .join(corpus.select(col(idCol), col(vecCol)), idCol)
      .join(broadcast(queries.select(col(qidCol), col(vecCol).as("__qv"))),
        qidCol)
      .select(col(qidCol), col(idCol),
        cosine(col(vecCol), col("__qv")).as("cos"))
    val w = Window.partitionBy(qidCol).orderBy(col("cos").desc, col(idCol))
    full.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k).drop("__rn")
  }

  /** Symmetric per-vector int8 quantization: scale = max|x| / 127,
    * code_i = round(x_i / scale) in [-127, 127] — the standard embedding
    * compression (4x smaller than float32, 8x than float64) ahead of
    * ANN: store codes + one scale, rescore survivors on the originals.
    * Pure column expressions, deterministic (no calibration sampling).
    * Returns (scaleCol, codesCol); all-zero vectors get scale 0 and
    * all-zero codes.
    *
    * The codes bind the scale once per row, so the O(dim) scale fold
    * never runs per element. [[withInt8]] projects both as columns. */
  def quantizeInt8(vec: Column): (Column, Column) = {
    val scale = array_max(transform(vec, x => abs(x.cast("double")))) / 127.0
    (scale, int8Codes(vec, scale))
  }

  /** code_i = round(x_i / scale), 0 where scale is 0; `scale` is bound
    * once per row, not evaluated per element. */
  private def int8Codes(vec: Column, scale: Column): Column =
    let(scale) { s =>
      transform(vec, x =>
        when(s === 0.0, 0)
          .otherwise(round(x.cast("double") / s).cast("int")))
    }

  /** [[quantizeInt8]] as two columns: the scale in its own projection,
    * the codes reading it as an attribute. */
  def withInt8(df: DataFrame, vec: Column, scaleName: String,
      codesName: String): DataFrame = {
    df.withColumn(scaleName,
        array_max(transform(vec, x => abs(x.cast("double")))) / 127.0)
      .withColumn(codesName, int8Codes(vec, col(scaleName)))
  }

  /** Inverse of [[quantizeInt8]]: x_i ~= code_i * scale. */
  def dequantizeInt8(scale: Column, codes: Column): Column =
    transform(codes, c => c.cast("double") * scale)

  /** Brute-force top-k per query scored ENTIRELY in the int8 domain —
    * the search half of [[quantizeInt8]]: cosine is scale-invariant
    * (cos(s_a·a, s_b·b) = cos(a, b)), so the per-vector scales cancel
    * and the quantized codes need no dequantization at query time. At
    * 100 TB that is the point of quantizing: 4x less scan bandwidth and
    * cache footprint on the hot path, floats only ever touched for
    * final rescoring if the caller wants it. A second property falls
    * out: integer dot products and squared norms are EXACT (<= 127²·dim
    * per pair, summed in long), so unlike float ANN the scores are
    * bit-portable across engines and the whole ranking takes a full SQL
    * oracle, not just a recall gate. */
  def int8TopKPerQuery(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, qidCol: String, k: Int): DataFrame = {
    // codegen'd primitive loops (IntDot), NOT aggregate(zip_with(...)):
    // the HOF fold is CodegenFallback — interpreted, boxed, and the
    // per-pair dot below runs once per corpus×query pair
    def norm2(c: Column) = graft.functions.GraftFunctions.intDot(c, c)
    // norms are per-ROW, computed before the pair join: inside the join
    // each corpus norm would be re-folded once per query (and vice
    // versa) — O((n+q)·dim) beats O(n·q·dim) for the same numbers.
    // Zero-norm rows (all-zero vector -> all-zero codes) are dropped
    // BEFORE ranking: cosine is undefined for them, and the NaN from
    // x/0 would sort above 1.0 in a descending window, parking a zero
    // corpus vector at rank 1 for every query.
    val cq = withInt8(corpus, col(vecCol), "__cs", "__c")
      .select(col(idCol), col("__c"))
      .withColumn("__cn", sqrt(norm2(col("__c")).cast("double")))
      .filter(col("__cn") > 0.0)
    val qq = withInt8(queries, col(vecCol), "__qs", "__qc")
      .select(col(qidCol), col("__qc"))
      .withColumn("__qn", sqrt(norm2(col("__qc")).cast("double")))
      .filter(col("__qn") > 0.0)
    val dotL =
      graft.functions.GraftFunctions.intDot(col("__c"), col("__qc"))
    val scored = cq.crossJoin(broadcast(qq))
      .select(col(qidCol), col(idCol),
        (dotL.cast("double") / (col("__cn") * col("__qn"))).as("cos_i8"))
    val w = Window.partitionBy(qidCol).orderBy(col("cos_i8").desc, col(idCol))
    scored.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k).drop("__rn")
  }

  /** Deterministic random hyperplanes: numBits x dim, seed-fixed. */
  private[graft] def hyperplanes(numBits: Int, dim: Int, seed: Long = 42L): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(numBits)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  /** LSH bucket id (sign bits of hyperplane projections) for a vector.
    * All projections come from ONE codegen'd matvec; the bit packing is
    * a tiny HOF fold over the resulting numBits-length array (disjoint
    * power-of-two summands, so sum == OR). */
  def lshBucket(vec: Column, planes: Seq[Seq[Double]]): Column = {
    val dots = graft.functions.GraftFunctions.matVec(planes, vec)
    val powers = typedlit(planes.indices.map(i => 1L << i))
    aggregate(
      zip_with(dots, powers, (d, p) => when(d > 0, p).otherwise(lit(0L))),
      lit(0L), (acc, x) => acc + x)
  }

  /** ANN via hyperplane LSH: bucket corpus and queries, equi-join on
    * bucket, exact-rescore collisions, top-k per query. Probing variants
    * would OR in neighbor buckets; this is the single-probe core.
    * The bucket join is the only shuffle; no all-pairs stage.
    */
  def annTopKPerQuery(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, qidCol: String, k: Int, numBits: Int = 12,
      dim: Int = 64): DataFrame = {
    val planes = hyperplanes(numBits, dim)
    val cb = corpus.withColumn("__bucket", lshBucket(col(vecCol), planes))
    val qb = queries.select(col(qidCol), col(vecCol).as("__qv"),
      lshBucket(col(vecCol), planes).as("__bucket"))
    val cand = cb.join(broadcast(qb), "__bucket")
      .select(col(qidCol), col(idCol),
        cosine(col(vecCol), col("__qv")).as("cos"))
    val w = Window.partitionBy(qidCol).orderBy(col("cos").desc, col(idCol))
    cand.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k).drop("__rn")
  }

  /** Per-centroid cosine scores as one array column. The dot products
    * run through the codegen'd [[graft.functions.MatVec]] primitive
    * (higher-order-function dots are CodegenFallback — interpreted and
    * boxed); centroid norms are precomputed driver-side with the same
    * left-to-right fold, so scores stay bit-identical to the
    * `cosine(vec, c)` formulation. Expression size is O(1) in `nlist`.
    * Materialize with withColumn before reusing. */
  def centroidScores(vec: Column, centroids: Seq[Seq[Double]]): Column = {
    val norms = centroids.map(c => math.sqrt(c.foldLeft(0.0)((s, x) => s + x * x)))
    // the vector and its norm are bound once per row, not per centroid
    let(vec) { v =>
      let(norm(v)) { nv =>
        zip_with(graft.functions.GraftFunctions.matVec(centroids, v),
          typedlit(norms), (d, n) => d / (nv * n))
      }
    }
  }

  /** Argmax over a materialized scores column: 0-based centroid id,
    * lowest index on ties. (Structs are avoided throughout — CreateArray
    * and when/otherwise coercion strip struct field names.) */
  def bestFromScores(scores: Column): Column =
    (array_position(scores, array_max(scores)) - 1).cast("int")

  /** Indices of the `n` best scores: comparator-sorted index array
    * (stable: ties break by index). */
  def topFromScores(scores: Column, cnt: Int, n: Int): Column = {
    val idxs = sequence(lit(0), lit(cnt - 1))
    val sorted = array_sort(idxs, (l, r) =>
      when(element_at(scores, l + 1) > element_at(scores, r + 1), -1)
        .when(element_at(scores, l + 1) < element_at(scores, r + 1), 1)
        .otherwise(l - r))
    slice(sorted, 1, n)
  }

  /** Deterministic bounded training sample — the 100 TB quantizer-
    * training contract: codebooks/centroids train on a hash-sample of
    * at most ~`maxRows` vectors while the INDEX still covers the whole
    * corpus (encode/assign is a full scan either way; only the O(iters)
    * training rescans shrink). The coin is [[Curation.hashUniform]] on
    * the id — deterministic, rerun-stable, and independent of partition
    * layout, unlike `DataFrame.sample`. `maxRows <= 0` disables.
    * Costs one `count()` when enabled (metadata-cheap vs the training
    * scans it bounds); expected sample size is Binomial(n, maxRows/n),
    * within a few % of `maxRows` at any realistic n. */
  def boundedTrainingSample(corpus: DataFrame, idCol: String,
      maxRows: Long): DataFrame = {
    if (maxRows <= 0) return corpus
    val n = corpus.count()
    if (n <= maxRows) corpus
    else corpus.filter(
      Curation.hashUniform(col(idCol)) < maxRows.toDouble / n)
  }

  /** Deterministic Lloyd k-means over the embedding column: init = first
    * `nlist` vectors by id, then `iters` rounds of assign (one corpus
    * scan, codegen'd argmax) + per-dimension mean (posexplode +
    * hash agg). The centroid matrix (nlist x dim doubles) round-trips
    * through the driver each round — the standard k-means driver loop,
    * O(nlist*dim) per round, independent of corpus size. Empty clusters
    * keep their previous centroid. `trainMaxRows > 0` bounds the
    * training set via [[boundedTrainingSample]] (init then comes from
    * the sample — still deterministic).
    */
  def kmeansCentroids(corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int, iters: Int, trainMaxRows: Long = 0L): Seq[Seq[Double]] = {
    // the loop rescans the corpus once per iteration (+ the caller's
    // assignment pass) — persist the 2-column projection once
    val vecs = boundedTrainingSample(corpus, idCol, trainMaxRows)
      .select(col(idCol), col(vecCol)).persist()
    // getSeq[Number]: raw embeddings are ARRAY<FLOAT>, a rotated or
    // anisotropized corpus is ARRAY<DOUBLE>
    var centroids: Seq[Seq[Double]] = vecs.orderBy(idCol).limit(nlist)
      .select(vecCol).collect()
      .map(_.getSeq[Number](0).map(_.doubleValue).toSeq).toSeq
    for (_ <- 1 to iters) {
      // single-pass per-cluster mean: VectorSum folds each vector into an
      // O(dim) buffer per cluster — no posexplode (dim× row blowup), no
      // dim-wide agg schema; one narrow hash agg of nlist groups
      val means = vecs
        .withColumn("__scores", centroidScores(col(vecCol), centroids))
        .select(bestFromScores(col("__scores")).as("__c"), col(vecCol))
        .groupBy("__c")
        .agg(graft.functions.GraftFunctions.vectorSum(col(vecCol)).as("__s"),
          count(lit(1)).as("__n"))
        .collect()
        .map { r =>
          val n = r.getLong(2).toDouble
          r.getInt(0) -> r.getSeq[Double](1).map(_ / n).toSeq
        }.toMap
      centroids = centroids.indices.map(i => means.getOrElse(i, centroids(i)))
    }
    vecs.unpersist()
    centroids
  }

  /** Deterministic init centroids: the first `nlist` corpus vectors by
    * id. Used directly as a fixed coarse quantizer when the partition
    * must be reproducible by an independent oracle (IVF recall only
    * needs centroids to be *some* reasonable partition; Lloyd refinement
    * improves it but floating-point mean order makes refined centroids
    * engine-specific). */
  def initCentroids(corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int): Seq[Seq[Double]] =
    // getSeq[Number]: raw embeddings are ARRAY<FLOAT>, a rotated or
    // residual-transformed corpus is ARRAY<DOUBLE> — same policy as
    // pqCodebooksFixed
    corpus.orderBy(idCol).limit(nlist).select(vecCol).collect()
      .map(_.getSeq[Number](0).map(_.doubleValue).toSeq).toSeq

  /** IVF ANN: k-means coarse quantization; every corpus vector is
    * assigned to its nearest centroid (one scan, no join); queries
    * search only their `nprobe` nearest centroid lists (equi-join prune
    * before the exact rescore). */
  def ivfTopKPerQuery(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, qidCol: String, k: Int, nlist: Int = 16,
      nprobe: Int = 4, kmeansIters: Int = 3): DataFrame = {
    val cents = kmeansCentroids(corpus, idCol, vecCol, nlist, kmeansIters)
    ivfTopKWithCentroids(corpus, queries, idCol, vecCol, qidCol, k, cents,
      nprobe)
  }

  /** Per-query recall@k of an ANN result against the exact result: the
    * fraction of the exact top-k ids the ANN result found. Both inputs
    * are (qidCol, idCol, ...) top-k tables; queries the ANN missed
    * entirely score 0. Both sides are deduped on (qid, id), and the
    * denominator is the per-query EXACT row count — not a constant k —
    * so recall reaches 1.0 even when the corpus is smaller than k, and
    * duplicate ANN rows can never push recall past 1.0. The join sides
    * are k*|queries| rows — broadcast territory at any realistic
    * query-batch size. */
  def recallAtK(ann: DataFrame, exact: DataFrame, qidCol: String,
      idCol: String): DataFrame = {
    val ex = exact.select(qidCol, idCol).distinct()
    val hits = ann.select(qidCol, idCol).distinct()
      .join(ex, Seq(qidCol, idCol), "left_semi")
      .groupBy(qidCol).agg(count(lit(1)).as("__hits"))
    ex.groupBy(qidCol).agg(count(lit(1)).as("__n"))
      .join(hits, Seq(qidCol), "left")
      .select(col(qidCol),
        (coalesce(col("__hits"), lit(0L)).cast("double") / col("__n"))
          .as("recall"))
  }

  /** IVF search against an explicit centroid matrix (trained or fixed). */
  def ivfTopKWithCentroids(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, qidCol: String, k: Int,
      cents: Seq[Seq[Double]], nprobe: Int): DataFrame = {
    val corpusAssigned = corpus
      .withColumn("__scores", centroidScores(col(vecCol), cents))
      .select(col(idCol), col(vecCol), bestFromScores(col("__scores")).as("__cid"))
    val probes = queries.select(col(qidCol), col(vecCol).as("__qv"))
      .withColumn("__scores", centroidScores(col("__qv"), cents))
      .withColumn("__cid",
        explode(topFromScores(col("__scores"), cents.size, nprobe)))
      .drop("__scores")
    val cand = corpusAssigned.join(broadcast(probes), "__cid")
      .select(col(qidCol), col(idCol), cosine(col(vecCol), col("__qv")).as("cos"))
    val w = Window.partitionBy(qidCol).orderBy(col("cos").desc, col(idCol))
    cand.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k).drop("__rn")
  }
}
