package graft
package queries

import org.apache.spark.sql.functions._

import graft.Tables._
import QueryHelpers._

/** Vector search over the embeddings table: PCA, quantization, exact
  * and approximate top-k (LSH, IVF, PQ, OPQ, LOPQ) gated by recall,
  * and trained-index persistence and maintenance. */
object VectorQueries {
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

  val all: Seq[Query] = Seq(
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
    Query("q_s_pca", (s, dir) => {
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
    },
      // literal-truth gate (Lloyd-IVF policy): every invariant of a
      // correct eigendecomposition + projection must hold
      """SELECT CAST(comp_id AS BIGINT) AS comp_id,
                ok_unit, ok_orth, ok_desc, ok_nonneg, ok_recon
         FROM (VALUES
           (0, true, true, true, true, true),
           (1, true, true, true, true, true),
           (2, true, true, true, true, true),
           (3, true, true, true, true, true))
           AS v(comp_id, ok_unit, ok_orth, ok_desc, ok_nonneg, ok_recon)
         ORDER BY comp_id"""),

    // ---- int8 embedding quantization: scale = max|x|/127, codes
    //      round(x/scale) — 4x storage cut ahead of ANN; integer code
    //      stats keep the oracle comparison exact; withInt8 keeps the
    //      scale fold in its own projection (O(dim) per row, not
    //      O(dim²) from re-folding inside the codes lambda)
    Query("q_s_quantize", (s, dir) => {
      llm.Similarity.withInt8(embeddings(s, dir), col("embedding"),
          "__s", "__c")
        .select(col("vec_id"), round(col("__s"), 6).as("scale"), col("__c"))
        .select(col("vec_id"), col("scale"),
          aggregate(col("__c"), lit(0L), (a, x) => a + x).as("code_sum"),
          array_min(col("__c")).as("code_min"),
          array_max(col("__c")).as("code_max"))
        .orderBy("vec_id")
    },
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
         FROM c ORDER BY vec_id"""),

    // ---- brute-force cosine top-k (exact ANN baseline; driver-collected
    //      query vector spliced as a literal)
    Query("q_s_cosine_topk", (s, dir) => {
      val e = spreadEmb(s, dir)
      val q = e.filter(col("vec_id") === 0).select("embedding")
        .head().getSeq[Float](0)
      llm.Similarity.bruteForceTopK(e, "vec_id", "embedding", q, 10)
        .select(col("vec_id"), round(col("cos"), 6).as("cos"))
        .orderBy(col("cos").desc, col("vec_id"))
    },
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
         FROM s ORDER BY cos DESC, vec_id LIMIT 10"""),

    // ---- int8-domain search (the query half of q_s_quantize): scoring
    //      runs on the codes alone — scales cancel in cosine, so no
    //      dequantize, 4x less scan bandwidth — and integer dots are
    //      exact, so the ranking gets a FULL value oracle, not a recall
    //      gate
    Query("q_s_int8_topk", (s, dir) => {
      val e = spreadEmb(s, dir)
      val queries = queryPanel(e)
      llm.Similarity.int8TopKPerQuery(e, queries, "vec_id", "embedding",
          "query_id", k = 5)
        .select(col("query_id"), col("vec_id"),
          round(col("cos_i8"), 6).as("cos_i8"))
        .orderBy(col("query_id"), col("cos_i8").desc, col("vec_id"))
    },
      // integer dots/norms are exact in both engines; doubles derived from
      // them divide identically, so even the RANKING needs no tolerance
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
         ORDER BY query_id, cos_i8 DESC, vec_id"""),

    // ---- LSH-bucketed ANN (scale path). The seeded hyperplanes are
    //      spliced into the DuckDB oracle as literals, so the whole
    //      bucket->join->rescore->rank pipeline is independently checked
    Query("q_s_ann_lsh", (s, dir) => {
      val e = spreadEmb(s, dir)
      val queries = queryPanel(e)
      llm.Similarity.annTopKPerQuery(e, queries, "vec_id", "embedding",
          "query_id", k = 5, numBits = 6)
        .select(col("query_id"), col("vec_id"), round(col("cos"), 6).as("cos"))
        .orderBy(col("query_id"), col("cos").desc, col("vec_id"))
    },
      annLshOracleSql),

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
    Query("q_s_ivf_ann", (s, dir) => {
      val e = spreadEmb(s, dir)
      val queries = queryPanel(e)
      val ann = llm.Similarity.ivfTopKPerQuery(e, queries, "vec_id",
        "embedding", "query_id", k = 5, nlist = 16, nprobe = 12)
      val exact = llm.Similarity.topKPerQuery(e, queries, "vec_id",
        "embedding", "query_id", k = 5)
      llm.Similarity.recallAtK(ann, exact, "query_id", "vec_id")
        .select(col("query_id"), (col("recall") >= 0.95).as("recall_ok"))
        .orderBy("query_id")
    },
      // q_s_ivf_ann emits only the deterministic quality verdict
      // (query_id, recall_ok) — the Lloyd-trained top-k itself is not
      // oracle-able (float-sum centroids are partition-order-dependent),
      // so the contract IS the recall gate: every query's recall@5 vs the
      // exact brute force clears 0.95. The oracle is the literal expected
      // verdict table.
      """SELECT CAST(query_id AS BIGINT) AS query_id, recall_ok
         FROM (VALUES (0, true), (1, true), (2, true), (3, true), (4, true))
           AS t(query_id, recall_ok)
         ORDER BY query_id"""),

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
    Query("q_s_pca_ann", (s, dir) => {
      val e = spreadEmb(s, dir)
      val model = llm.Pca.fit(e, col("embedding"), k = 32)
      val red = e.select(col("vec_id"),
        llm.Pca.project(col("embedding"), model).as("pv"))
      val queries = queryPanel(e)
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
    },
      // two-stage PCA + rescore: same recall-gate policy as q_s_ivf_ann
      """SELECT CAST(query_id AS BIGINT) AS query_id, recall_ok
         FROM (VALUES (0, true), (1, true), (2, true), (3, true), (4, true))
           AS t(query_id, recall_ok)
         ORDER BY query_id"""),

    // ---- IVF with the FIXED deterministic quantizer (first-nlist
    //      centroids, no Lloyd refinement): same search machinery as
    //      q_s_ivf_ann but reproducible by an independent SQL oracle —
    //      centroid scoring, nprobe pruning, rescore and ranking all
    //      recomputed in DuckDB.
    Query("q_s_ivf_fixed", (s, dir) => {
      val e = spreadEmb(s, dir)
      val queries = queryPanel(e)
      val cents = llm.Similarity.initCentroids(e, "vec_id", "embedding", 16)
      llm.Similarity.ivfTopKWithCentroids(e, queries, "vec_id", "embedding",
          "query_id", k = 5, cents, nprobe = 4)
        .select(col("query_id"), col("vec_id"), round(col("cos"), 6).as("cos"))
        .orderBy(col("query_id"), col("cos").desc, col("vec_id"))
    },
      // IVF with the fixed first-16 quantizer: assignment (argmax cosine,
      // ties to the lowest centroid id), nprobe=4 pruning, exact rescore,
      // per-query top-5 — all recomputed independently. Cosines match
      // bit-for-bit (left-to-right folds on both engines).
      s"""WITH ${cosineCells(16)},
         ${probesCte("scores", 4)},
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
         ORDER BY query_id, cos DESC, vec_id"""),

    // ---- product-quantization ADC search (the IVF-PQ index family's
    //      scoring half): fixed per-subspace codebooks from the first
    //      16 vectors (oracle-rebuildable), corpus scanned as 8 codes
    //      per vector, per-query m×k distance table broadcast, each
    //      candidate scored by 8 table lookups. DuckDB re-derives
    //      codebooks, codes, and exact ADC distances.
    Query("q_s_pq_adc", (s, dir) => {
      val e = spreadEmb(s, dir)
      val queries = queryPanel(e)
      val cb = llm.Similarity.pqCodebooksFixed(e, "vec_id", "embedding",
        m = 8, k = 16)
      llm.Similarity.pqAdcTopK(e, queries, "vec_id", "embedding",
          "query_id", k = 10, cb)
        .select(col("query_id"), col("vec_id"), round(col("adc"), 6).as("adc"))
        .orderBy("query_id", "vec_id")
    },
      // PQ re-derived end-to-end: codebooks = sub-slices of the first 16
      // vectors, codes = argmin(c·c − 2 c·v_m) with the same (score, j)
      // tie order, ADC = Σ_m (q·q − 2 q·c + c·c) over the chosen
      // centroids — identical expression structure to the engine.
      pqAdcOracle),

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
    Query("q_s_pq_recall", (s, dir) => {
      // decode-once (the r21 pattern, guide §1.2/§5): the corpus frame
      // feeds Lloyd training, the ADC scan, the exact-rescore join and
      // the ground-truth arm — materialize the spread ONCE instead of
      // re-paying the parquet read + repartition per consumer
      val e = spreadEmb(s, dir).localCheckpoint(true)
      val queries = queryPanel(e)
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
    },
      // PQ prune + exact rescore: same recall-gate policy as q_s_ivf_ann
      """SELECT CAST(query_id AS BIGINT) AS query_id, recall_ok
         FROM (VALUES (0, true), (1, true), (2, true), (3, true), (4, true))
           AS t(query_id, recall_ok)
         ORDER BY query_id"""),

    // ---- full IVF-PQ: coarse-cell prune (fixed centroids, nprobe=4)
    //      then ADC scoring over codes — the deterministic compose of
    //      q_s_ivf_fixed and q_s_pq_adc, value-checked end-to-end.
    Query("q_s_ivfpq", (s, dir) => {
      val e = spreadEmb(s, dir)
      val queries = queryPanel(e)
      val cents = llm.Similarity.initCentroids(e, "vec_id", "embedding", 16)
      val cb = llm.Similarity.pqCodebooksFixed(e, "vec_id", "embedding",
        m = 8, k = 16)
      llm.Similarity.ivfPqTopK(e, queries, "vec_id", "embedding",
          "query_id", k = 10, cents, nprobe = 4, cb)
        .select(col("query_id"), col("vec_id"), round(col("adc"), 6).as("adc"))
        .orderBy("query_id", "vec_id")
    },
      // IVF-PQ re-derived: coarse assignment + nprobe probes exactly as
      // q_s_ivf_fixed, codes/ADC exactly as q_s_pq_adc, composed.
      ivfPqOracle),

    // ---- residual-encoding IVF-PQ (FAISS IndexIVFPQ layout): PQ codes
    //      cover the residual to the assigned coarse cell, and each
    //      query probe re-centers into that cell's frame before building
    //      its ADC table. Fixed first-16 quantizers (coarse AND product)
    //      keep the whole path value-exact: DuckDB re-derives centroids,
    //      assignments, residuals, residual codebooks, codes, and ADC.
    Query("q_s_ivfpq_residual", (s, dir) => {
      val e = spreadEmb(s, dir)
      val queries = queryPanel(e)
      val (cents, cb) = residualQuantizers(e)
      llm.Similarity.ivfPqResidualTopK(e, queries, "vec_id", "embedding",
          "query_id", k = 10, cents, nprobe = 4, cb)
        .select(col("query_id"), col("vec_id"), round(col("adc"), 6).as("adc"))
        .orderBy("query_id", "vec_id")
    },
      // Residual IVF-PQ re-derived end-to-end: coarse assignment as
      // q_s_ivfpq; residuals r = v − c_cell elementwise in double;
      // residual codebooks = sub-slices of the first-16 ids' residuals;
      // codes = argmin over residual slices; the query residual (and so
      // its ADC table) is rebuilt PER PROBED CELL. Same left-to-right
      // fold structure as the engine, so ADC matches at 6 decimals.
      residualIvfPqOracle(nprobe = 4)),

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
    Query("q_s_ivfpq_resid_recall", (s, dir) => {
      // decode-once: e feeds kmeans, two Lloyd trainings, two index
      // scans and the ground-truth arm (~8 rescans of the spread)
      val e = spreadEmb(s, dir).localCheckpoint(true)
      val queries = queryPanel(e)
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
    },
      // residual-vs-raw ADC recall: trained quantizers, so the contract
      // is the literal expected verdict (the q_s_pq_recall policy)
      """SELECT resid_beats_raw, resid_ok
         FROM (VALUES (true, true)) AS t(resid_beats_raw, resid_ok)"""),

    // ---- parametric OPQ (Ge et al. 2013, eigenvalue allocation): PCA
    //      rotation + greedy dealing of principal directions so every
    //      PQ subspace carries comparable variance. Measured on this
    //      deterministically-anisotropized corpus (dim j scaled by
    //      1+j — naive PQ's last subspace drowns): ADC-only recall@10
    //      0.50 rotated vs 0.26 naive. Gate: OPQ strictly beats naive
    //      AND clears 0.4 absolute; trained rotation + codebooks are
    //      float-sum state, so the contract is the verdict row (the
    //      q_s_pq_recall policy).
    Query("q_s_opq_recall", (s, dir) => {
      // decode-once: the anisotropized frame feeds both ADC arms, the
      // PCA fit and the ground-truth arm — materialize it once
      val e = spreadEmb(s, dir)
        .select(col("vec_id"), transform(col("embedding"),
          (x, j) => x * (j.cast("double") + 1.0)).as("embedding"))
        .localCheckpoint(true)
      val queries = queryPanel(e)
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
    },
      // OPQ rotation vs naive PQ: trained state, literal-verdict gate
      """SELECT opq_beats_naive, opq_ok
         FROM (VALUES (true, true)) AS t(opq_beats_naive, opq_ok)"""),

    // ---- iterative OPQ (full Ge et al. alternating optimization):
    //      Procrustes rotation updates descend the actual quantization
    //      error, so on a corpus whose principal axes STRADDLE subspace
    //      boundaries (the anisotropic scaling composed with a fixed
    //      cross-dim mixing) it must hold or beat its own parametric
    //      seed. Trained rotation + codebooks are float-sum state → the
    //      literal-verdict gate (q_s_pq_recall policy); the invariants
    //      (orthonormal R, factorization) are spec-gated in LlmSpec.
    Query("q_s_opq_iter_recall", (s, dir) => {
      val e = spreadEmb(s, dir)
        .select(col("vec_id"), transform(col("embedding"),
          (x, j) => x * (j.cast("double") + 1.0)).as("__a"))
        // mix dim j with dim (j+5)%64: allocation alone cannot unmix
        .select(col("vec_id"), zip_with(col("__a"),
          concat(slice(col("__a"), 6, 59), slice(col("__a"), 1, 5)),
          (x, y) => x * 0.8 + y * 0.6).as("embedding"))
        // decode-once: the alternation rescans this frame every round
        .localCheckpoint(true)
      val queries = queryPanel(e)
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
    },
      // iterative (Procrustes) OPQ vs its parametric seed: trained state,
      // literal-verdict gate
      """SELECT iter_holds_seed, iter_ok
         FROM (VALUES (true, true)) AS t(iter_holds_seed, iter_ok)"""),

    // ---- OPQ composed into residual IVF-PQ, value-exact variant: the
    //      FAISS `OPQ8,IVF16,PQ8` chain with every trained slot pinned
    //      to its fixed analog — rotation = a literal permutation
    //      (y_i = x_{5i mod 64}; orthonormal and arithmetic-free, so
    //      floats move exactly), cells = first-16-ids, codebooks =
    //      first-16 residual slices. The permutation REMIXES which dims
    //      land in which PQ subspace (5 coprime to 64), so codes and
    //      ADC genuinely differ from q_s_ivfpq_residual while staying
    //      reproducible bit-for-bit by the DuckDB oracle.
    Query("q_s_opq_ivfpq", (s, dir) => {
      val e = spreadEmb(s, dir)
      val queries = queryPanel(e)
      val rot = llm.Similarity.permutationRotation(
        (0 until 64).map(i => i * 5 % 64))
      val er = e.select(col("vec_id"),
        llm.Pca.project(col("embedding"), rot).as("embedding"))
      val (cents, cb) = residualQuantizers(er)
      llm.Similarity.opqIvfPqResidualTopK(e, queries, "vec_id", "embedding",
          "query_id", k = 10, rot, cents, nprobe = 4, cb)
        .select(col("query_id"), col("vec_id"), round(col("adc"), 6).as("adc"))
        .orderBy("query_id", "vec_id")
    },
      // OPQ∘residual-IVF-PQ, fixed slots: identical chain to the
      // q_s_ivfpq_residual oracle except every vector is FIRST permuted
      // y_i = x_{5i mod 64} (the value-exact stand-in for a trained
      // rotation) — cells, residuals, codebooks, probes, and ADC all
      // computed in permuted space
      residualIvfPqOracle(nprobe = 4, permuteBase = true)),

    // ---- the composed chain's payoff, measured: ADC-only recall@10 of
    //      OPQ∘residual-IVF-PQ vs PLAIN residual IVF-PQ, same corpus
    //      (the anisotropized one — dim j scaled by 1+j), same budgets
    //      (nlist=16/3 k-means iters, m=8/k=16/2 Lloyd iters, nprobe=4).
    //      Residual re-centering alone can't fix subspace imbalance —
    //      the last subspace's variance still drowns its 4-bit codebook;
    //      rotating FIRST (eigenvalue allocation) balances what the
    //      residual codebooks must cover. Trained quantizers aren't
    //      value-portable → literal-verdict gate (q_s_pq_recall policy).
    Query("q_s_opq_ivfpq_recall", (s, dir) => {
      // decode-once: e feeds kmeans, Lloyd, the plain index arm, the
      // PCA fit and the rotated arm (~12 rescans of the spread)
      val e = spreadEmb(s, dir)
        .select(col("vec_id"), transform(col("embedding"),
          (x, j) => x * (j.cast("double") + 1.0)).as("embedding"))
        .localCheckpoint(true)
      // 20 queries, not 5: recall@10 over 5 queries moves in 0.02 steps
      // and the measured margins here are ~0.04 — the wider panel is
      // what makes the beats-plain verdict stable run to run
      val queries = queryPanel(e, 20)
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
    },
      // OPQ∘residual-IVF-PQ vs plain residual IVF-PQ recall: trained
      // rotation + quantizers, literal-verdict gate
      """SELECT opq_ivfpq_beats_plain, opq_ivfpq_ok
         FROM (VALUES (true, true)) AS t(opq_ivfpq_beats_plain, opq_ivfpq_ok)"""),

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
    Query("q_s_lopq", (s, dir) => {
      val e = spreadEmb(s, dir)
      val queries = queryPanel(e)
      val rot = llm.Similarity.permutationRotation(
        (0 until 64).map(i => i * 5 % 64))
      val cents = llm.Similarity.initCentroids(e, "vec_id", "embedding", 16)
      val resRot = llm.Similarity
        .residualCorpus(e, "vec_id", "embedding", cents)
        .select(col("vec_id"),
          llm.Pca.project(col("embedding"), rot).as("embedding"))
      // seeds from ids 16..31 — ids 0..15 are the centroids themselves
      // (zero residuals, degenerate codebooks); see residualQuantizers
      val cb = llm.Similarity.pqCodebooksFixed(
        resRot.filter(col("vec_id").between(16, 31)), "vec_id",
        "embedding", m = 4, k = 16)
      llm.Similarity.ivfOpqResidualTopK(e, queries, "vec_id", "embedding",
          "query_id", k = 10, cents, nprobe = 3, rot, cb)
        .select(col("query_id"), col("vec_id"), round(col("adc"), 6).as("adc"))
        .orderBy("query_id", "vec_id")
    },
      // LOPQ-style fixed slots: cells + residuals exactly as the
      // q_s_ivfpq_residual oracle, then the RESIDUAL permuted
      // y_i = r_{5i mod 64} before codebook slicing / encode / ADC
      residualIvfPqOracle(nprobe = 3, m = 4, permuteResidual = true)),

    // ---- LOPQ-style composition's payoff: rotation trained on the
    //      RESIDUAL distribution (the covariance the codebooks actually
    //      quantize), cells untouched in raw space. Measured on the
    //      anisotropized corpus: 0.475 vs plain residual IVF-PQ 0.42 —
    //      also above the pre-transform chain's 0.46, which is the point
    //      of rotating residuals instead of raw vectors. Trained state →
    //      literal-verdict gate.
    Query("q_s_lopq_recall", (s, dir) => {
      // decode-once: e feeds kmeans, the residual map, two index arms
      // and the ground-truth arm
      val e = spreadEmb(s, dir)
        .select(col("vec_id"), transform(col("embedding"),
          (x, j) => x * (j.cast("double") + 1.0)).as("embedding"))
        .localCheckpoint(true)
      val queries = queryPanel(e, 20)
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
    },
      // LOPQ residual-rotation vs plain residual IVF-PQ recall: trained
      // rotation + quantizers, literal-verdict gate
      """SELECT lopq_beats_plain, lopq_ok
         FROM (VALUES (true, true)) AS t(lopq_beats_plain, lopq_ok)"""),

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
    Query("q_s_sampled_train", (s, dir) => {
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
      val queries = queryPanel(clustered, 20)
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
    },
      // bounded-sample quantizer training holds full-training recall on
      // the clustered fixture: trained state -> literal-verdict gate
      """SELECT sampled_holds_full, sampled_ok
         FROM (VALUES (true, true)) AS t(sampled_holds_full, sampled_ok)"""),

    // ---- trained-index persistence (the production retrieval
    //      lifecycle): build a residual IVF-PQ index with fixed
    //      quantizers, SAVE its complete state to parquet (centroids /
    //      codebooks / cell-partitioned codes), RELOAD it from disk
    //      alone — IndexStore.load touches no in-session state, raw
    //      corpus, or training sample — and serve top-k (nprobe=3,
    //      distinct from q_s_ivfpq_residual's 4) from the loaded codes.
    //      The oracle re-derives the whole chain from the raw corpus,
    //      so a round-trip that loses a double anywhere hash-fails.
    Query("q_s_index_persist", (s, dir) => {
      val e = spreadEmb(s, dir)
      val queries = queryPanel(e)
      val (cents, cb) = residualQuantizers(e)
      val idxDir = tempFixtureDir("graft-ivfpq-index").toString
      llm.IndexStore.save(
        llm.IndexStore.build("ivfpq_residual", e, "vec_id", "embedding",
          cents, cb), idxDir)
      llm.IndexStore.load(s, idxDir)
        .search(queries, "query_id", "embedding", k = 10, nprobe = 3)
        .select(col("query_id"), col("vec_id"), round(col("adc"), 6).as("adc"))
        .orderBy("query_id", "vec_id")
    },
      // Index round-trip: the LOADED index must score exactly what a
      // from-scratch re-derivation scores — same chain as the
      // q_s_ivfpq_residual oracle with nprobe=3. A persistence bug that
      // drops a double anywhere (centroid order, codebook slice,
      // partition-column cell id) breaks the 6-decimal ADC hash.
      residualIvfPqOracle(nprobe = 3)),

    // ---- index MAINTENANCE as a driver-checked row: build the
    //      residual IVF-PQ index over HALF the corpus (even vec_ids),
    //      save, then APPEND the odd half with the frozen quantizers
    //      and serve — the daily-crawl-growth lifecycle. The oracle is
    //      the same full-corpus re-derivation as q_s_index_persist
    //      (nprobe=3): a correct append is indistinguishable from a
    //      one-shot build, so any dropped/duplicated/mis-celled code
    //      in the append path hash-fails.
    Query("q_s_index_append", (s, dir) => {
      val e = spreadEmb(s, dir)
      val queries = queryPanel(e)
      // quantizers from the FULL corpus (frozen model state; the split
      // only affects which half is encoded at build vs append time)
      val (cents, cb) = residualQuantizers(e)
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
    },
      // append == one-shot build: the q_s_index_persist re-derivation
      // verbatim — a correct frozen-quantizer append is
      // indistinguishable from indexing the full corpus at build time
      residualIvfPqOracle(nprobe = 3)),

    // ---- index COMPACTION (VERDICT r19 item 3a): a daily-append
    //      deployment accumulates one part file per touched cell per
    //      append until scan planning degrades; compact() must restore
    //      the one-file-per-cell layout WITHOUT changing a single
    //      search result. Same save-half/append-half fixture as
    //      q_s_index_append; the require pins the observable (fewer
    //      part files, at most one per cell), the oracle pins the
    //      invariant (post-compact serve == one-shot full build —
    //      q_s_index_append's re-derivation verbatim).
    Query("q_s_index_compact", (s, dir) => {
      val e = spreadEmb(s, dir)
      val queries = queryPanel(e)
      val (cents, cb) = residualQuantizers(e)
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
    },
      // compaction must not change a single search result: post-compact
      // serve == one-shot full build == the q_s_index_append chain
      ivfPqServeOracle("", "TRUE")),

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
    Query("q_s_index_delete", (s, dir) => {
      val e = spreadEmb(s, dir)
      val queries = queryPanel(e)
      val (cents, cb) = residualQuantizers(e)
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
    },
      // delete == rebuild-without-them: same chain, scored set excludes
      // the tombstoned ids (frozen-quantizer codes are independent of
      // what else is indexed, so this IS the rebuilt index)
      ivfPqServeOracle("", "d.vec_id % 7 <> 3")),
  )
}
