package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions

/** Distributed PCA over an embedding column — the dimensionality-
  * reduction step of a curation pipeline (compact ANN indexes, dedup in
  * a lower-dimensional space, drift dashboards over projected coords).
  *
  * 100 TB shape, same contract as [[Regression]]: the ONLY pass over
  * the data is one aggregation — `count(*)` + `vector_sum(outer_upper
  * (x))`, a native codegen'd per-row moment vector summed by the
  * O(d²)-state [[graft.functions.VectorSum]] with map-side partials —
  * so fitting scales like `count(*)` regardless of corpus size. The
  * eigensolve is O(d³) cyclic Jacobi on the driver (d = embedding
  * width, 64–4096; sanctioned driver work like the IVF centroid loop),
  * and projection is [[graft.functions.MatVec]] against the constant
  * component matrix — codegen'd, scan-local, pipelines into whatever
  * follows. No gradient iterations, no per-row driver traffic, no
  * second pass.
  *
  * Width guidance: the per-row moment vector is d(d+3)/2 doubles —
  * 2 KB at d=64, 33 KB at d=256, 4 MB at d=1024. Full-covariance PCA
  * is the right tool to a few hundred dims; past that, subsample rows
  * for the fit (the model needs O(d²) samples, not the corpus) or use
  * a randomized range sketch — the projection side is dimension-cheap
  * either way.
  *
  * Determinism: Jacobi on a fixed matrix is deterministic; component
  * SIGN is normalized (largest-|entry| coordinate made positive, first
  * index on ties) so refits and the spec's planted-subspace recovery
  * compare stably. Distributed float summation makes the covariance
  * partition-order dependent in the last bits, so cross-engine oracles
  * gate on INVARIANTS (orthonormality, descending explained variance,
  * captured-variance and reconstruction bounds) rather than
  * coefficient bits — same policy as the Lloyd IVF recall gate.
  */
object Pca {

  case class PcaModel(n: Long, mean: Array[Double],
      components: Array[Array[Double]], eigenvalues: Array[Double],
      totalVar: Double) {
    /** Fraction of total variance captured by the top-k components. */
    def captured: Double = eigenvalues.sum / totalVar
  }

  /** One-pass fit: moment aggregate -> driver covariance -> Jacobi. */
  def fit(df: DataFrame, vecCol: Column, k: Int): PcaModel = {
    val row = df.agg(count(lit(1)).as("n"),
      GraftFunctions.vectorSum(GraftFunctions.outerUpper(vecCol)).as("m"))
      .head()
    val n = row.getLong(0)
    require(n > 1, s"PCA needs more than one vector, got $n")
    val m = row.getSeq[Double](1).toArray
    // solve d + d(d+1)/2 = m.length for d
    val d = ((math.sqrt(9 + 8.0 * m.length) - 3) / 2).round.toInt
    require(d + d * (d + 1) / 2 == m.length, s"bad moment length ${m.length}")
    val mean = Array.tabulate(d)(i => m(i) / n)
    val cov = Array.ofDim[Double](d, d)
    var kk = d
    var i = 0
    while (i < d) {
      var j = i
      while (j < d) {
        val c = m(kk) / n - mean(i) * mean(j)
        cov(i)(j) = c; cov(j)(i) = c
        kk += 1; j += 1
      }
      i += 1
    }
    val totalVar = (0 until d).map(i => cov(i)(i)).sum
    val (vals, vecs) = jacobiEigen(cov)
    val order = vals.indices.sortBy(i => -vals(i)).take(k)
    val comps = order.map { ei =>
      val v = Array.tabulate(d)(r => vecs(r)(ei))
      // sign convention: the largest-|entry| coordinate is positive
      var best = 0
      var r = 1
      while (r < d) { if (math.abs(v(r)) > math.abs(v(best))) best = r; r += 1 }
      if (v(best) < 0) v.map(-_) else v
    }.toArray
    PcaModel(n, mean, comps, order.map(vals).toArray, totalVar)
  }

  /** Projection column: `components · (x - mean)` — MatVec against the
    * constant component matrix minus the precomputed `components·mean`
    * offsets, so the per-row work stays inside the codegen'd dot. */
  def project(vecCol: Column, model: PcaModel): Column = {
    val offs = model.components.map(c =>
      c.zip(model.mean).map { case (a, b) => a * b }.sum)
    zip_with(
      GraftFunctions.matVec(model.components.map(_.toSeq).toSeq, vecCol),
      typedlit(offs.toSeq), (p, o) => p - o)
  }

  /** Mean reconstruction MSE of the corpus under the model — one more
    * scan-local aggregate, used by the q_s_pca bound gate:
    * `mean ||x - mean - Vᵀ V (x-mean)||²` = residual variance. */
  def reconstructionMse(df: DataFrame, vecCol: Column, model: PcaModel): Double = {
    val proj = project(vecCol, model)
    // ||x-mean||² - ||proj||² (V has orthonormal rows)
    val centered2 = zip_with(vecCol,
      typedlit(model.mean.toSeq),
      (x, mu) => (x.cast("double") - mu) * (x.cast("double") - mu))
    val e = df.agg(
      avg(aggregate(centered2, lit(0.0), (a, x) => a + x) -
        aggregate(transform(proj, p => p * p), lit(0.0), (a, x) => a + x)))
      .head().getDouble(0)
    e
  }

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix: returns
    * (eigenvalues, eigenvector-columns). Deterministic sweep order;
    * converges quadratically — 12 sweeps is far past double precision
    * for d up to a few thousand. */
  private[graft] def jacobiEigen(a0: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val d = a0.length
    val a = Array.tabulate(d, d)((i, j) => a0(i)(j))
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = Double.MaxValue
    while (sweep < 12 && off > 1e-14) {
      off = 0.0
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          val apq = a(p)(q)
          off += apq * apq
          if (apq != 0.0) {
            val theta = (a(q)(q) - a(p)(p)) / (2 * apq)
            val t = math.signum(theta) /
              (math.abs(theta) + math.sqrt(theta * theta + 1)) match {
                case 0.0 => 1.0 / (theta + math.sqrt(theta * theta + 1))
                case x => x
              }
            val c = 1 / math.sqrt(t * t + 1)
            val s = t * c
            var r = 0
            while (r < d) {
              val arp = a(r)(p); val arq = a(r)(q)
              a(r)(p) = c * arp - s * arq
              a(r)(q) = s * arp + c * arq
              r += 1
            }
            r = 0
            while (r < d) {
              val apr = a(p)(r); val aqr = a(q)(r)
              a(p)(r) = c * apr - s * aqr
              a(q)(r) = s * apr + c * aqr
              val vrp = v(r)(p); val vrq = v(r)(q)
              v(r)(p) = c * vrp - s * vrq
              v(r)(q) = s * vrp + c * vrq
              r += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    (Array.tabulate(d)(i => a(i)(i)), v)
  }

  /** SVD of a square matrix via the symmetric eigensolver:
    * `mat = U diag(σ) Vᵀ` with U, V returned as COLUMN matrices and σ
    * descending. V and σ² come from Jacobi on `matᵀmat`; U columns are
    * `mat·vᵢ/σᵢ`, Gram–Schmidt-completed where σᵢ underflows (rank
    * deficiency) so U is always a full orthonormal basis — the shape
    * the orthogonal-Procrustes update needs (R = V Uᵀ maximizes
    * tr(R·mat) over rotations even when `mat` is singular). O(d³)
    * driver work, same budget class as [[jacobiEigen]]. */
  private[graft] def svdSquare(mat: Array[Array[Double]])
      : (Array[Array[Double]], Array[Double], Array[Array[Double]]) = {
    val d = mat.length
    val mtm = Array.tabulate(d, d) { (i, j) =>
      var s = 0.0; var r = 0
      while (r < d) { s += mat(r)(i) * mat(r)(j); r += 1 }
      s
    }
    val (vals, vecs) = jacobiEigen(mtm)
    val order = vals.indices.sortBy(i => -vals(i))
    val v = Array.tabulate(d, d)((r, c) => vecs(r)(order(c)))
    val sig = order.map(i => math.sqrt(math.max(vals(i), 0.0))).toArray
    val u = Array.ofDim[Double](d, d)
    val tol = 1e-12 * math.max(sig.headOption.getOrElse(0.0), 1e-300)
    var c = 0
    while (c < d) {
      val raw =
        if (sig(c) > tol)
          Array.tabulate(d) { r =>
            var s = 0.0; var j = 0
            while (j < d) { s += mat(r)(j) * v(j)(c); j += 1 }
            s
          }
        else {
          // null-space column: seed with the unit vector least covered
          // by the U columns already placed, then orthogonalize
          val cover = Array.ofDim[Double](d)
          for (cc <- 0 until c; r <- 0 until d)
            cover(r) += u(r)(cc) * u(r)(cc)
          val seed = cover.indices.minBy(i => (cover(i), i))
          Array.tabulate(d)(r => if (r == seed) 1.0 else 0.0)
        }
      // modified Gram–Schmidt against all previous columns (cheap
      // reorthogonalization also scrubs float drift in the σ>0 columns)
      for (cc <- 0 until c) {
        var dp = 0.0; var r = 0
        while (r < d) { dp += raw(r) * u(r)(cc); r += 1 }
        r = 0
        while (r < d) { raw(r) -= dp * u(r)(cc); r += 1 }
      }
      val nrm = math.sqrt(raw.map(x => x * x).sum)
      require(nrm > 1e-300, s"svdSquare: degenerate basis at column $c")
      var r = 0
      while (r < d) { u(r)(c) = raw(r) / nrm; r += 1 }
      c += 1
    }
    (u, sig, v)
  }
}
