package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.osm.LocalGate

/** Distributed linear-model fitting via the normal equations — the
  * quality-regression step of a curation pipeline ("predict human
  * quality ratings from cheap scan-local features, score every doc").
  *
  * 100 TB shape: the ONLY pass over the data is one hash aggregate
  * computing the O(d²) moment matrix (XᵀX, Xᵀy) with map-side partials
  * — the same shape as `count(*)`, so it scales like a count. The
  * solve is O(d³) on the driver (d is feature count, single-digit
  * here; sanctioned driver work like the IVF centroid loop), and the
  * coefficients broadcast back as literals, so scoring is a
  * scan-local projection that pipelines into whatever filter or sink
  * follows. No gradient iterations, no per-row driver traffic.
  *
  * Cross-engine determinism (what makes the exact-hash oracle
  * possible): features are INTEGER-valued (counts), so every moment
  * is an exact integer — order-independent under any partitioning on
  * both engines — and the Cramer solve in [[fit2]] is written with an
  * explicit parenthesization that the DuckDB oracle replicates
  * token-for-token. IEEE-754 binary64 ops are deterministic given the
  * same expression tree, so β matches bit-for-bit, and the scoring
  * projection (same tree again) matches bit-for-bit too.
  */
object Regression {

  /** OLS/ridge fit of `y ~ 1 + x1 + x2` (intercept unpenalized).
    * Inputs must be integer-valued columns (counts); `lambda` adds to
    * the x1/x2 diagonal of the Gram matrix. */
  case class Fit2(n: Long, beta0: Double, beta1: Double, beta2: Double)

  def fit2(df: DataFrame, x1: Column, x2: Column, y: Column,
      lambda: Double = 0.0): Fit2 = {
    val xl = x1.cast("long"); val yl = y.cast("long"); val zl = x2.cast("long")
    val m = df.agg(
      count(lit(1)).as("n"),
      sum(xl).as("s1"), sum(zl).as("s2"), sum(yl).as("sy"),
      sum(xl * xl).as("s11"), sum(xl * zl).as("s12"),
      sum(zl * zl).as("s22"),
      sum(xl * yl).as("s1y"), sum(zl * yl).as("s2y")).head()
    val n = m.getLong(0)
    // every moment is an exact integer; the double conversions below
    // are exact for |v| < 2^53 (oracle casts the same way)
    val a11 = n.toDouble
    val a12 = m.getLong(1).toDouble; val a13 = m.getLong(2).toDouble
    val b1 = m.getLong(3).toDouble
    val a22 = m.getLong(4).toDouble + lambda
    val a23 = m.getLong(5).toDouble
    val a33 = m.getLong(6).toDouble + lambda
    val b2 = m.getLong(7).toDouble; val b3 = m.getLong(8).toDouble
    // Cramer's rule, parenthesization mirrored EXACTLY in the oracle
    // SQL (q_t_quality_fit) — do not re-associate these expressions
    val det = a11 * (a22 * a33 - a23 * a23) -
      a12 * (a12 * a33 - a23 * a13) + a13 * (a12 * a23 - a22 * a13)
    val det0 = b1 * (a22 * a33 - a23 * a23) -
      a12 * (b2 * a33 - a23 * b3) + a13 * (b2 * a23 - a22 * b3)
    val det1 = a11 * (b2 * a33 - a23 * b3) -
      b1 * (a12 * a33 - a23 * a13) + a13 * (a12 * b3 - b2 * a13)
    val det2 = a11 * (a22 * b3 - b2 * a23) -
      a12 * (a12 * b3 - b2 * a13) + b1 * (a12 * a23 - a22 * a13)
    require(det != 0.0, "singular normal equations (collinear features)")
    Fit2(n, det0 / det, det1 / det, det2 / det)
  }

  /** Predicted value as a column — `β0 + β1·x1 + β2·x2` with the same
    * left-to-right association the oracle writes. */
  def predict2(f: Fit2, x1: Column, x2: Column): Column =
    lit(f.beta0) + lit(f.beta1) * x1.cast("double") +
      lit(f.beta2) * x2.cast("double")

  /** General-d ridge fit `y ~ 1 + xs` via one moment aggregation and a
    * driver-side Gaussian elimination with partial pivoting. Same two
    * exchanges and O(d²) aggregate state as [[fit2]] for any d; the
    * float path differs from Cramer by normal rounding, so this one is
    * spec-checked against [[fit2]] at d=2 rather than oracle-hashed. */
  def fitNormal(df: DataFrame, xs: Seq[Column], y: Column,
      lambda: Double = 0.0): Array[Double] = {
    val d = xs.size
    val cols = lit(1.0).cast("double") +: xs.map(_.cast("double"))
    val yd = y.cast("double")
    // upper triangle of [X|y]ᵀ[X|y] in one agg row
    val moments =
      (for (i <- 0 to d; j <- i to d) yield sum(cols(i) * cols(j))) ++
        (for (i <- 0 to d) yield sum(cols(i) * yd))
    val row = df.agg(moments.head, moments.tail: _*).head()
    val a = Array.ofDim[Double](d + 1, d + 2)
    var k = 0
    for (i <- 0 to d; j <- i to d) {
      a(i)(j) = row.getDouble(k); a(j)(i) = a(i)(j); k += 1
    }
    for (i <- 0 to d) a(i)(d + 1) = row.getDouble(k + i)
    for (i <- 1 to d) a(i)(i) += lambda // intercept unpenalized
    // Gaussian elimination, partial pivoting
    for (p <- 0 to d) {
      val piv = (p to d).maxBy(r => math.abs(a(r)(p)))
      require(math.abs(a(piv)(p)) > 1e-12, "singular normal equations")
      val t = a(p); a(p) = a(piv); a(piv) = t
      for (r <- p + 1 to d) {
        val f = a(r)(p) / a(p)(p)
        for (c <- p to d + 1) a(r)(c) -= f * a(p)(c)
      }
    }
    val beta = new Array[Double](d + 1)
    for (p <- d to 0 by -1) {
      var s = a(p)(d + 1)
      for (c <- p + 1 to d) s -= a(p)(c) * beta(c)
      beta(p) = s / a(p)(p)
    }
    beta
  }

  // --------------------------------------------------------------------
  // fastText-style hashed-ngram LOGISTIC classifier — the CCNet-family
  // quality/language filter: hashed bag of word n-grams, batch
  // gradient descent, score every doc. Unlike the closed-form fits
  // above this is iterative, so it follows the pageRank oracle
  // contract: FIXED iteration count, deterministic expression trees,
  // doubles throughout, consumers round.

  /** Hashed bag-of-word-ngram features (1..maxN-grams over whitespace
    * tokens, fastText's input layer): rows `(idCol, bucket, x)` with
    * `bucket = md5Hash31(gram) mod dim` (the PORTABLE hash family — an
    * independent SQL engine computes identical buckets) and `x` the
    * gram count tf-normalized by the doc's total gram count —
    * or BINARY presence (x = 1) with `binary = true`, the right
    * encoding when the signal is a handful of indicator grams (tf on
    * a 100-gram doc shrinks each indicator to ~0.01 and the intercept
    * swamps it; observed on the corpus label below).
    *
    * 100 TB shape: explode + one (doc, bucket) hash-agg + one per-doc
    * total agg joined back — scan-proportional, map-side partials
    * absorb token skew; `dim` caps the model state regardless of
    * vocabulary size (the hashing trick). */
  def hashedNgramFeatures(docs: DataFrame, idCol: String, text: Column,
      dim: Int, maxN: Int = 2, binary: Boolean = false): DataFrame = {
    val grams = graft.functions.GraftFunctions.let(TextAnalysis.tokens(text)) {
      toks => (1 to maxN).map(TextAnalysis.rawNgramsOfTokens(toks, _))
        .reduce(concat(_, _))
    }
    val cnt = docs.select(col(idCol), explode(grams).as("__g"))
      .select(col(idCol),
        pmod(Dedup.md5Hash31(col("__g")), lit(dim.toLong)).as("bucket"))
      .groupBy(col(idCol), col("bucket")).agg(count(lit(1)).as("__c"))
    if (binary)
      cnt.select(col(idCol), col("bucket"), lit(1.0).as("x"))
    else {
      val tot = cnt.groupBy(col(idCol)).agg(sum(col("__c")).as("__t"))
      cnt.join(tot, idCol)
        .select(col(idCol), col("bucket"),
          (col("__c").cast("double") / col("__t")).as("x"))
    }
  }

  /** Batch-gradient-descent logistic regression over sparse hashed
    * features: w ← w − lr · Xᵀ(σ(Xw) − y)/n for `iters` rounds from
    * w = 0. The intercept rides reserved bucket −1 (one unit feature
    * per labeled doc), so the distributed loop has NO driver-side
    * scalar state — the whole model is the returned `(bucket, w)`
    * relation and the loop is pure joins + hash-aggs (weights can be
    * millions of buckets; nothing collects). Below `localThreshold`
    * labeled-feature rows the same update rule runs on the driver
    * (the broadcast-local pattern — see the branch comment).
    * Deterministic given (features, labels, iters, lr): round-k
    * weights are a fixed expression tree the SQL oracle unrolls; float
    * addition order drifts ≪ the consumer rounding. */
  def fitLogistic(feats: DataFrame, idCol: String, labels: DataFrame,
      yCol: String, iters: Int = 8, lr: Double = 1.0,
      localThreshold: Long = 1000000L): DataFrame = {
    val f = feats.select(col(idCol).as("__id"), col("bucket"), col("x"))
      .unionByName(labels.select(col(idCol).as("__id"),
        lit(-1L).as("bucket"), lit(1.0).as("x")))
      .localCheckpoint(true)
    val y = labels.select(col(idCol).as("__id"),
      col(yCol).cast("double").as("__y")).localCheckpoint(true)
    val n = y.count()
    // Broadcast-local fast path (r21; the GraphCheck localThreshold
    // pattern): each relational GD round is 2 shuffles + a checkpoint,
    // which under AQE plans ~10 driver jobs — measured 258 jobs / 23 s
    // for 24 rounds over a 200k-row feature relation whose math takes
    // milliseconds. When the LABELED feature relation fits the driver
    // (labels are human ratings — bounded at any corpus scale), run
    // the identical update rule in memory: same doubles, same
    // coalesce-0 semantics; sum order drifts only within the 1e-9 the
    // spec (and the consumers' round(5)) already absorb. The
    // distributed loop remains the shape for million-bucket models
    // over unbounded label sets (`localThreshold = 0` forces it).
    // The gate is `LocalGate.rows`: one probe job, and a NULL feature
    // (which the twin could not read) keeps the run on the distributed
    // loop, whose SQL sums skip it.
    LocalGate.rows(f, localThreshold).foreach { probe =>
      val spark = f.sparkSession
      import spark.implicits._
      // fixed traversal order (id string, bucket) makes reruns
      // bit-identical to each other
      val rows = probe
        .map(r => (r.get(0), r.getLong(1), r.getDouble(2)))
        .sortBy { case (id, b, _) => (String.valueOf(id), b) }
      val yMap = y.collect().map(r => r.get(0) -> r.getDouble(1)).toMap
      val byDoc = rows.groupBy(_._1).view
        .filterKeys(yMap.contains).toMap // unlabeled docs: no gradient
      val w = scala.collection.mutable.Map.empty[Long, Double]
      rows.foreach(r => w.getOrElseUpdate(r._2, 0.0))
      for (_ <- 1 to iters) {
        val grad = scala.collection.mutable.Map.empty[Long, Double]
        byDoc.toSeq.sortBy(d => String.valueOf(d._1)).foreach {
          case (id, fr) =>
            var s = 0.0
            fr.foreach { case (_, b, x) => s += x * w(b) }
            val e = 1.0 / (1.0 + math.exp(-s)) - yMap(id)
            fr.foreach { case (_, b, x) =>
              grad(b) = grad.getOrElse(b, 0.0) + x * e }
        }
        w.keys.foreach { b =>
          w(b) = w(b) - lr * (grad.getOrElse(b, 0.0) / n) }
      }
      return w.toSeq.sortBy(_._1).toDF("bucket", "w")
    }
    var w = f.select(col("bucket")).distinct()
      .withColumn("w", lit(0.0)).localCheckpoint(true)
    for (_ <- 1 to iters) {
      val s = f.join(w, Seq("bucket"), "left_outer")
        .groupBy(col("__id"))
        .agg(sum(col("x") * coalesce(col("w"), lit(0.0))).as("__s"))
      val err = s.join(y, "__id")
        .select(col("__id"),
          (lit(1.0) / (lit(1.0) + exp(-col("__s"))) - col("__y")).as("__e"))
      val grad = f.join(err, "__id")
        .groupBy(col("bucket"))
        .agg((sum(col("x") * col("__e")) / n).as("__g"))
      w = w.join(grad, Seq("bucket"), "left_outer")
        .select(col("bucket"),
          (col("w") - lit(lr) * coalesce(col("__g"), lit(0.0))).as("w"))
        .localCheckpoint(true)
    }
    w
  }

  /** Score docs with a [[fitLogistic]] model: `(idCol, p)` with
    * p = σ(w·x + b). Buckets unseen at training time contribute 0
    * (the standard hashing-trick semantics). */
  def predictLogistic(feats: DataFrame, idCol: String,
      weights: DataFrame): DataFrame = {
    val f = feats.select(col(idCol), col("bucket"), col("x"))
      .unionByName(feats.select(col(idCol)).distinct()
        .select(col(idCol), lit(-1L).as("bucket"), lit(1.0).as("x")))
    f.join(weights, Seq("bucket"), "left_outer")
      .groupBy(col(idCol))
      .agg(sum(col("x") * coalesce(col("w"), lit(0.0))).as("__s"))
      .select(col(idCol),
        (lit(1.0) / (lit(1.0) + exp(-col("__s")))).as("p"))
  }
}
