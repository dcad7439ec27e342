package graft

import org.apache.spark.sql.functions._

import graft.llm.{Curation, Dedup, Multimodal, Similarity, TextAnalysis}

class LlmSpec extends SparkTestBase {
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bank tonight"), // near-dup of 1
    (3L, "completely different content about spark catalyst optimizer internals"),
    (4L, "the quick brown fox jumps over the lazy dog near the river bank today")   // exact dup of 1
  ).toDF("doc_id", "text")

  test("minhash signatures are deterministic and equal for equal texts") {
    val s1 = Dedup.minhashSignatures(docs, "doc_id", $"text").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val s2 = Dedup.minhashSignatures(docs, "doc_id", $"text").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(s1 === s2)
    assert(s1(1L) === s1(4L)) // identical text -> identical signature
    assert(s1(1L) !== s1(3L))
  }

  test("minhash-LSH near-dups: finds exact+near pairs, not disjoint ones") {
    // bands=8 (rows/band=4) centers the S-curve at ~0.59, so a J~0.85
    // near-dup pair collides with p~0.997 — recall here is a theory
    // guarantee, not a lucky draw of the fixed hash seeds
    val pairs = Dedup.minhashNearDups(docs, "doc_id", $"text", bands = 8,
        threshold = 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 4L)))
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("keepCanonical: pair clusters collapse to their min id, unpaired docs survive") {
    // docs 1, 2, 4 form one near-dup cluster (1~2, 1~4); doc 3 is alone
    val pairs = Dedup.minhashNearDups(docs, "doc_id", $"text", bands = 8,
      threshold = 0.5)
    val kept = Dedup.keepCanonical(docs, "doc_id", pairs)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L, 3L))
    // no pairs at all -> everything survives
    val none = Dedup.keepCanonical(docs, "doc_id",
      pairs.filter($"id_a" < 0))
    assert(none.count() === 4L)
  }

  test("simhash: identical -> hamming 0, near-dup -> small, disjoint -> large") {
    val sh = Dedup.simhash(docs, "doc_id", $"text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sh(1L), sh(4L)) === 0)
    assert(ham(sh(1L), sh(2L)) < ham(sh(1L), sh(3L)))
    val nd = Dedup.simhashNearDups(docs, "doc_id", $"text", maxDist = 10)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(nd.contains((1L, 4L)))
  }

  test("simhashNearDups maxBucket star guard: megabucket flood links as hub star, small buckets unchanged") {
    // 8 identical docs (one signature -> every composite chunk key is a
    // megabucket) plus the fixture docs; guard cap 3 < 8
    val flood = (100L until 108L).map(i => (i, "flood flood flood common words"))
    val floodDf = flood.toDF("doc_id", "text")
    val all = docs.unionByName(floodDf)
    val unguarded = Dedup.simhashNearDups(all, "doc_id", $"text", maxDist = 3)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val guarded = Dedup.simhashNearDups(all, "doc_id", $"text",
        maxDist = 3, maxBucket = 3)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // unguarded: all 28 flood pairs; guarded: the 7 hub-star pairs only
    val floodPairsAll = (for {
      a <- 100L until 108L; b <- (a + 1) until 108L } yield (a, b)).toSet
    val floodStar = (101L until 108L).map(b => (100L, b)).toSet
    assert(floodPairsAll.subsetOf(unguarded))
    assert(guarded.intersect(floodPairsAll) === floodStar,
      "guarded megabucket must emit exactly the min-id star")
    // guard output is a subset: the star never invents pairs
    assert(guarded.subsetOf(unguarded))
    // pairs outside megabuckets survive the guard (1<->4 are identical
    // fixture docs in a size-2 bucket, below the cap)
    assert(guarded.contains((1L, 4L)))
  }

  test("word n-grams and shingles shapes") {
    val r = docs.filter($"doc_id" === 3)
      .select(Dedup.wordNgrams($"text", 2).as("ng"), Dedup.shingles($"text", 5).as("sh"))
      .head()
    assert(r.getSeq[String](0).contains("completely different"))
    assert(r.getSeq[String](1).forall(_.length == 5))
  }

  test("chunkByTokens: exact multiples, remainders, tiny docs") {
    import graft.llm.TextAnalysis
    val df = Seq((1L, "a b c d e f"), (2L, "x y z"), (3L, "solo"))
      .toDF("doc_id", "text")
    val chunks = TextAnalysis.chunkByTokens(df, "doc_id", $"text", maxTokens = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3)))
    val byDoc = chunks.groupBy(_._1)
    assert(byDoc(1L).sortBy(_._2).map(c => (c._3, c._4)).toSeq ===
      Seq(("a b c", 3L), ("d e f", 3L))) // exact multiple: no ragged tail
    assert(byDoc(2L).map(c => (c._3, c._4)).toSeq === Seq(("x y z", 3L)))
    assert(byDoc(3L).map(c => (c._3, c._4)).toSeq === Seq(("solo", 1L)))
    // chunks reassemble to the original token stream
    assert(byDoc(1L).sortBy(_._2).map(_._3).mkString(" ") === "a b c d e f")
  }

  test("hash sampling: deterministic across reruns and partitionings; strata rates honored") {
    val d = docs.withColumn("lang",
      org.apache.spark.sql.functions.when($"doc_id" <= 2, "en").otherwise("de"))
    val rates = Map("en" -> 1.0, "de" -> 0.0)
    val once = Curation.sampleByHash(d, $"doc_id", $"lang", rates)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val again = Curation.sampleByHash(d.repartition(7), $"doc_id", $"lang", rates)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(once === Set(1L, 2L)) // rate 1.0 keeps all en, rate 0.0 drops all de
    assert(once === again)       // partitioning-independent
    // split assignment is a pure function of the key
    val splits = d.select($"doc_id", Curation.splitAssign($"doc_id").as("s"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val splits2 = d.repartition(3)
      .select($"doc_id", Curation.splitAssign($"doc_id").as("s"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(splits === splits2)
    assert(splits.values.forall(Set("train", "val", "test")))
  }

  test("decontamination drops benchmark members and n-gram-overlapping docs only") {
    // benchmark = doc 2; doc 1 and 4 share 8-grams with it (near/exact
    // dup), doc 3 shares none
    val benchmark = docs.filter($"doc_id" === 2)
    val kept = Curation.decontaminate(docs, benchmark, "doc_id", $"text", n = 8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(3L))
    // an empty benchmark keeps everything
    val all = Curation.decontaminate(docs, docs.filter($"doc_id" < 0),
      "doc_id", $"text", n = 8)
      .count()
    assert(all === 4L)
  }

  test("thresholded decontamination drops by overlap fraction, keeps " +
      "short-gram-free docs, and degenerates to the binary rule at 0") {
    import spark.implicits._
    // vocabulary words so 3-grams are controlled exactly; benchmark is
    // "b1 b2 b3 b4 b5" (three 3-grams)
    val corpus = Seq(
      // doc 1: 10 tokens, shares all 3 bench grams in its first 5
      // tokens -> 3 hits / 8 distinct grams = 0.375
      (1L, "b1 b2 b3 b4 b5 x1 x2 x3 x4 x5"),
      // doc 2: 5 tokens = the benchmark verbatim -> 3/3 = 1.0
      (2L, "b1 b2 b3 b4 b5"),
      // doc 3: zero overlap
      (3L, "y1 y2 y3 y4 y5 y6"),
      // doc 4: shorter than n -> no grams, must always be kept
      (4L, "z1 z2")).toDF("doc_id", "text")
    val bench = Seq((100L, "b1 b2 b3 b4 b5")).toDF("doc_id", "text")
    def keptAt(frac: Double): Set[Long] =
      Curation.decontaminateOverlap(corpus, bench, "doc_id", $"text",
        n = 3, maxOverlapFrac = frac)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    // 0.5: doc 1 (0.375) survives, doc 2 (1.0) drops
    assert(keptAt(0.5) === Set(1L, 3L, 4L))
    // 0.2: doc 1 drops too
    assert(keptAt(0.2) === Set(3L, 4L))
    // 0: any overlap drops — binary-rule equivalence on gram-bearing
    // docs (doc 4 has no grams and is kept by both)
    val binary = Curation.decontaminate(corpus, bench, "doc_id", $"text",
      n = 3).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptAt(0.0) === binary)
    assert(binary === Set(3L, 4L))
  }

  test("bloom decontamination is exact: matches the join path on a " +
      "larger corpus, survives a saturated (high-fpp) filter, and " +
      "plans the bloom probe scan-local") {
    import spark.implicits._
    // 300 docs over a 30-word vocabulary so cross-doc 8-gram collisions
    // actually occur (text is a pure function of doc_id mod 30);
    // benchmark = every 91st doc, covering residues 0..3 only, so
    // exactly 4 of the 30 text classes are contaminated
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa", "lam", "mu", "nu", "xi", "omi",
      "pi", "rho", "sigma", "tau", "ups", "phi", "chi", "psi", "omega",
      "one", "two", "three", "four", "five", "six")
    val corpus = (0L until 300L).map { i =>
      val words = (0 until 40).map(j => vocab(((i * 7 + j * j) % 30).toInt))
      (i, words.mkString(" "))
    }.toDF("doc_id", "text")
    val bench = corpus.filter($"doc_id" % 91 === 0)
    val exact = Curation.decontaminate(corpus, bench, "doc_id", $"text",
      n = 8).select("doc_id").collect().map(_.getLong(0)).toSet
    val bloomed = Curation.decontaminateBloom(corpus, bench, "doc_id",
      $"text", n = 8).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(bloomed === exact)
    assert(exact.nonEmpty && exact.size < 300) // non-vacuous both ways
    // saturated filter (fpp 0.5 -> ~2.9 bits/gram): false positives
    // flood the candidate stream but die in the exact verify join —
    // bloom degradation costs time, never correctness
    val saturated = Curation.decontaminateBloom(corpus, bench, "doc_id",
      $"text", n = 8, fpp = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(saturated === exact)
    // plan audit: the might_contain probe must sit in the corpus scan
    // stage with NO exchange beneath it — that is the whole point
    // (corpus-mass gram rows never shuffle; only bloom survivors do).
    // AQE off so the physical tree is walkable pre-execution.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val exec = Curation.decontaminateBloom(corpus, bench, "doc_id",
        $"text", n = 8).queryExecution.executedPlan
      val probes = exec.collect {
        case f: org.apache.spark.sql.execution.FilterExec
            if f.condition.find(_.isInstanceOf[
              org.apache.spark.sql.catalyst.expressions
                .BloomFilterMightContain]).isDefined => f
      }
      assert(probes.nonEmpty, s"bloom probe filter missing:\n$exec")
      probes.foreach { f =>
        val shufflesBelow = f.collect {
          case e: org.apache.spark.sql.execution.exchange
            .ShuffleExchangeExec => e
        }
        assert(shufflesBelow.isEmpty,
          s"bloom probe must filter the gram stream scan-locally, found " +
            s"exchange(s) beneath it:\n$f")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("cosine math: self-similarity 1, orthogonal 0") {
    val vecs = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f)), (2L, Seq(0.0f, 1.0f, 0.0f)),
      (3L, Seq(0.7f, 0.7f, 0.0f))).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(vecs, "vec_id", "embedding",
      Seq(1.0f, 0.0f, 0.0f), 3).collect()
    assert(top.head.getLong(0) === 1L)
    assert(math.abs(top.head.getDouble(1) - 1.0) < 1e-9)
    val cos = top.map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(cos(2L)) < 1e-9)
    assert(math.abs(cos(3L) - math.sqrt(0.5)) < 1e-6)
  }

  test("ANN LSH on real embeddings: self is rank 1, decent recall vs brute force") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = e.filter($"vec_id" < 3)
      .select($"vec_id".as("query_id"), $"embedding")
    val ann = Similarity.annTopKPerQuery(e, queries, "vec_id", "embedding",
      "query_id", k = 5, numBits = 8)
    val byQ = ann.collect().groupBy(_.getAs[Long]("query_id"))
    (0L until 3L).foreach { q =>
      val rows = byQ(q).sortBy(-_.getAs[Double]("cos"))
      assert(rows.head.getAs[Long]("vec_id") === q, "self must be top hit")
      assert(math.abs(rows.head.getAs[Double]("cos") - 1.0) < 1e-6)
    }
    // candidate cosines must equal the exact cosine for the same pair
    val qv = e.filter($"vec_id" === 0).select("embedding").head.getSeq[Float](0)
    val exact = Similarity.bruteForceTopK(e, "vec_id", "embedding", qv, 500)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    byQ(0L).foreach { r =>
      assert(math.abs(r.getAs[Double]("cos") - exact(r.getAs[Long]("vec_id"))) < 1e-9)
    }
  }

  test("int8-domain top-k: self is rank 1, ranking agrees with float brute force") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = e.filter($"vec_id" < 3)
      .select($"vec_id".as("query_id"), $"embedding")
    val i8 = Similarity.int8TopKPerQuery(e, queries, "vec_id", "embedding",
      "query_id", k = 5)
    val byQ = i8.collect().groupBy(_.getAs[Long]("query_id"))
    (0L until 3L).foreach { q =>
      val rows = byQ(q).sortBy(-_.getAs[Double]("cos_i8"))
      assert(rows.head.getAs[Long]("vec_id") === q, "self must be top hit")
      assert(math.abs(rows.head.getAs[Double]("cos_i8") - 1.0) < 1e-9,
        "self-cosine is exactly 1 in the integer domain")
    }
    // quantization perturbs cosines by O(1/127); with k=5 the int8 and
    // float rankings should agree almost everywhere on this corpus
    val exact = Similarity.topKPerQuery(e, queries, "vec_id", "embedding",
      "query_id", k = 5)
    val r = Similarity.recallAtK(
        i8.select($"query_id", $"vec_id"),
        exact.select($"query_id", $"vec_id"), "query_id", "vec_id")
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    (0L until 3L).foreach { q =>
      assert(r(q) >= 0.8, s"query $q int8-vs-float recall ${r(q)} < 0.8")
    }
  }

  test("IVF top-k: self is rank 1 per query") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = e.filter($"vec_id" < 3).select($"vec_id".as("query_id"), $"embedding")
    val r = Similarity.ivfTopKPerQuery(e, queries, "vec_id", "embedding",
      "query_id", k = 3, nlist = 8, nprobe = 3)
    val byQ = r.collect().groupBy(_.getAs[Long]("query_id"))
    (0L until 3L).foreach { q =>
      assert(byQ(q).maxBy(_.getAs[Double]("cos")).getAs[Long]("vec_id") === q)
    }
  }

  test("recallAtK unit: zero/partial/full overlap, missing query, dup rows, short exact") {
    // exact top-k: q0 has {1,2,3}, q1 has {4,5}, q2 has {6,7} (short —
    // corpus smaller than k), q3 has {8}
    val exact = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 4L), (1L, 5L),
      (2L, 6L), (2L, 7L), (3L, 8L)).toDF("query_id", "vec_id")
    // ann: q0 full overlap (with a DUPLICATE row that must not overcount
    // or push recall past 1.0), q1 partial (1 of 2 + a non-hit), q2
    // zero overlap, q3 missing entirely
    val ann = Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 3L), (1L, 4L),
      (1L, 99L), (2L, 50L), (2L, 51L)).toDF("query_id", "vec_id")
    val r = Similarity.recallAtK(ann, exact, "query_id", "vec_id")
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(r === Map(0L -> 1.0, 1L -> 0.5, 2L -> 0.0, 3L -> 0.0))
  }

  test("IVF recall: production config (nlist=16, nprobe=12) recall@5 is 1.0 per query") {
    // pins the exact per-query recall@5 the q_s_ivf_ann gate asserts —
    // same corpus, same config; a centroid-training or probe-pruning
    // regression shows up here before the correctness harness runs
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = e.filter($"vec_id" < 5).select($"vec_id".as("query_id"), $"embedding")
    val ann = Similarity.ivfTopKPerQuery(e, queries, "vec_id", "embedding",
      "query_id", k = 5, nlist = 16, nprobe = 12)
    val exact = Similarity.topKPerQuery(e, queries, "vec_id", "embedding",
      "query_id", k = 5)
    val r = Similarity.recallAtK(ann, exact, "query_id", "vec_id")
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(r.keySet === (0L until 5L).toSet)
    (0L until 5L).foreach { q =>
      assert(r(q) === 1.0, s"query $q recall ${r(q)} != 1.0")
    }
  }

  test("verifyEditDistance: exact distances on fixture pairs, threshold drops far pairs") {
    val pairs = Seq((1L, 4L), (1L, 2L), (1L, 3L)).toDF("id_a", "id_b")
    val got = Dedup.verifyEditDistance(pairs, docs, "doc_id", $"text", maxDist = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // exact dup -> 0; today/tonight differ by the classic DP distance
    def lev(a: String, b: String): Long = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length).toLong
    }
    val texts = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got((1L, 4L)) === 0L)
    assert(got((1L, 2L)) === lev(texts(1L), texts(2L)))
    // doc 3 is entirely different content: beyond maxDist, dropped
    assert(!got.contains((1L, 3L)))
  }

  test("PCA two-stage retrieval: 32-dim candidates + rescore, recall@5 is 1.0 per query") {
    // pins the per-query recall the q_s_pca_ann gate asserts — same
    // corpus family, same 32/64 dims + candK config; a projection or
    // rescore regression shows up here first
    import graft.llm.Pca
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val model = Pca.fit(e, $"embedding", k = 32)
    val red = e.select($"vec_id", Pca.project($"embedding", model).as("pv"))
    val queries = e.filter($"vec_id" < 5).select($"vec_id".as("query_id"), $"embedding")
    val redQ = red.filter($"vec_id" < 5).select($"vec_id".as("query_id"), $"pv")
    val ann = Similarity.rescoreTopKPerQuery(e, red, queries, redQ,
      "vec_id", "embedding", "pv", "query_id", k = 5, candK = 100)
    val exact = Similarity.topKPerQuery(e, queries, "vec_id", "embedding",
      "query_id", k = 5)
    val r = Similarity.recallAtK(ann, exact, "query_id", "vec_id")
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    (0L until 5L).foreach { q =>
      assert(r(q) === 1.0, s"query $q recall ${r(q)} != 1.0")
    }
  }

  test("int8 quantization: codes bounded, round-trip cosine >= 0.995 on real embeddings") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val (scale, codes) = Similarity.quantizeInt8($"embedding")
    val q = e.select($"vec_id", $"embedding", scale.as("s"), codes.as("c"))
    val stats = q.select(
      min(array_min($"c")).as("lo"), max(array_max($"c")).as("hi"),
      min(Similarity.cosine($"embedding",
        Similarity.dequantizeInt8($"s", $"c"))).as("worst_cos"))
      .head()
    assert(stats.getAs[Int]("lo") >= -127 && stats.getAs[Int]("hi") <= 127)
    assert(stats.getAs[Double]("worst_cos") >= 0.995,
      s"reconstruction too lossy: ${stats.getAs[Double]("worst_cos")}")
  }

  test("embedding near-dup: identical vectors pair at cos=1, orthogonal don't") {
    val vecs = Seq(
      (1L, Seq(1.0f, 0.0f, 0.5f, 0.2f)),
      (2L, Seq(1.0f, 0.0f, 0.5f, 0.2f)),       // exact dup of 1
      (3L, Seq(0.99f, 0.01f, 0.5f, 0.2f)),     // near dup of 1
      (4L, Seq(-1.0f, 0.2f, -0.5f, 3.0f))).toDF("vec_id", "embedding")
    val pairs = graft.llm.Dedup.embeddingNearDups(vecs, "vec_id", "embedding",
        threshold = 0.99, numBits = 4, dim = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("product quantization: codes match brute-force nearest sub-centroid; ADC self-rank") {
    import graft.llm.Similarity
    val rnd = new scala.util.Random(11)
    val dim = 8; val m = 2; val sub = dim / m; val kcb = 4
    val vecs = (0L until 40L).map(i =>
      (i, Seq.fill(dim)(rnd.nextFloat() * 2 - 1))).toDF("vec_id", "embedding")
    val cb = Similarity.pqCodebooksFixed(vecs, "vec_id", "embedding", m, kcb)
    assert(cb.length === m && cb.head.length === kcb && cb.head.head.length === sub)
    // engine codes == brute-force argmin over full L2² per subspace
    val enc = vecs.select(col("vec_id"),
        Similarity.pqEncode(col("embedding"), cb).as("codes"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val raw = vecs.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble)).toMap
    raw.foreach { case (id, v) =>
      (0 until m).foreach { mi =>
        val vm = v.slice(mi * sub, (mi + 1) * sub)
        val best = cb(mi).zipWithIndex.map { case (c, j) =>
          (c.zip(vm).map { case (a, b) => (a - b) * (a - b) }.sum, j)
        }.min._2
        assert(enc(id)(mi) === best, s"vec $id subspace $mi")
      }
    }
    // a query that seeded the codebooks quantizes losslessly: its own
    // ADC distance is 0, so it must rank itself first
    val queries = vecs.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val top = Similarity.pqAdcTopK(vecs, queries, "vec_id", "embedding",
        "query_id", k = 1, cb)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    (0L until 3L).foreach { qid =>
      assert(top(qid)._1 === qid, s"query $qid should rank itself first")
      assert(math.abs(top(qid)._2) < 1e-9)
    }
  }

  test("residual IVF-PQ: residuals match v−c, self-rank zero, ADC equals hand-computed") {
    import graft.llm.Similarity
    val rnd = new scala.util.Random(7)
    val dim = 8; val m = 2; val sub = dim / m; val kcb = 4; val nlist = 4
    val vecs = (0L until 40L).map(i =>
      (i, Seq.fill(dim)(rnd.nextFloat() * 2 - 1))).toDF("vec_id", "embedding")
    val cents = Similarity.initCentroids(vecs, "vec_id", "embedding", nlist)
    val raw = vecs.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toIndexedSeq)
      .toMap
    def cos(a: Seq[Double], b: Seq[Double]) = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    def assignOf(v: Seq[Double]) =
      cents.zipWithIndex.map { case (c, i) => (-cos(v, c), i) }.min._2
    // 1) residualCorpus values are exactly v − c_assigned
    val resC = Similarity.residualCorpus(vecs, "vec_id", "embedding", cents)
    val resMap = resC.collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toIndexedSeq).toMap
    raw.foreach { case (id, v) =>
      val c = cents(assignOf(v))
      val expect = v.zip(c).map { case (x, y) => x - y }
      assert(resMap(id) === expect, s"residual of vec $id")
    }
    // 2) codebook seeds quantize their own residual losslessly -> each
    //    query ranks itself first at ADC 0 (its own cell is always the
    //    top probe: cosine(q, c_own) is maximal among cells by argmax)
    val cb = Similarity.pqCodebooksFixed(resC, "vec_id", "embedding", m, kcb)
    val queries = vecs.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val top = Similarity.ivfPqResidualTopK(vecs, queries, "vec_id",
        "embedding", "query_id", k = 1, cents, nprobe = nlist, cb)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    (0L until 3L).foreach { qid =>
      assert(top(qid)._1 === qid, s"query $qid should rank itself first")
      assert(math.abs(top(qid)._2) < 1e-9)
    }
    // 3) full ADC table: engine scores == hand-computed Σ_m ‖r_q,m − c_code‖²
    //    over each corpus vector's own-cell residual codes
    def encode(r: Seq[Double]): Seq[Int] = (0 until m).map { mi =>
      val rm = r.slice(mi * sub, (mi + 1) * sub)
      cb(mi).zipWithIndex.map { case (c, j) =>
        (c.zip(rm).map { case (a, b) => (a - b) * (a - b) }.sum, j)
      }.min._2
    }
    val all = Similarity.ivfPqResidualTopK(vecs, queries, "vec_id",
        "embedding", "query_id", k = 40, cents, nprobe = nlist, cb)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    all.foreach { case ((qid, vid), adc) =>
      val rq = {  // query residual in the CORPUS vector's cell frame
        val cell = assignOf(raw(vid))
        raw(qid).zip(cents(cell)).map { case (x, y) => x - y }
      }
      val codes = encode(resMap(vid))
      val expect = (0 until m).map { mi =>
        val qm = rq.slice(mi * sub, (mi + 1) * sub)
        val c = cb(mi)(codes(mi))
        qm.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum
      }.sum
      assert(math.abs(adc - expect) < 1e-9, s"ADC mismatch q$qid v$vid")
    }
  }

  test("opqIvfPqResidualTopK: identity rotation reduces to plain residual IVF-PQ; permutation rotation equals search in hand-permuted space") {
    import graft.llm.{Pca, Similarity}
    val rnd = new scala.util.Random(11)
    val dim = 8; val m = 2; val kcb = 4; val nlist = 4
    val vecs = (0L until 40L).map(i =>
      (i, Seq.fill(dim)(rnd.nextFloat() * 2 - 1))).toDF("vec_id", "embedding")
    val queries = vecs.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // identity: the composed chain must equal the plain one bit-for-bit
    val id = Similarity.permutationRotation(0 until dim)
    val centsI = Similarity.initCentroids(vecs, "vec_id", "embedding", nlist)
    val cbI = Similarity.pqCodebooksFixed(
      Similarity.residualCorpus(vecs, "vec_id", "embedding", centsI),
      "vec_id", "embedding", m, kcb)
    assert(rows(Similarity.opqIvfPqResidualTopK(vecs, queries, "vec_id",
        "embedding", "query_id", 5, id, centsI, nlist, cbI)) ===
      rows(Similarity.ivfPqResidualTopK(vecs, queries, "vec_id",
        "embedding", "query_id", 5, centsI, nlist, cbI)))
    // nontrivial permutation: composed == plain chain on the corpus
    // permuted BY HAND (same rotated-space quantizers both sides)
    val perm = Seq(3, 0, 6, 1, 7, 2, 5, 4)
    val rot = Similarity.permutationRotation(perm)
    val permuted = vecs.select(col("vec_id"),
      Pca.project(col("embedding"), rot).as("embedding"))
    val qPermuted = queries.select(col("query_id"),
      Pca.project(col("embedding"), rot).as("embedding"))
    val cents = Similarity.initCentroids(permuted, "vec_id", "embedding", nlist)
    val cb = Similarity.pqCodebooksFixed(
      Similarity.residualCorpus(permuted, "vec_id", "embedding", cents),
      "vec_id", "embedding", m, kcb)
    assert(rows(Similarity.opqIvfPqResidualTopK(vecs, queries, "vec_id",
        "embedding", "query_id", 5, rot, cents, nlist, cb)) ===
      rows(Similarity.ivfPqResidualTopK(permuted, qPermuted, "vec_id",
        "embedding", "query_id", 5, cents, nlist, cb)))
    // and Pca.project under the permutation model really permutes
    val got = permuted.filter(col("vec_id") === 0L)
      .head().getSeq[Double](1).toIndexedSeq
    val src = vecs.filter(col("vec_id") === 0L)
      .head().getSeq[Float](1).map(_.toDouble).toIndexedSeq
    assert(got === perm.map(src), "permutation rotation must move values exactly")
    intercept[IllegalArgumentException] {
      Similarity.permutationRotation(Seq(0, 0, 1))
    }
  }

  test("OPQ eigenvalue allocation: balanced subspaces, rotation orthonormal, ADC recall beats naive PQ on anisotropic data") {
    import graft.llm.{Pca, Similarity}
    val dim = 16; val m = 4; val kcb = 8
    val rnd = new scala.util.Random(23)
    // anisotropic: dim j scaled by (1+j) — naive PQ's last subspace
    // holds almost all the variance and its 8 centroids drown
    val vecs = (0L until 150L).map(i => (i,
      Seq.tabulate(dim)(j => ((rnd.nextFloat() * 2 - 1) * (1 + j)).toFloat)))
      .toDF("vec_id", "embedding")
    val rot = Similarity.opqEigenAllocation(vecs, "embedding", m)
    // reordered components stay an orthonormal basis
    val c = rot.components
    assert(c.length === dim)
    for (i <- c.indices; j <- i until dim) {
      val d = c(i).zip(c(j)).map { case (a, b) => a * b }.sum
      assert(math.abs(d - (if (i == j) 1.0 else 0.0)) < 1e-9, s"<c$i,c$j>=$d")
    }
    // allocation balances variance: every subspace got exactly one of
    // the m largest eigenvalues (greedy deal of descending λ)
    val topM = rot.eigenvalues.sorted.reverse.take(m).toSet
    val sub = dim / m
    val perBucket = rot.eigenvalues.grouped(sub).toSeq
    assert(perBucket.forall(b => b.exists(topM.contains)),
      s"some subspace has none of the top-$m eigenvalues")
    // rotation preserves exact L2 top-k; quantized ADC recall improves
    val queries = vecs.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val q2 = queries.select(col("query_id"), col("embedding").as("__qv"))
    val exact = vecs.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(q2))
      .withColumn("__l2",
        Similarity.dot(col("embedding"), col("embedding"))
          - Similarity.dot(col("embedding"), col("__qv")) * 2
          + Similarity.dot(col("__qv"), col("__qv")))
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("query_id")
          .orderBy(col("__l2").asc, col("vec_id"))))
      .filter(col("__rn") <= 10)
      .select(col("query_id"), col("vec_id"))
    def adcRecall(cps: org.apache.spark.sql.DataFrame,
        qs: org.apache.spark.sql.DataFrame): Double = {
      val cb = Similarity.pqCodebooksLloyd(cps, "vec_id", "embedding",
        m, kcb, 2)
      val top = Similarity.pqAdcTopK(cps, qs, "vec_id", "embedding",
        "query_id", 10, cb).select(col("query_id"), col("vec_id"))
      Similarity.recallAtK(top, exact, "query_id", "vec_id")
        .agg(avg(col("recall"))).head().getDouble(0)
    }
    val naive = adcRecall(vecs, queries)
    val vR = vecs.select(col("vec_id"),
      Pca.project(col("embedding"), rot).as("embedding"))
    val qR = queries.select(col("query_id"),
      Pca.project(col("embedding"), rot).as("embedding"))
    val opq = adcRecall(vR, qR)
    assert(opq > naive, s"OPQ ADC recall $opq should beat naive $naive")
  }

  test("svdSquare: exact factorization, orthonormal factors, rank-deficient completion") {
    import graft.llm.Pca
    val rnd = new scala.util.Random(7)
    def check(mat: Array[Array[Double]]): Unit = {
      val d = mat.length
      val (u, s, v) = Pca.svdSquare(mat)
      // descending sigma, all >= 0
      for (i <- 1 until d) assert(s(i - 1) >= s(i) && s(i) >= 0.0)
      // U, V orthonormal columns
      for (a <- 0 until d; b <- a until d) {
        def dp(m: Array[Array[Double]]) =
          (0 until d).map(r => m(r)(a) * m(r)(b)).sum
        val e = if (a == b) 1.0 else 0.0
        assert(math.abs(dp(u) - e) < 1e-9, s"U col ${a},${b} = ${dp(u)}")
        assert(math.abs(dp(v) - e) < 1e-9, s"V col ${a},${b} = ${dp(v)}")
      }
      // mat == U diag(s) Vᵀ
      for (i <- 0 until d; j <- 0 until d) {
        val r = (0 until d).map(c => u(i)(c) * s(c) * v(j)(c)).sum
        assert(math.abs(r - mat(i)(j)) < 1e-8 * math.max(1.0, s(0)),
          s"recon ($i,$j): $r vs ${mat(i)(j)}")
      }
    }
    check(Array.tabulate(5, 5)((_, _) => rnd.nextGaussian() * 3))
    // rank-1: forces the Gram–Schmidt null-space completion
    val a = Array.tabulate(4)(i => i + 1.0)
    check(Array.tabulate(4, 4)((i, j) => a(i) * a(j) * 0.5))
    // zero matrix: every column completed
    check(Array.ofDim[Double](3, 3))
  }

  test("opqIterative: Procrustes alternation keeps R orthonormal and does not lose recall vs the parametric seed") {
    import graft.llm.{Pca, Similarity}
    val dim = 16; val m = 4; val kcb = 8
    val rnd = new scala.util.Random(23)
    // same anisotropic corpus as the eigen-allocation test, PLUS a
    // fixed cross-subspace rotation mixing adjacent dims — the case
    // variance balancing alone cannot unmix but Procrustes can
    val base = (0L until 150L).map(i => (i,
      Seq.tabulate(dim)(j => (rnd.nextFloat() * 2 - 1) * (1 + j))))
    val mixed = base.map { case (i, v) =>
      (i, Seq.tabulate(dim) { j =>
        val p = (j + 5) % dim
        (0.8 * v(j) + 0.6 * v(p)).toFloat
      })
    }
    val vecs = mixed.toDF("vec_id", "embedding")
    val queries = vecs.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val q2 = queries.select(col("query_id"), col("embedding").as("__qv"))
    val exact = vecs.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(q2))
      .withColumn("__l2",
        Similarity.dot(col("embedding"), col("embedding"))
          - Similarity.dot(col("embedding"), col("__qv")) * 2
          + Similarity.dot(col("__qv"), col("__qv")))
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("query_id")
          .orderBy(col("__l2").asc, col("vec_id"))))
      .filter(col("__rn") <= 10)
      .select(col("query_id"), col("vec_id"))
    def recallWith(rot: Pca.PcaModel, cb: Seq[Seq[Seq[Double]]]): Double = {
      val vR = vecs.select(col("vec_id"),
        Pca.project(col("embedding"), rot).as("embedding"))
      val qR = queries.select(col("query_id"),
        Pca.project(col("embedding"), rot).as("embedding"))
      val top = Similarity.pqAdcTopK(vR, qR, "vec_id", "embedding",
        "query_id", 10, cb).select(col("query_id"), col("vec_id"))
      Similarity.recallAtK(top, exact, "query_id", "vec_id")
        .agg(avg(col("recall"))).head().getDouble(0)
    }
    val seed = Similarity.opqEigenAllocation(vecs, "embedding", m)
    val seedCb = Similarity.pqCodebooksLloyd(
      vecs.select(col("vec_id"),
        Pca.project(col("embedding"), seed).as("embedding")),
      "vec_id", "embedding", m, kcb, 2)
    val (rot, cb, iterMse, seedMseReturned) = Similarity.opqIterative(
      vecs, "vec_id", "embedding", m, kcb, opqIters = 4, lloydIters = 2)
    assert(iterMse <= seedMseReturned,
      "argmin contract: best MSE cannot exceed iteration 1's (seed) MSE")
    // returned MSE is the argmin across iterates and matches a direct
    // recomputation of mean ‖R x̄ − ĉ(R x̄)‖² under the returned model
    def mseOf(r: Pca.PcaModel, c: Seq[Seq[Seq[Double]]]): Double = {
      val y = Pca.project(col("embedding"), r)
      val rec = Similarity.pqReconstruct(Similarity.pqEncode(y, c), c)
      vecs.agg(avg(aggregate(zip_with(y, rec, (a, b) => (a - b) * (a - b)),
        lit(0.0), (acc, x) => acc + x))).head().getDouble(0)
    }
    assert(math.abs(mseOf(rot, cb) - iterMse) < 1e-6 * (1 + iterMse))
    val seedMse = mseOf(seed, seedCb)
    assert(iterMse <= seedMse * 1.001,
      s"iterative OPQ mse $iterMse worse than parametric seed $seedMse")
    // final rotation is still orthonormal (Procrustes preserves it)
    for (i <- 0 until dim; j <- i until dim) {
      val d = rot.components(i).zip(rot.components(j))
        .map { case (a, b) => a * b }.sum
      val e = if (i == j) 1.0 else 0.0
      assert(math.abs(d - e) < 1e-9, s"<r$i,r$j>=$d")
    }
    val paramRecall = recallWith(seed, seedCb)
    val iterRecall = recallWith(rot, cb)
    info(s"parametric seed recall=$paramRecall iterative recall=$iterRecall")
    assert(iterRecall >= paramRecall - 1e-9,
      s"iterative OPQ recall $iterRecall fell below parametric seed $paramRecall")
  }

  test("paragraphDedup: globally-first chunk survives, docs reassemble in order, fully-duplicated docs come back empty") {
    val d = Seq(
      (1L, "a b c d e f"),   // chunks: "a b c"(1,0) "d e f"(1,1) — both first
      (2L, "a b c x y z"),   // "a b c" dup of (1,0); "x y z" first at (2,1)
      (3L, "x y z"),         // dup of (2,1) -> fully dropped
      (4L, "d e f d e f")    // both chunks dup of (1,1) -> fully dropped
    ).toDF("doc_id", "text")
    val out = Dedup.paragraphDedup(d, "doc_id", $"text", chunkTokens = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) === (("a b c d e f", 2L, 0L)))
    assert(out(2L) === (("x y z", 1L, 1L)))
    assert(out(3L) === (("", 0L, 1L)))
    assert(out(4L) === (("", 0L, 2L)))
    // a doc duplicated within ITSELF keeps only its first copy
    val self = Dedup.paragraphDedup(
      Seq((9L, "p q r p q r p q r")).toDF("doc_id", "text"),
      "doc_id", $"text", chunkTokens = 3).head()
    assert(self.getString(1) === "p q r")
    assert(self.getLong(2) === 1L && self.getLong(3) === 2L)
  }

  test("substringDedup: duplicated >=k spans cut at non-first occurrences, sub-k overlaps untouched, self-repeats keep one window") {
    // A owns tokens t1..t12; B copies A's whole 12-token span behind a
    // 2-token prefix and adds a distinct tail; C shares only an
    // 11-token prefix of that span (< k) — untouched; D is all-dup.
    val span = (1 to 12).map(i => s"t$i").mkString(" ")
    val d = Seq(
      (1L, span),                              // canonical — survives whole
      (2L, s"pre fix $span u1 u2"),            // loses the 12-span copy
      (3L, (1 to 11).map(i => s"t$i").mkString(" ") + " z9"), // 11 < k
      (4L, span)                               // full dup -> empty
    ).toDF("doc_id", "text")
    val out = Dedup.substringDedup(d, "doc_id", $"text", k = 12)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) === ((span, 12L, 0L)), "first occurrence keeps its span")
    assert(out(2L) === (("pre fix u1 u2", 16L, 12L)), "copy cut, unique kept")
    assert(out(3L) === (((1 to 11).map(i => s"t$i").mkString(" ") + " z9",
      12L, 0L)), "sub-k overlap untouched")
    assert(out(4L) === (("", 12L, 12L)), "whole-doc dup emptied")
    // self-overlapping repeat: "a a a a a" at k=2 keeps only the first
    // window's tokens (later windows are all duplicates of (doc, 0))
    val self = Dedup.substringDedup(
      Seq((9L, "a a a a a")).toDF("doc_id", "text"), "doc_id", $"text", k = 2)
      .head()
    // positions 1..4 are covered by the duplicate windows at 1/2/3
    // (position 1 sits in the canonical window too, but coverage by ANY
    // non-canonical window drops it) -> only position 0 survives
    assert(self.getString(1) === "a")
    assert(self.getLong(3) === 4L)
  }

  test("semanticDupPairs: planted clusters, within-cluster dups found, cross-cluster blocked") {
    import graft.llm.{Dedup, Similarity}
    // three well-separated directions in R4; dups planted inside two of
    // them, plus a cross-cluster near-dup pair (5 vs 6) that the
    // blocking must NOT emit even though its cosine clears the bar
    val vecs = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Seq(0.0f, 1.0f, 0.0f, 0.0f)),
      (3L, Seq(0.0f, 0.0f, 1.0f, 0.0f)),
      (10L, Seq(0.99f, 0.01f, 0.0f, 0.0f)),   // dup of axis 1
      (11L, Seq(0.98f, 0.0f, 0.02f, 0.0f)),   // dup of axis 1
      (20L, Seq(0.0f, 0.97f, 0.01f, 0.0f)),   // dup of axis 2
      (5L, Seq(0.6f, 0.55f, 0.0f, 0.0f)),     // between axes 1 and 2
      (6L, Seq(0.55f, 0.6f, 0.0f, 0.0f)))     // ... assigned the other side
      .toDF("vec_id", "embedding")
    val cents = Seq(Seq(1.0, 0, 0, 0), Seq(0, 1.0, 0, 0), Seq(0, 0, 1.0, 0))
    val pairs = Dedup.semanticDupPairs(vecs, "vec_id", "embedding",
        cents, threshold = 0.9)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(pairs.contains((1L, 10L)) && pairs.contains((1L, 11L)) &&
      pairs.contains((10L, 11L)), s"axis-1 dups missing: $pairs")
    assert(pairs.contains((2L, 20L)))
    assert(!pairs.contains((5L, 6L)),
      "cross-cluster pair must be blocked by co-membership")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
    // keep-one composition: canonical (min id) survives per component
    val kept = Dedup.keepCanonical(vecs, "vec_id",
        Dedup.semanticDupPairs(vecs, "vec_id", "embedding", cents, 0.9)
          .select($"id_a", $"id_b"))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L, 2L, 3L, 5L, 6L))
    // Lloyd-refined centroids keep the planted partition (3 clusters,
    // same co-membership) — the refined variant is exercised too
    val lloyd = Similarity.kmeansCentroids(vecs, "vec_id", "embedding",
      nlist = 3, iters = 2)
    val p2 = Dedup.semanticDupPairs(vecs, "vec_id", "embedding",
        lloyd, threshold = 0.9)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(p2.contains((10L, 11L)) && p2.contains((2L, 20L)))
  }

  test("boundedTrainingSample: deterministic, bounded, no-op under the cap") {
    import graft.llm.Similarity
    val df = (0L until 2000L).map(i => (i, Seq(i.toFloat)))
      .toDF("id", "v")
    // under the cap (and cap<=0): identity — no count job side effects
    assert(Similarity.boundedTrainingSample(df, "id", 0L).count() === 2000L)
    assert(Similarity.boundedTrainingSample(df, "id", 5000L).count() === 2000L)
    val s1 = Similarity.boundedTrainingSample(df, "id", 500L)
      .select("id").collect().map(_.getLong(0)).toSet
    // bounded near the cap (binomial: allow a wide-but-telling band)
    assert(s1.size > 350 && s1.size < 650, s"sample size ${s1.size}")
    // deterministic across reruns AND partition layouts (hash coin on
    // the id, not RNG/partition state)
    val s2 = Similarity.boundedTrainingSample(df.repartition(7), "id", 500L)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(s1 === s2)
    // sampled training still yields nlist usable centroids
    val cents = Similarity.kmeansCentroids(
      (0L until 300L).map(i => (i, Seq((i % 3 * 10).toFloat, i.toFloat / 300)))
        .toDF("id", "v"), "id", "v", nlist = 3, iters = 2,
      trainMaxRows = 100L)
    assert(cents.size === 3 && cents.forall(_.size === 2))
    // pqCodebooksLloyd plumbing: sampled training returns the full
    // m x k codebook shape and is partition-layout independent (the
    // hash coin keys on the id, so a repartition cannot change which
    // vectors train; integer-valued components keep the Lloyd float
    // sums order-exact, so strict equality is sound here)
    val corpus = (0L until 400L).map(i =>
      (i, Seq.tabulate(4)(j => ((i * 7 + j * 13) % 29).toFloat)))
      .toDF("id", "v")
    val cb1 = Similarity.pqCodebooksLloyd(corpus, "id", "v",
      m = 2, k = 4, iters = 1, trainMaxRows = 150L)
    val cb2 = Similarity.pqCodebooksLloyd(corpus.repartition(5), "id", "v",
      m = 2, k = 4, iters = 1, trainMaxRows = 150L)
    assert(cb1.size === 2 && cb1.forall(_.size === 4) &&
      cb1.forall(_.forall(_.size === 2)))
    assert(cb1 === cb2, "sampled codebooks must not depend on layout")
  }

  test("geo aggregates: multipoint collect and shared points (blade computation)") {
    import graft.functions.Geo
    val lines = Seq(
      (1L, Seq((0.0, 0.0), (1.0, 0.0), (2.0, 0.0))),
      (2L, Seq((1.0, 0.0), (1.0, 1.0)))).toDF("id", "raw")
      .select($"id", transform($"raw", p =>
        struct(p.getField("_1").as("lon"), p.getField("_2").as("lat"))).as("line"))
    val shared = lines.filter($"id" === 1).select($"line".as("a"))
      .crossJoin(lines.filter($"id" === 2).select($"line".as("b")))
      .select(Geo.sharedPoints($"a", $"b").as("s")).head.getSeq[Any](0)
    assert(shared.length === 1) // the (1,0) blade point
    val mp = lines.select(explode($"line").as("p"))
      .agg(Geo.collectMultiPoint($"p").as("mp")).head.getSeq[Any](0)
    assert(mp.length === 4) // 5 vertices, (1,0) shared -> 4 distinct
  }

  test("language ID: stopword profiles and und fallback") {
    val df = Seq(
      (1L, "the cat is on the mat and it is happy"),
      (2L, "der hund ist nicht mit der katze auf dem sofa und das ist gut"),
      (3L, "el perro y el gato en la casa de los abuelos"),
      (4L, "xyzzy plugh qwerty")).toDF("doc_id", "text")
    val r = df.select($"doc_id", TextAnalysis.languageId($"text")).collect()
      .map(x => x.getLong(0) -> x.getString(1)).toMap
    assert(r === Map(1L -> "en", 2L -> "de", 3L -> "es", 4L -> "und"))
  }

  test("rolling fingerprint: order-sensitive, deterministic") {
    val df = Seq((1L, "a b c"), (2L, "c b a"), (3L, "a b c")).toDF("doc_id", "text")
    val r = df.select($"doc_id", TextAnalysis.rollingFingerprint($"text")).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r(1L) === r(3L))
    assert(r(1L) !== r(2L))
  }

  test("multimodal: typed decode pass and frame sampling round-trip") {
    implicit val s = spark
    val df = Seq((1L, "hello world payload"), (2L, "xy")).toDF("doc_id", "text")
      .select($"doc_id", $"text".cast("binary").as("payload"))
    val decoded = Multimodal.decode(Multimodal.asMedia(df, "doc_id", "payload"))
      .collect().map(d => d.doc_id -> d).toMap
    assert(decoded(1L).byte_len === 19L)
    assert(decoded(1L).meta.width === 19)
    assert(decoded(1L).meta.format === "odd")
    // frame chunks reassemble to the original payload
    val fs = Multimodal.frameSample(df, "payload", 4)
      .select($"doc_id", concat(col("frames").getItem(0), col("frames").getItem(1),
        col("frames").getItem(2), col("frames").getItem(3)).cast("string").as("re"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fs(1L) === "hello world payload")
    // feature extraction: deterministic stub features from byte length
    val media = Multimodal.asMedia(df, "doc_id", "payload")
    val feats = Multimodal.featureExtract(media, dim = 4)
      .collect().map(f => f.doc_id -> f.features.toSeq).toMap
    assert(feats(1L) === Seq.tabulate(4)(i => ((19 * (i + 1)) % 97) / 97.0f))
    assert(feats(1L) !== feats(2L))
    // resize truncates payloads to the pixel budget, never grows them
    val resized = Multimodal.resize(media, 2, 3)
      .collect().map(m => m.doc_id -> m.payload.length).toMap
    assert(resized(1L) === 6 && resized(2L) === 2)
  }

  test("multimodal: REAL PNG round-trip through the JDK codec") {
    implicit val s = spark
    // encode a 13x7 solid-magenta PNG, push it through the typed decode
    // pass: the real ImageIO raster must report the true dimensions and
    // the lossless pixel, not the fake-probe arithmetic
    val bytes = Multimodal.encodePng(13, 7, 0xCC00CC)
    assert(Multimodal.isPng(bytes))
    val media = Seq((5L, bytes)).toDF("doc_id", "payload")
    val d = Multimodal.decode(Multimodal.asMedia(media, "doc_id", "payload"))
      .collect().head
    assert(d.meta.width === 13 && d.meta.height === 7)
    assert(d.meta.format === "png" && d.meta.frames === 1)
    assert(d.meta.px0 === 0xCC00CC)
    // resize resamples the actual raster: target dims, color preserved
    // (bilinear over a solid color), and the output is itself a PNG
    val r = Multimodal.decode(Multimodal.resize(
        Multimodal.asMedia(media, "doc_id", "payload"), 4, 3))
      .collect().head
    assert(r.meta.width === 4 && r.meta.height === 3)
    assert(r.meta.format === "png" && r.meta.px0 === 0xCC00CC)
    // non-PNG bytes still take the deterministic fake path
    val fake = Multimodal.decode(Multimodal.asMedia(
        Seq((6L, "notanimage".getBytes)).toDF("doc_id", "payload"),
        "doc_id", "payload")).collect().head
    assert(fake.meta.format === "even" && fake.meta.width === 10)
    // JPEG goes through the real codec too: dims are exact (lossy
    // compression touches pixels, not the raster size)
    val jimg = new java.awt.image.BufferedImage(
      9, 5, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val jbos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(jimg, "jpg", jbos)
    val jbytes = jbos.toByteArray
    assert(Multimodal.isJpeg(jbytes) && !Multimodal.isPng(jbytes))
    val jd = Multimodal.decode(Multimodal.asMedia(
        Seq((7L, jbytes)).toDF("doc_id", "payload"),
        "doc_id", "payload")).collect().head
    assert(jd.meta.width === 9 && jd.meta.height === 5)
    assert(jd.meta.format === "jpeg" && jd.meta.frames === 1)
    // resize normalizes a JPEG input to a PNG output at target dims
    val jr = Multimodal.decode(Multimodal.resize(
        Multimodal.asMedia(Seq((7L, jbytes)).toDF("doc_id", "payload"),
          "doc_id", "payload"), 3, 2)).collect().head
    assert(jr.meta.width === 3 && jr.meta.height === 2 && jr.meta.format === "png")
  }

  test("repetition features: native == builtin HOF, known values, sub-2-token docs don't throw") {
    // "a b a b a b" -> 6 tokens, 2 distinct -> dup = 4/6 = 0.6667;
    // bigrams: [a b, b a, a b, b a, a b] -> top "a b" x3 of 5 -> 0.6
    val fixture = Seq(
      (1L, "a b a b a b"),
      (2L, "all tokens here are unique words"),
      (3L, "solo"),            // one token: no bigrams (crashed the old HOF form)
      (4L, ""),                // split("") -> [""]: one empty token
      (5L, "x y")              // exactly one bigram
    ).toDF("doc_id", "text")
    def collectF(c: org.apache.spark.sql.Column) = fixture
      .select($"doc_id", c.as("f"))
      .select($"doc_id", $"f.dup_token_frac", $"f.top_bigram_frac")
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    val native = collectF(TextAnalysis.repetitionFeatures($"text"))
    val builtin = collectF(TextAnalysis.repetitionFeaturesBuiltin($"text"))
    assert(native === builtin)
    assert(native(1L) === ((0.6667, 0.6)))
    assert(native(2L) === ((0.0, 0.2))) // 6 uniq tokens, 5 uniq bigrams -> 1/5
    assert(native(3L) === ((0.0, 0.0)))
    assert(native(4L) === ((0.0, 0.0)))
    assert(native(5L) === ((0.0, 1.0)))
  }

  test("repetition_stats: null array slots count as empty tokens in every physical format") {
    // ("a", null, "a"): null -> "" so n=3, distinct {a, ""} -> dup 1/3;
    // bigrams ("a "), (" a") each once -> top 1/2. The null slot must be
    // detected via isNullAt — ColumnarArray (vectorized parquet) returns
    // a non-null UTF8String for null slots, so a null-compare would give
    // format-dependent answers (ADVICE r6).
    val expected = (0.3333, 0.5)
    def run(df: org.apache.spark.sql.DataFrame) = {
      val r = df.select(expr("repetition_stats(toks)").as("f"))
        .select($"f.dup_token_frac", $"f.top_bigram_frac").head()
      (r.getDouble(0), r.getDouble(1))
    }
    val local = Seq(Tuple1(Seq("a", null, "a"))).toDF("toks")
    assert(run(local) === expected, "GenericArrayData path")
    val dir = java.nio.file.Files.createTempDirectory("repnull").toString
    local.write.mode("overwrite").parquet(dir)
    assert(run(spark.read.parquet(dir)) === expected,
      "vectorized parquet (ColumnarArray) path")
  }

  test("gopherFilter: each rule fails on exactly the doc built to fail it") {
    // doc 1 passes everything; 2 too short; 3 words too long; 4 too
    // symbol-heavy; 5 no stopwords; 6 one token repeated (dup frac 9/10)
    val fix = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and then runs far away"),
      (2L, "the tiny doc"),
      (3L, "the extraordinarily incomprehensible internationalization " +
        "antidisestablishmentarianism the characteristically"),
      (4L, "the !!! ??? ### $$$ %%% &&& *** ((( ))) @@@ ;;; ::: the fox"),
      (5L, "zebra yak xylophone wombat vulture urchin tapir stork rhino quail"),
      (6L, "the the the the the the the the the fox"))
      .toDF("doc_id", "text")
    val r = Curation.gopherFilter(fix, "doc_id", $"text",
        minTokens = 5, maxTokens = 100, minAvgTokenLen = 3.0,
        maxAvgTokenLen = 10.0, maxSymbolRatio = 0.1, minStopwordHits = 2,
        maxDupTokenFrac = 0.6)
      .collect().map(row => row.getLong(0) ->
        (row.getBoolean(1), row.getBoolean(2), row.getBoolean(3),
          row.getBoolean(4), row.getBoolean(5), row.getBoolean(6))).toMap
    assert(r(1L) === ((true, true, true, true, true, true)))
    assert(r(2L)._1 === false && r(2L)._6 === false, "too short fails ok_len")
    assert(r(3L)._2 === false, "long words fail ok_word_len")
    assert(r(4L)._3 === false, "symbol soup fails ok_symbol")
    assert(r(5L)._4 === false, "no stopwords fails ok_stopwords")
    assert(r(6L)._5 === false, "repeated token fails ok_repetition")
    assert(Seq(2L, 3L, 4L, 5L, 6L).forall(!r(_)._6), "any rule fail -> no pass")
  }

  test("mixtureWeights: sums to 1, alpha<1 up-weights small domains, alpha=1 proportional") {
    val fix = (Seq.fill(90)("big") ++ Seq.fill(10)("small"))
      .zipWithIndex.map { case (g, i) => (i.toLong, g) }.toDF("id", "grp")
    val w = Curation.mixtureWeights(fix, "grp", alpha = 0.5)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(math.abs(w.values.sum - 1.0) < 1e-5)
    assert(w("small") > 0.1, "temperature up-weights the small domain")
    assert(w("big") > w("small"))
    val w1 = Curation.mixtureWeights(fix, "grp", alpha = 1.0)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(w1("big") === 0.9 && w1("small") === 0.1)
  }

  test("LSH megabucket guard: oversized buckets go star-wise, clusters unchanged") {
    // 60 identical docs: every band-bucket holds all 60. Uncapped that is
    // C(60,2) = 1770 pairs out of one reduce key — the shape that at
    // corpus scale (10^6 copies of one boilerplate page) is a job-killer.
    val flood = (0L until 60L).map(i => (i, "the same boilerplate page " +
      "repeated verbatim across the corpus every single time"))
      .toDF("doc_id", "text")
    val capped = Dedup.minhashNearDups(flood, "doc_id", $"text",
      bands = 4, threshold = 0.5, maxBucket = 8)
    assert(capped.count() === 59,
      "star over the hub: B-1 edges, not B(B-1)/2")
    // connected components see the identical single cluster either way
    val kept = Dedup.keepCanonical(flood, "doc_id", capped)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(0L), "flood collapses to the one canonical doc")
    // below the cap, behavior is bit-identical to the uncapped path
    val smallCap = Dedup.minhashNearDups(docs, "doc_id", $"text",
        bands = 8, threshold = 0.5, maxBucket = 100)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val uncapped = Dedup.minhashNearDups(docs, "doc_id", $"text",
        bands = 8, threshold = 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(smallCap === uncapped)
  }

  test("topNgrams: raw occurrence counts with deterministic tie-break, short docs skipped") {
    val fix = Seq(
      (1L, "a b a b a b"), // "a b" x3, "b a" x2
      (2L, "a b c"),       // "a b", "b c"
      (3L, "solo")         // no bigrams
    ).toDF("doc_id", "text")
    val top = TextAnalysis.topNgrams(fix, $"text", n = 2, k = 3)
      .collect().map(r => (r.getString(0), r.getLong(1))).toList
    assert(top === List(("a b", 4L), ("b a", 2L), ("b c", 1L)))
  }

  test("duplicatePassages: cross-doc and within-doc spans, touching spans merge") {
    val fix = Seq(
      (1L, "a b c d e f"),         // shares "a b c","b c d" with doc 2
      (2L, "x a b c d y"),
      (3L, "p q r s p q r s"),     // within-doc repeat; flagged positions
                                   // 0,1,4,5 — 4 TOUCHES the [1..3] range
                                   // (4 == 1+n), so one maximal span
      (4L, "nothing shared here at all")
    ).toDF("doc_id", "text")
    val got = Dedup.duplicatePassages(fix, "doc_id", $"text",
        n = 3, minCount = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(got === Set(
      (1L, 0L, 3L, 2L),
      (2L, 1L, 4L, 2L),
      (3L, 0L, 7L, 4L)))
  }

  test("token helpers split once per row and return the inline re-split forms' rows") {
    // the inline forms are the helpers as they were before the token
    // array was bound once per row: `split(text)` rebuilt at each use
    def toks(t: org.apache.spark.sql.Column) = split(t, "\\s+")
    def inlineRawNgrams(t: org.apache.spark.sql.Column, n: Int) =
      when(size(toks(t)) >= n,
        transform(sequence(lit(0), size(toks(t)) - n),
          i => array_join(slice(toks(t), i + 1, lit(n)), " ")))
        .otherwise(array().cast("array<string>"))
    def inlineNgramSet(t: org.apache.spark.sql.Column, n: Int) =
      array_distinct(transform(
        sequence(lit(0), greatest(size(toks(t)) - n, lit(0))),
        i => array_join(slice(toks(t), i + 1, lit(n)), " ")))
    def inlineGopherPass(t: org.apache.spark.sql.Column) = {
      val n = size(toks(t))
      n.between(3, 40) &&
        (length(t).cast("double") / n).between(2.0, 8.0) &&
        (length(regexp_replace(t, "[^\\p{Punct}]", "")).cast("double") /
          length(t)) <= 0.1 &&
        size(filter(toks(t), w => w.isin(TextAnalysis.EnStopwords: _*))) >= 1 &&
        ((n - size(array_distinct(toks(t)))).cast("double") / n) <= 0.6
    }
    def inlineLanguageId(t: org.apache.spark.sql.Column) = {
      val lt = toks(lower(t))
      val best = aggregate(
        array(TextAnalysis.LangProfiles.map { case (lang, sw) =>
          struct(size(filter(lt, w => w.isin(sw: _*))).as("hits"),
            lit(lang).as("lang"))
        }: _*),
        struct(lit(-1).as("hits"), lit("und").as("lang")),
        (acc, x) =>
          when(x.getField("hits") > acc.getField("hits"), x)
            .when(x.getField("hits") === acc.getField("hits") &&
              x.getField("lang") < acc.getField("lang") &&
              acc.getField("hits") > lit(-1), x)
            .otherwise(acc))
      when(t.rlike("[\\u4e00-\\u9fff]"), lit("zh"))
        .when(best.getField("hits") <= 0, lit("und"))
        .otherwise(best.getField("lang"))
    }
    // NULL, empty, blank, fewer than / exactly n tokens, leading and
    // trailing whitespace and runs (an empty first token), non-ASCII
    // words; then seeded random texts over a mixed-language vocabulary
    // with runs of mixed whitespace
    val fixed = Seq[String](null, "", " ", "   ", "solo", "a b", "a b c",
      " a b c", "a b c ", "  a \t b\n\n c  d ", "naïve café à la carte",
      "straße über die brücke und der fluss", "el niño y la niña",
      "中文 文本 the cat", "the  the   the the")
    val rnd = new scala.util.Random(20261020L)
    val vocab = Seq("the", "and", "of", "is", "der", "und", "ist", "el", "la",
      "de", "les", "est", "fox", "brücke", "café", "niño", "über", "ok!",
      "x", "y", "z", "中文")
    val seps = Seq(" ", " ", " ", "  ", "\t", "\n", " \t ")
    val random = Seq.fill(60) {
      val words = Seq.fill(rnd.nextInt(14))(vocab(rnd.nextInt(vocab.size)))
      val lead = if (rnd.nextInt(4) == 0) seps(rnd.nextInt(seps.size)) else ""
      val trail = if (rnd.nextInt(4) == 0) seps(rnd.nextInt(seps.size)) else ""
      lead + words.map(_ + seps(rnd.nextInt(seps.size))).mkString.dropRight(1) + trail
    }
    // repartitioned, so the projections run in the codegen'd stage
    // rather than being folded into the local relation
    val fix = (fixed ++ random).zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text").repartition(3)
    def sameRows(what: String, got: org.apache.spark.sql.Column,
        want: org.apache.spark.sql.Column): Unit =
      fix.select($"doc_id", $"text", got, want).collect().foreach { r =>
        assert(r.get(2) == r.get(3),
          s"$what differs on doc ${r.getLong(0)} [${r.getString(1)}]")
      }
    for (n <- Seq(1, 2, 3, 8)) {
      sameRows(s"rawWordNgrams n=$n", TextAnalysis.rawWordNgrams($"text", n),
        inlineRawNgrams($"text", n))
      sameRows(s"wordNgrams n=$n", Dedup.wordNgrams($"text", n),
        inlineNgramSet($"text", n))
    }
    sameRows("gopherPass", Curation.gopherPass($"text", minTokens = 3,
        maxTokens = 40, minAvgTokenLen = 2.0, maxAvgTokenLen = 8.0,
        maxSymbolRatio = 0.1, minStopwordHits = 1, maxDupTokenFrac = 0.6),
      inlineGopherPass($"text"))
    sameRows("languageId", TextAnalysis.languageId($"text"),
      inlineLanguageId($"text"))
    // the inputs reach every branch: a passing and a failing gopher doc,
    // each language, and NULL rows
    val pass = fix.select(Curation.gopherPass($"text", minTokens = 3,
        maxTokens = 40, minAvgTokenLen = 2.0, maxAvgTokenLen = 8.0,
        maxSymbolRatio = 0.1, minStopwordHits = 1, maxDupTokenFrac = 0.6))
      .collect().map(r => Option(r.get(0))).toSet
    assert(pass === Set(Some(true), Some(false), None))
    val langs = fix.select(TextAnalysis.languageId($"text")).collect()
      .map(r => Option(r.getString(0))).toSet
    assert(Set("en", "de", "es", "fr", "zh", "und").map(Option(_)).subsetOf(langs))
    // duplicatePassages over the same texts: its spans are the
    // gaps-and-islands merge of the inline form's repeated windows
    val n = 2
    val grams = fix.select($"doc_id",
        posexplode(inlineRawNgrams($"text", n)).as(Seq("pos", "g")))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    val repeated = grams.groupBy(_._3).filter(_._2.length >= 2).keySet
    val want = grams.filter(g => repeated(g._3)).groupBy(_._1).toSeq
      .flatMap { case (doc, gs) =>
        val ps = gs.map(_._2).sorted
        val islands = ps.tail.foldLeft(List(List(ps.head))) {
          case (cur :: done, p) =>
            if (p > cur.head + n) List(p) :: cur :: done else (p :: cur) :: done
          case (Nil, _) => Nil
        }
        islands.map(is => (doc, is.min.toLong, (is.max + n - 1).toLong,
          is.size.toLong))
      }.toSet
    val got = Dedup.duplicatePassages(fix, "doc_id", $"text", n = n)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(want.nonEmpty && got === want)
  }

  test("normalizeUrl: each rewrite rule on hand-built URLs; non-defaults survive") {
    val cases = Seq(
      // every rule at once: case, www, default port, utm, slash, fragment
      ("HTTPS://WWW.Example.COM:443/Docs/5/?utm_source=x&id=3#f",
        "https://example.com/Docs/5?id=3"),
      // non-default port is SIGNIFICANT and kept
      ("http://example.com:8080/a", "http://example.com:8080/a"),
      // utm-only query: the bare '?' goes too
      ("https://x.com/p?utm_source=a", "https://x.com/p"),
      // utm in the middle: separator fix-up keeps one '&'
      ("https://x.com/p?a=1&utm_medium=m&b=2", "https://x.com/p?a=1&b=2"),
      // root slash strips; path case is preserved
      ("https://X.com/", "https://x.com"),
      // already-canonical input is a fixed point
      ("https://example.com/p?id=3", "https://example.com/p?id=3"))
    val got = cases.map(_._1).toDF("u")
      .select(Curation.normalizeUrl($"u")).collect().map(_.getString(0))
    got.zip(cases.map(_._2)).foreach { case (g, want) => assert(g === want) }
    // deep subdomain registers as the last two labels
    val dom = Seq("https://a.b.example.co/x").toDF("u")
      .select(Curation.registeredDomain(Curation.normalizeUrl($"u")))
      .collect().head.getString(0)
    assert(dom === "example.co")
  }

  test("ngramLmScore: hand-computed add-k bigram means; short docs drop out") {
    // corpus: C("a b")=3, C("b a")=1; contexts a->3, b->1; V=2, k=0.5
    // P(a b)=(3+.5)/(3+1)=.875  P(b a)=(1+.5)/(1+1)=.75
    val fix = Seq((1L, "a b a b"), (2L, "a b"), (3L, "solo"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.ngramLmScore(fix, "doc_id", $"text", k = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val lnP1 = math.log(0.875); val lnP2 = math.log(0.75)
    def r4(x: Double) = math.rint(x * 1e4) / 1e4
    assert(got === Set(
      (1L, 3L, r4((2 * lnP1 + lnP2) / 3)), // "a b","b a","a b"
      (2L, 1L, r4(lnP1))))                 // doc 3: no bigrams, no row
  }

  test("pca: planted 2D subspace recovered; invariants; jacobi on a known matrix") {
    import graft.llm.Pca
    // jacobi: eigenvalues of [[2,1],[1,2]] are 3 and 1
    val (ev, evec) = Pca.jacobiEigen(Array(Array(2.0, 1.0), Array(1.0, 2.0)))
    assert(ev.sorted.zip(Seq(1.0, 3.0)).forall(p => math.abs(p._1 - p._2) < 1e-12))
    // columns orthonormal
    val c0 = Array(evec(0)(0), evec(1)(0)); val c1 = Array(evec(0)(1), evec(1)(1))
    assert(math.abs(c0.map(x => x * x).sum - 1) < 1e-12 &&
      math.abs(c0.zip(c1).map(p => p._1 * p._2).sum) < 1e-12)
    // planted: x = mean + a*u + b*w + 0.01*noise in R^8, u ⟂ w
    val rnd = new scala.util.Random(23L)
    val d = 8
    val u = Array.tabulate(d)(i => if (i < 4) 0.5 else 0.0)          // unit
    val w = Array.tabulate(d)(i => if (i >= 4) 0.5 else 0.0)         // unit, ⟂ u
    val mu = Array.tabulate(d)(_ * 0.1)
    val rows = (1 to 600).map { i =>
      val a = rnd.nextGaussian() * 3; val b = rnd.nextGaussian()
      (i.toLong, Array.tabulate(d)(j =>
        (mu(j) + a * u(j) + b * w(j) + rnd.nextGaussian() * 0.01).toFloat).toSeq)
    }
    val df = spark.sparkContext.parallelize(rows, 7).toDF("id", "v")
    val model = Pca.fit(df, col("v"), k = 2)
    assert(model.n === 600L && model.components.length === 2)
    def dot(a: Array[Double], b: Array[Double]) =
      a.zip(b).map(p => p._1 * p._2).sum
    // the top-2 subspace is span{u, w}: each planted direction has
    // (almost) unit projection onto the fitted components
    Seq(u, w).foreach { dir =>
      val p = model.components.map(c => dot(c, dir))
      assert(math.abs(math.sqrt(p.map(x => x * x).sum) - 1.0) < 0.01,
        s"planted direction not captured: ${p.toSeq}")
    }
    // captured variance ~ (9 + 1) / (9 + 1 + noise) — essentially all
    assert(model.captured > 0.99 && model.captured <= 1.0 + 1e-12)
    // eigenvalues descending, first ~9 (a ~ N(0,3)), second ~1
    assert(model.eigenvalues(0) > model.eigenvalues(1))
    assert(math.abs(model.eigenvalues(0) - 9.0) < 1.5 &&
      math.abs(model.eigenvalues(1) - 1.0) < 0.3)
    // residual identity: mean reconstruction MSE == totalVar - captured
    val mse = Pca.reconstructionMse(df, col("v"), model)
    assert(math.abs(mse - (model.totalVar - model.eigenvalues.sum)) < 1e-6)
    // projection distributes: mean of projected coords ~ 0
    val pm = df.select(Pca.project(col("v"), model).as("p"))
      .agg(avg(element_at(col("p"), 1)), avg(element_at(col("p"), 2))).head()
    assert(math.abs(pm.getDouble(0)) < 0.2 && math.abs(pm.getDouble(1)) < 0.2)
  }

  test("regression: planted linear relation recovered; fitNormal == fit2") {
    import graft.llm.Regression
    // y = 7 + 2*x1 - 3*x2 exactly, integer features, no noise: OLS
    // (lambda 0) must recover beta to fp precision regardless of
    // partitioning
    val rnd = new scala.util.Random(3L)
    val rows = (1 to 400).map { i =>
      val x1 = rnd.nextInt(500).toLong; val x2 = rnd.nextInt(90).toLong
      (i.toLong, x1, x2, 7L + 2L * x1 - 3L * x2)
    }
    val df = spark.sparkContext.parallelize(rows, 13).toDF("id", "x1", "x2", "y")
    val f = Regression.fit2(df, $"x1", $"x2", $"y", lambda = 0.0)
    assert(math.abs(f.beta0 - 7.0) < 1e-6 && math.abs(f.beta1 - 2.0) < 1e-9 &&
      math.abs(f.beta2 + 3.0) < 1e-9, s"got $f")
    assert(f.n === 400L)
    // determinism under repartitioning: integer moments are exact, so
    // the fit is bit-identical, not merely close
    val f2 = Regression.fit2(df.repartition(3), $"x1", $"x2", $"y", lambda = 0.0)
    assert(f === f2)
    // the general-d Gaussian path agrees with the Cramer path at d=2
    val b = Regression.fitNormal(df, Seq($"x1", $"x2"), $"y", lambda = 0.0)
    assert(math.abs(b(0) - f.beta0) < 1e-6 &&
      math.abs(b(1) - f.beta1) < 1e-8 && math.abs(b(2) - f.beta2) < 1e-8)
    // d=3 with a third planted feature
    val df3 = df.withColumn("x3", ($"id" % 11).cast("long"))
      .withColumn("y3", $"y" + lit(5L) * ($"id" % 11))
    val b3 = Regression.fitNormal(df3, Seq($"x1", $"x2", $"x3"), $"y3")
    assert(math.abs(b3(0) - 7.0) < 1e-5 && math.abs(b3(1) - 2.0) < 1e-8 &&
      math.abs(b3(2) + 3.0) < 1e-7 && math.abs(b3(3) - 5.0) < 1e-7,
      s"got ${b3.toSeq}")
    // ridge shrinks coefficients toward zero
    val fr = Regression.fit2(df, $"x1", $"x2", $"y", lambda = 1e7)
    assert(math.abs(fr.beta1) < math.abs(f.beta1))
  }

  test("logistic quality classifier: engine GD == plain-Scala replay; separable fixture classified") {
    import graft.llm.Regression
    import spark.implicits._
    // independent replay of the WHOLE chain (features + GD) in plain
    // Scala: portable md5 buckets, tf-normalized 1..2-grams, 3 rounds
    val docs = Seq((1L, "a b a"), (2L, "b c"), (3L, "c c d"))
      .toDF("doc_id", "text")
    val labels = Seq((1L, 1), (2L, 0), (3L, 1)).toDF("doc_id", "y")
    val dim = 16
    def bucket(g: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(g.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
      (java.lang.Long.parseLong(hex, 16) % 2147483647L) % dim
    }
    def featsOf(text: String): Map[Long, Double] = {
      val t = text.split("\\s+").toSeq
      val grams = t ++ t.sliding(2).map(_.mkString(" ")).toSeq
      val cnt = grams.groupBy(bucket).map { case (b, g) => b -> g.size }
      cnt.map { case (b, c) => b -> c.toDouble / grams.size }
    }
    val fx = Map(1L -> "a b a", 2L -> "b c", 3L -> "c c d")
      .map { case (id, t) => id -> (featsOf(t) + (-1L -> 1.0)) }
    val ys = Map(1L -> 1.0, 2L -> 0.0, 3L -> 1.0)
    var wExp = fx.values.flatMap(_.keys).toSet.map((b: Long) => b -> 0.0)
      .toMap
    val (iters, lr) = (3, 1.0)
    for (_ <- 1 to iters) {
      val err = fx.map { case (id, f) =>
        val s = f.map { case (b, x) => x * wExp(b) }.sum
        id -> (1.0 / (1.0 + math.exp(-s)) - ys(id))
      }
      val grad = fx.toSeq
        .flatMap { case (id, f) => f.map { case (b, x) => b -> x * err(id) } }
        .groupBy(_._1).map { case (b, v) => b -> v.map(_._2).sum / 3.0 }
      wExp = wExp.map { case (b, w) => b -> (w - lr * grad.getOrElse(b, 0.0)) }
    }
    val feats = Regression.hashedNgramFeatures(docs, "doc_id", $"text", dim)
    val wGot = Regression.fitLogistic(feats, "doc_id", labels, "y",
        iters = iters, lr = lr)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(wGot.keySet === wExp.keySet)
    wExp.foreach { case (b, w) =>
      assert(math.abs(wGot(b) - w) < 1e-9, s"bucket $b: ${wGot(b)} vs $w")
    }
    // a NULL feature fails the local gate's NULL rule: the distributed
    // loop runs, and its sums skip the NULL term
    val withNull = feats.unionByName(Seq((1L, wExp.keys.max, Option.empty[Double]))
      .toDF("doc_id", "bucket", "x"))
    val wNull = Regression.fitLogistic(withNull, "doc_id", labels, "y",
        iters = iters, lr = lr)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(wNull.keySet === wExp.keySet)
    wExp.foreach { case (b, w) =>
      assert(math.abs(wNull(b) - w) < 1e-9, s"bucket $b: ${wNull(b)} vs $w")
    }
    // separable vocabulary: positives share 'good/great', negatives
    // 'bad/awful' — 20 rounds drive every training doc to the right
    // side of 0.5, and a held-out positive-vocab doc scores positive
    val corpus = Seq(
      (10L, "good great fine", 1), (11L, "nice good great", 1),
      (12L, "great fine nice good", 1), (13L, "bad awful poor", 0),
      (14L, "terrible bad awful", 0), (15L, "poor awful bad terrible", 0)
    ).toDF("doc_id", "text", "y")
    val cf = Regression.hashedNgramFeatures(corpus, "doc_id", $"text", 64)
    val cw = Regression.fitLogistic(cf, "doc_id",
      corpus.select($"doc_id", $"y"), "y", iters = 20, lr = 5.0)
    val preds = Regression.predictLogistic(cf, "doc_id", cw)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    (10L to 12L).foreach(id => assert(preds(id) > 0.5, s"doc $id"))
    (13L to 15L).foreach(id => assert(preds(id) < 0.5, s"doc $id"))
    val held = Regression.predictLogistic(
      Regression.hashedNgramFeatures(
        Seq((99L, "good nice great")).toDF("doc_id", "text"), "doc_id",
        $"text", 64),
      "doc_id", cw).head().getDouble(1)
    assert(held > 0.5, s"held-out positive scored $held")
    // NON-VACUITY gate on the real corpus (the q_t_quality_model
    // shape): binary-presence features + the text-derived "mentions
    // spark" label must beat the class-prior constant classifier —
    // guards against the model silently predicting one class
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val dFeats = Regression.hashedNgramFeatures(d, "doc_id", $"text",
      dim = 1024, binary = true)
    val dLabels = d.select($"doc_id",
      array_contains(graft.llm.TextAnalysis.tokens($"text"), "spark")
        .cast("int").as("y"))
    val w = Regression.fitLogistic(dFeats, "doc_id", dLabels, "y",
      iters = 24, lr = 8.0)
    val scored = Regression.predictLogistic(dFeats, "doc_id", w)
      .join(dLabels, "doc_id")
      .agg(
        avg((($"p" > 0.5).cast("int") === $"y").cast("double")).as("acc"),
        greatest(avg($"y".cast("double")),
          lit(1.0) - avg($"y".cast("double"))).as("prior"))
      .head()
    assert(scored.getDouble(0) > scored.getDouble(1) + 0.1,
      s"accuracy ${scored.getDouble(0)} must beat prior ${scored.getDouble(1)}")
  }
}
