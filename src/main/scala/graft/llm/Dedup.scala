package graft.llm

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Deduplication operators, designed scale-first: every variant is
  * blocked/banded — candidate generation is always an equi-join on a
  * bucket key (one shuffle), NEVER an all-pairs cross join. Verification
  * (exact Jaccard / Hamming) runs only on candidates.
  *
  * Determinism: all hash families derive from fixed seeds, so signatures
  * are stable across runs and cluster layouts.
  */
object Dedup {

  /** Exact dedup by content hash: one hash aggregate, no joins.
    * Returns (fp, keeper = min id, cnt). */
  def exactDedup(df: DataFrame, idCol: String, keyExpr: Column): DataFrame =
    df.groupBy(keyExpr.as("fp"))
      .agg(min(col(idCol)).as("keeper"), count(lit(1)).as("cnt"))

  /** Character k-shingles of a text column (distinct — for set Jaccard). */
  def shingles(text: Column, k: Int): Column =
    array_distinct(rawShingles(text, k))

  /** All k-shingles including duplicates. MinHash is idempotent to
    * duplicates (min of a multiset == min of its set), so the signature
    * path uses this and skips array_distinct — which is quadratic on
    * string arrays and dominated the signature job. */
  private[graft] def rawShingles(text: Column, k: Int): Column =
    transform(
      sequence(lit(1), greatest(length(text) - (k - 1), lit(1))),
      i => text.substr(i, lit(k)))

  /** Word n-gram set of a text column; a text of fewer than `n` tokens
    * is its own one gram. The tokens are split once per row
    * ([[graft.functions.GraftFunctions.let]]). */
  def wordNgrams(text: Column, n: Int): Column =
    graft.functions.GraftFunctions.let(TextAnalysis.tokens(text)) { toks =>
      array_distinct(transform(
        sequence(lit(0), greatest(size(toks) - n, lit(0))),
        i => array_join(slice(toks, i + 1, lit(n)), " ")))
    }

  /** Portable 31-bit content hash: first 8 hex chars of md5, parsed as
    * an int, reduced mod p = 2^31-1. md5 is the one hash both this
    * engine and an independent SQL oracle (DuckDB
    * `('0x' || substr(md5(x),1,8))::BIGINT`) compute identically, which
    * makes every hash-derived answer independently checkable — unlike
    * `xxhash64`, whose seeds/mixing are engine-specific. */
  private[graft] def md5Hash31(c: Column): Column =
    pmod(conv(substring(md5(c), 1, 8), 16, 10).cast("long"), lit(2147483647L))

  /** Portable 60-bit content hash (first 15 hex chars of md5). 60 bits
    * keeps `1L << j` and the hash itself comfortably inside a signed
    * long on both engines. */
  private[llm] def md5Hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Deterministic MinHash parameters: numPerm (a,b) pairs from a fixed
    * seed; `a` odd, both bounded to 31 bits so `a * h31 + b` stays well
    * inside a Long under ANSI mode (Spark 4 default: overflow throws,
    * so the classic wrap-around trick is out). */
  private[graft] def minhashParams(numPerm: Int, seed: Long = 42L): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(numPerm)(((rnd.nextInt(Int.MaxValue).toLong | 1L),
      rnd.nextInt(Int.MaxValue).toLong))
  }

  /** MinHash signatures: explode shingles -> one hash aggregate per doc.
    * Signature i = min over shingles of ((a_i * h31 + b_i) mod p) with
    * p = 2^31-1 — the standard universal hash family. The outer mod is
    * load-bearing: without it a_i*h+b_i is MONOTONIC in h, every
    * "permutation" selects the same global-min shingle, and signatures
    * collapse to one effective hash (measured: banding stops working and
    * candidate generation degenerates to ~7% of all pairs). All factors
    * are 31-bit so products stay ≤2^62 — overflow-free under ANSI mode.
    * Single shuffle on the id; signature width is numPerm longs.
    */
  def minhashSignatures(df: DataFrame, idCol: String, text: Column,
      numPerm: Int = 32, shingleK: Int = 5): DataFrame = {
    val params = minhashParams(numPerm)
    val exploded = df
      .select(col(idCol), explode(rawShingles(text, shingleK)).as("__sh"))
      .withColumn("__h", md5Hash31(col("__sh")))
    val mins = params.zipWithIndex.map { case ((a, b), i) =>
      min(pmod(col("__h") * lit(a) + lit(b), lit(2147483647L))).as(s"__m$i")
    }
    exploded.groupBy(idCol).agg(mins.head, mins.tail: _*)
      .select(col(idCol),
        array((0 until numPerm).map(i => col(s"__m$i")): _*).as("signature"))
  }

  /** Banded LSH candidate pairs over MinHash signatures: band key ->
    * equi-join on (band, key). Docs agreeing on any band collide.
    * Never materializes the cross product: the join key is
    * (band_idx, band_key), so work is proportional to true collisions.
    * The band key is the band's signature slice joined as a string —
    * semantically the same equality as hashing the slice, but portable
    * (an independent SQL oracle reproduces it verbatim).
    *
    * `maxBucket` (off when <= 0) is the MEGABUCKET GUARD for 100 TB
    * corpora: a bucket of B copies of the same boilerplate page yields
    * B(B-1)/2 pairs — one viral template with 10^6 copies is 5*10^11
    * pairs out of a single reduce key, a job-killer no partitioning
    * fixes. Buckets larger than `maxBucket` switch from all-pairs to a
    * STAR over the bucket's min id (B-1 pairs). For the dedup use the
    * star is what matters: connected components see the same cluster
    * whenever bucket members truly match the hub (exact/near-exact
    * floods — precisely what megabuckets are). The trade: a leaf pair
    * whose similarity survives verification only against each other,
    * not the hub, is no longer emitted from THIS bucket (other bands
    * can still catch it); pair-listing consumers who need completeness
    * leave the guard off. */
  def lshCandidatePairs(sigs: DataFrame, idCol: String,
      bands: Int, rowsPerBand: Int, maxBucket: Int = 0): DataFrame = {
    val bandHashes = (0 until bands).map { b =>
      concat_ws("|",
        slice(col("signature"), b * rowsPerBand + 1, rowsPerBand))
    }
    // the banded relation feeds both sides of the self-join; both sides
    // shuffle on (band, band_hash) over an identical subtree, so
    // ReuseExchange computes the signature aggregation once and serves
    // the second side from shuffle files — no executor storage pinned,
    // nothing to unpersist (verified in PlanAuditSpec)
    val banded = sigs.select(col(idCol),
        posexplode(array(bandHashes: _*)).as(Seq("band", "band_hash")))
    if (maxBucket <= 0) {
      val l = banded.select(col(idCol).as("id_a"), col("band"), col("band_hash"))
      val r = banded.select(col(idCol).as("id_b"), col("band"), col("band_hash"))
      l.join(r, Seq("band", "band_hash"))
        .filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b").distinct()
    } else {
      // one bucket-partitioned window computes size + hub; its shuffle
      // partitioning is the same (band, band_hash) the join needs, so
      // the split costs no extra exchange on the join path
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("band", "band_hash")
      val sized = banded
        .withColumn("__bn", count(lit(1)).over(w))
        .withColumn("__hub", min(col(idCol)).over(w))
      val small = sized.filter(col("__bn") <= maxBucket)
      val l = small.select(col(idCol).as("id_a"), col("band"), col("band_hash"))
      val r = small.select(col(idCol).as("id_b"), col("band"), col("band_hash"))
      val dense = l.join(r, Seq("band", "band_hash"))
        .filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b")
      val star = sized
        .filter(col("__bn") > maxBucket && col(idCol) =!= col("__hub"))
        .select(col("__hub").as("id_a"), col(idCol).as("id_b"))
      dense.unionByName(star).distinct()
    }
  }

  /** Candidate pairs verified with exact set Jaccard over `setCol`
    * (shingles or word n-grams). */
  def verifyJaccard(pairs: DataFrame, sets: DataFrame, idCol: String,
      setCol: String, threshold: Double): DataFrame = {
    val a = sets.select(col(idCol).as("id_a"), col(setCol).as("__sa"))
    val b = sets.select(col(idCol).as("id_b"), col(setCol).as("__sb"))
    // |A ∪ B| = |A| + |B| - |A ∩ B| for distinct sets: one per-pair
    // hash-set build instead of two (no array_union materialization)
    pairs.join(a, "id_a").join(b, "id_b")
      .withColumn("__i", size(array_intersect(col("__sa"), col("__sb"))))
      .withColumn("jaccard",
        col("__i").cast("double") /
          (size(col("__sa")) + size(col("__sb")) - col("__i")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Edit-distance verification over candidate pairs: keep pairs whose
    * Levenshtein distance is <= `maxDist`, with the exact distance.
    * The character-level complement to [[verifyJaccard]]'s set view —
    * catches small in-place edits (typo dedup, template fills) that
    * barely move shingle sets, and rejects shingle-coincidences whose
    * texts differ everywhere.
    *
    * 100 TB shape: Levenshtein is O(len²) per pair — NEVER run it
    * all-pairs; feed banded candidates ([[lshCandidatePairs]]) so the
    * quadratic cost applies to O(near-dup) pairs only. The threshold
    * form of Spark's `levenshtein` abandons a row once the running
    * distance exceeds `maxDist` (banded O(len·maxDist)), so mismatched
    * candidates cost little. */
  def verifyEditDistance(pairs: DataFrame, docs: DataFrame, idCol: String,
      text: Column, maxDist: Int): DataFrame = {
    val a = docs.select(col(idCol).as("id_a"), text.as("__ta"))
    val b = docs.select(col(idCol).as("id_b"), text.as("__tb"))
    pairs.select("id_a", "id_b").join(a, "id_a").join(b, "id_b")
      .withColumn("edit_dist",
        levenshtein(col("__ta"), col("__tb"), maxDist).cast("long"))
      // the threshold form returns -1 for "farther than maxDist"
      .filter(col("edit_dist") >= 0 && col("edit_dist") <= maxDist)
      .select(col("id_a"), col("id_b"), col("edit_dist"))
  }

  /** MinHash-LSH near-dup end to end: signatures -> banded candidates ->
    * exact-Jaccard verification.
    *
    * Default banding 4 bands x 8 rows centers the S-curve at
    * (1/4)^(1/8) ~= 0.84: built for true near-duplicates. A flatter
    * scheme (8x4, threshold ~0.59) floods candidate generation on
    * corpora whose unrelated documents already share vocabulary
    * (J ~= 0.3 background -> ~6% of ALL pairs collide; measured 900k
    * candidates on 5k synthetic docs vs ~3k with 4x8). */
  def minhashNearDups(df: DataFrame, idCol: String, text: Column,
      numPerm: Int = 32, shingleK: Int = 5, bands: Int = 4,
      threshold: Double = 0.5, maxBucket: Int = 0): DataFrame = {
    // shingle sets are consumed twice in verification (both pair sides);
    // recomputing them is one narrow pass over the scan per side — at
    // scale that's cheaper than pinning a text-sized relation in
    // executor storage for the rest of the job
    val sets = df.select(col(idCol), shingles(text, shingleK).as("__set"))
    val sigs = minhashSignatures(df, idCol, text, numPerm, shingleK)
    val pairs = lshCandidatePairs(sigs, idCol, bands, numPerm / bands, maxBucket)
    verifyJaccard(pairs, sets, idCol, "__set", threshold)
  }

  /** Embedding-cosine near-dup: OR-amplified hyperplane LSH. A pair is
    * a candidate if it collides in ANY of `numTables` independent
    * `numBits`-bit tables — recall for a pair at angular similarity p
    * is 1-(1-p^numBits)^numTables, a design guarantee instead of a
    * single-table coin flip (defaults: cos 0.95 -> ~99.5%). The bound
    * is threshold-specific: size numBits/numTables for the OPERATING
    * threshold, not the default — e.g. at cos 0.9 the 12x16 default
    * drops to ~93% recall while 8x16 restores ~99.6%. Candidate
    * ids are deduped across tables BEFORE vectors are re-joined for the
    * exact-cosine verify, so each surviving pair is scored exactly once
    * and the wide vector rows never ride through the candidate shuffle.
    * Never all-pairs: (table, bucket) equality is the join key. */
  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540) pair stage:
    * duplicate pairs searched only WITHIN k-means cluster
    * co-membership. Cluster assignment is one scan (codegen'd
    * [[Similarity.centroidScores]] matvec + argmax); co-membership
    * turns the all-pairs cosine problem into an equi-join on cluster
    * id, with the exact [[Similarity.cosine]] check inside each
    * cluster. That is the published algorithm's scaling argument:
    * `nlist` grows like √N so per-cluster candidate sets stay bounded,
    * cross-cluster near-dups are deliberately out of scope (the
    * clustering IS the blocking), and a skewed cluster is one hot join
    * key for AQE's skew split. Feed the pairs to [[keepCanonical]] for
    * the keep-one policy. Pass [[Similarity.initCentroids]] for an
    * oracle-reproducible partition or [[Similarity.kmeansCentroids]]
    * for Lloyd-refined quality. */
  def semanticDupPairs(df: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[Seq[Double]], threshold: Double): DataFrame = {
    val assigned = df.withColumn("__scores",
        Similarity.centroidScores(col(vecCol), centroids))
      .select(col(idCol), col(vecCol),
        Similarity.bestFromScores(col("__scores")).as("cluster"))
    val a = assigned.select(col("cluster"), col(idCol).as("id_a"),
      col(vecCol).as("__va"))
    val b = assigned.select(col("cluster"), col(idCol).as("id_b"),
      col(vecCol).as("__vb"))
    a.join(b, "cluster").filter(col("id_a") < col("id_b"))
      .withColumn("cos", Similarity.cosine(col("__va"), col("__vb")))
      .filter(col("cos") >= threshold)
      .select(col("cluster"), col("id_a"), col("id_b"),
        round(col("cos"), 6).as("cos"))
  }

  def embeddingNearDups(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.95, numBits: Int = 12, dim: Int = 64,
      numTables: Int = 16): DataFrame = {
    // ALL numTables*numBits projections in ONE codegen'd matvec against
    // the stacked plane matrix (HOF-composed dots are CodegenFallback —
    // interpreted + boxed — and 192 of them per row dominated the whole
    // query). Table t's bucket is the t-th numBits-slice of the sign
    // vector — arrays are first-class join keys, no bitmask packing.
    val planeMatrix = Seq.tabulate(numTables)(t =>
      Similarity.hyperplanes(numBits, dim, seed = 42L + t)).flatten
    val signs = transform(
      graft.functions.GraftFunctions.matVec(planeMatrix, col(vecCol)),
      x => x > 0)
    val tableBuckets = (0 until numTables).map(t =>
      slice(col("__signs"), t * numBits + 1, numBits))
    // narrow projection, 2 slim columns after the explode — recompute
    // per join side beats pinning executor storage
    val bucketed = df.withColumn("__signs", signs)
      .select(col(idCol),
        posexplode(array(tableBuckets: _*)).as(Seq("__tbl", "__bkt")))
    val l = bucketed.select(col("__tbl"), col("__bkt"), col(idCol).as("id_a"))
    val r = bucketed.select(col("__tbl"), col("__bkt"), col(idCol).as("id_b"))
    val cand = l.join(r, Seq("__tbl", "__bkt"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val va = df.select(col(idCol).as("id_a"), col(vecCol).as("__va"))
    val vb = df.select(col(idCol).as("id_b"), col(vecCol).as("__vb"))
    cand.join(va, "id_a").join(vb, "id_b")
      .withColumn("cos", Similarity.cosine(col("__va"), col("__vb")))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"))
  }

  /** Near-dup pairs -> actionable dedup: cluster the pair graph with
    * connected components (near-duplication is transitive-ish in
    * practice — A~B and B~C usually means one cluster even when A~C
    * missed the candidate stage) and keep ONE canonical document per
    * cluster, the min id. Documents in no pair survive untouched via
    * the anti-join. Composes the LLM candidate machinery with the
    * pointer-jumping components operator, so cluster diameter costs
    * log rounds, not diameter rounds. */
  def keepCanonical(docs: DataFrame, idCol: String,
      pairs: DataFrame): DataFrame = {
    val comp = graft.osm.GraphCheck.connectedComponents(
      pairs.select(col("id_a").as("start_node"), col("id_b").as("end_node")))
    val dropped = comp.filter(col("node_id") =!= col("component"))
      .select(col("node_id").as(idCol))
    docs.join(dropped, Seq(idCol), "left_anti")
  }

  /** SimHash bit width: 60 = 15 md5 hex chars, so the token hash is
    * reproducible by an independent SQL oracle, and 4 pigeonhole chunks
    * stay an even 15 bits. */
  val SimhashBits = 60

  /** SimHash (60-bit): token hashes vote per bit position; sign of the
    * vote sum sets the bit (tie -> 0). One explode + ONE native
    * imperative aggregate: [[graft.functions.SimhashAgg]] folds each
    * token's 60-bit hash straight into a mutable vote buffer and emits
    * the packed signature — O(bits) state per group, map-side combine,
    * no 60-column agg schema, no posexplode row blowup, and (unlike the
    * earlier `transform`-vote + VectorSum + `zip_with` pack formulation)
    * NO interpreted higher-order functions in the per-token hot path:
    * HOFs cost 4-6x the CPU of the native update loop at 150M tokens
    * and allocate a 60-element array per token. */
  def simhash(df: DataFrame, idCol: String, text: Column): DataFrame =
    df.select(col(idCol), explode(split(text, "\\s+")).as("__t"))
      .withColumn("__h", md5Hash60(col("__t")))
      .groupBy(idCol)
      .agg(graft.functions.GraftFunctions.simhashAgg(col("__h"))
        .as("simhash"))

  /** SimHash near-dup candidates via COMPOSITE 2-chunk pigeonhole keys:
    * band the 60 bits into `maxDist + 2` chunks — a pair within Hamming
    * distance maxDist differs in at most maxDist chunks, so at least TWO
    * of the maxDist+2 chunks are shared intact — and equi-join on every
    * (chunk_i, chunk_j) pair (i < j), then verify exact Hamming <=
    * maxDist. Recall is still exact (every true pair shares some intact
    * chunk pair), so the verified output is IDENTICAL to the naive
    * single-chunk scheme; what changes is candidate-bucket size. Single
    * 12–16-bit chunks make bucket population grow ~n/2^16 and candidate
    * pairs ~n^2/2^16 — LLMSMOKE_r15 measured exponent 1.406 (8.6 s ->
    * 219 s for 10x docs). A composite key is ~24 bits wide, shrinking
    * expected bucket collisions by ~2^8-2^12 per key at the cost of
    * C(maxDist+2, 2) exploded rows per doc instead of maxDist+1 — a
    * constant-factor explode for a quadratic-term cut.
    *
    * `maxBucket` (off when <= 0) additionally ports the minhash
    * MEGABUCKET STAR GUARD ([[lshCandidatePairs]]) for 100 TB floods of
    * near-identical signatures (boilerplate pages): buckets above the
    * cap link each member to the bucket's min id only (B-1 star pairs
    * instead of B(B-1)/2). With the guard on, a leaf-leaf pair whose
    * hub fails the Hamming verify can be missed from that bucket —
    * connected-component consumers keep the cluster; exact-pair-listing
    * consumers leave it off (the default). */
  def simhashNearDups(df: DataFrame, idCol: String, text: Column,
      maxDist: Int = 3, maxBucket: Int = 0): DataFrame = {
    val sh = simhash(df, idCol, text)
    val numChunks = maxDist + 2
    // near-equal chunk widths covering all SimhashBits bits exactly
    val bounds = (0 to numChunks).map(i => i * SimhashBits / numChunks)
    val chunks = (0 until numChunks).map { i =>
      val lo = bounds(i); val width = bounds(i + 1) - lo
      shiftright(col("simhash"), lo).bitwiseAND(lit((1L << width) - 1L))
    }
    // composite keys: two chunk values packed into one LONG (chunk j in
    // the low bits) — a primitive join key keeps hashing/comparison in
    // whole-stage codegen, unlike a struct key; widths always fit: the
    // two widest chunks sum to <= SimhashBits <= 60 bits. The join key
    // is (pair_idx, key) so distinct chunk-pair positions never collide
    val keyStructs = for {
      i <- 0 until numChunks; j <- (i + 1) until numChunks
    } yield {
      val widthJ = bounds(j + 1) - bounds(j)
      shiftleft(chunks(i), widthJ).bitwiseOR(chunks(j))
    }
    // feeds both self-join sides; ReuseExchange runs the simhash
    // aggregation once and serves both (pair_idx, key) shuffles from
    // its output — no pinned storage (verified in PlanAuditSpec)
    val chunked = sh.select(col(idCol), col("simhash"),
        posexplode(array(keyStructs: _*)).as(Seq("pair_idx", "key")))
    val candidates =
      if (maxBucket <= 0) {
        val l = chunked.select(col(idCol).as("id_a"),
          col("simhash").as("__ha"), col("pair_idx"), col("key"))
        val r = chunked.select(col(idCol).as("id_b"),
          col("simhash").as("__hb"), col("pair_idx"), col("key"))
        l.join(r, Seq("pair_idx", "key"))
          .filter(col("id_a") < col("id_b"))
          .select(col("id_a"), col("id_b"), col("__ha"), col("__hb"))
      } else {
        // bucket-size window shares the join's (pair_idx, key) shuffle
        // partitioning — the guard costs no extra exchange
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("pair_idx", "key")
        val sized = chunked
          .withColumn("__bn", count(lit(1)).over(w))
          .withColumn("__hub", min(col(idCol)).over(w))
          .withColumn("__hubsig", min_by(col("simhash"), col(idCol)).over(w))
        val small = sized.filter(col("__bn") <= maxBucket)
        val l = small.select(col(idCol).as("id_a"),
          col("simhash").as("__ha"), col("pair_idx"), col("key"))
        val r = small.select(col(idCol).as("id_b"),
          col("simhash").as("__hb"), col("pair_idx"), col("key"))
        val dense = l.join(r, Seq("pair_idx", "key"))
          .filter(col("id_a") < col("id_b"))
          .select(col("id_a"), col("id_b"), col("__ha"), col("__hb"))
        val star = sized
          .filter(col("__bn") > maxBucket && col(idCol) =!= col("__hub"))
          .select(col("__hub").as("id_a"), col(idCol).as("id_b"),
            col("__hubsig").as("__ha"), col("simhash").as("__hb"))
        dense.unionByName(star)
      }
    candidates
      .select(col("id_a"), col("id_b"),
        bit_count(col("__ha").bitwiseXOR(col("__hb"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
  }

  /** Passage-level duplicate detection (the Lee-et-al "Deduplicating
    * Training Data" signal at word-gram granularity): token spans whose
    * `n`-grams occur at least `minCount` times ACROSS THE CORPUS
    * (within-doc repeats count — "occurs more than once" is the
    * criterion, wherever the copies live). Returns one row per maximal
    * duplicated span: `(id, span_start, span_end, n_grams)` with
    * 0-based inclusive token indices.
    *
    * Scale shape: positioned gram explode (linear in corpus tokens) →
    * hash-agg gram counts (map-side partial shrinks the shuffle to the
    * vocabulary) → the `>= minCount` HEAVY-HITTER set joins back
    * (small; AQE broadcasts it) → overlapping/adjacent flagged
    * positions merge into maximal spans with a gaps-and-islands window
    * PARTITIONED BY DOCUMENT — no global window, no all-pairs
    * doc-to-doc comparison anywhere (the gram table, not doc pairs,
    * carries the cross-document evidence). Two flagged grams merge when
    * their token ranges touch or overlap (gap opens when
    * `pos > prev + n`).
    *
    * The count and join-back key on `xxhash64(gram)`, not the gram
    * string: the gram relation is the corpus times `n`, and carrying
    * ~50-char strings through the count shuffle measurably degrades —
    * LlmScaleSmoke clocked exponent 1.21 at 10x with string keys (the
    * hash aggregate spills into its sort-based fallback) vs ~1.0
    * hashed. A 64-bit collision can only OVER-flag (never hide a real
    * duplicate); P(any collision) ~ g^2/2^65 — the approximation the
    * suffix-array dedup literature accepts. The DuckDB oracle counts
    * exact strings, so the correctness gate would catch a collision at
    * test scale (where P is ~1e-8). */
  def duplicatePassages(docs: DataFrame, idCol: String, text: Column,
      n: Int = 8, minCount: Long = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grams = docs.select(col(idCol),
        posexplode(TextAnalysis.rawWordNgrams(text, n)).as(Seq("pos", "g")))
      .select(col(idCol), col("pos"), xxhash64(col("g")).as("__gh"))
    val dup = grams.groupBy("__gh").agg(count(lit(1)).as("__c"))
      .filter(col("__c") >= minCount).select("__gh")
    val hits = grams.join(dup, "__gh").select(col(idCol), col("pos"))
    val w = Window.partitionBy(idCol).orderBy("pos")
    hits
      .withColumn("__new",
        when(col("pos") >
          coalesce(lag(col("pos"), 1).over(w), lit(-(n + 1))) + n, 1)
          .otherwise(0))
      .withColumn("__island", sum(col("__new")).over(w))
      .groupBy(col(idCol), col("__island"))
      .agg(min("pos").cast("long").as("span_start"),
        (max("pos") + (n - 1)).cast("long").as("span_end"),
        count(lit(1)).as("n_grams"))
      .drop("__island")
  }

  /** EXACT substring dedup (Lee et al. 2022, "Deduplicating Training
    * Data Makes Language Models Better" — the ExactSubstr pass): every
    * duplicated token span of length >= k is REMOVED from every
    * occurrence except the globally first one, and each document is
    * reassembled from its surviving tokens. Where [[duplicatePassages]]
    * FLAGS approximate spans via hashed heavy-hitter n-grams, this op
    * is exact (string-keyed winners — a 64-bit collision cannot
    * over-drop) and rewrites the corpus.
    *
    * Semantics, precisely: a k-token window occurrence (doc, pos) is a
    * duplicate iff its window TEXT occurs at any other (doc, pos); the
    * canonical occurrence of a window text is min(doc, pos). Every
    * token position covered by a NON-canonical duplicate window is
    * dropped. Because a duplicated span of length L >= k duplicates all
    * its L-k+1 windows, maximal duplicated spans are removed in full at
    * every non-first occurrence and survive intact at the first — the
    * Lee et al. cut rule, without materializing a suffix array. (A
    * self-overlapping repeat like "a a a a" keeps only its first
    * window's tokens: positions covered by any later duplicate window
    * go, the well-defined distributed analog of their sequential cut.)
    *
    * Returns one row per input document:
    * `(idCol, clean_text, total_tokens, removed_tokens)` — documents
    * whose every token sat in duplicated spans come back with
    * `clean_text = ''`.
    *
    * 100 TB shape — the suffix array of the corpus (Lee et al.'s
    * single-node tool) needs ~8 bytes of RAM per corpus byte; this is
    * the shuffle-native equivalent for a fixed minimum span k:
    * (1) HASH PREFILTER: one xxhash64-keyed count — the overwhelmingly
    * unique gram mass (map-side partials absorb boilerplate skew) dies
    * here, and the gram STRING never enters any corpus-mass shuffle:
    * the prefilter pipeline moves fixed-width (id, pos, hash) rows
    * only, and survivor strings are re-sliced from the token arrays by
    * one id-keyed join (duplicate-mass-sized output; r20 — carrying
    * strings through the semi join crossed the sort-spill threshold at
    * the 3M-doc smoke scale, exponent 1.06-1.23 unstable, vs 20 B/row
    * after the fix); (2) exact winners: a
    * string-keyed hash-agg over SURVIVORS ONLY (size = true duplicate
    * mass, not corpus mass — the lesson from duplicatePassages'
    * measured 1.21 string-key exponent); (3) coverage: dup windows
    * explode to k positions, distinct — k x duplicate mass, not corpus
    * mass; (4) reassembly: one anti-join of the token table against
    * covered positions and a per-doc groupBy, the paragraphDedup
    * shape. No all-pairs stage, no window function, no suffix array. */
  def substringDedup(docs: DataFrame, idCol: String, text: Column,
      k: Int): DataFrame = {
    val toks = docs.select(col(idCol), TextAnalysis.tokens(text).as("__toks"))
      .localCheckpoint(true) // feeds grams, survivor re-slice, and totals
    // checkpointed (r21): both the winner agg and the dup-window join
    // read the survivor relation — uncheckpointed, the whole prefilter
    // + re-slice chain (two corpus-mass joins) executed twice per
    // query. The materialized set is duplicate-mass-sized by
    // construction (the prefilter already dropped the unique gram
    // mass), the same bound the downstream shuffles rely on. The LAZY
    // prefix is split out so PlanAuditSpec can still pin its shape
    // (LeftSemi prefilter, keyed joins).
    val survivors = substringSurvivors(toks, idCol, k).localCheckpoint(true)
    substringDedupFromSurvivors(toks, survivors, idCol, k)
  }

  /** Lazy survivor relation of [[substringDedup]] — phase 1 (hash
    * prefilter) + the string re-slice. Split out for the plan audit. */
  private[graft] def substringSurvivors(toks: DataFrame, idCol: String,
      k: Int): DataFrame = {
    // window HASHES sliced straight off the token array: the gram
    // STRING never leaves its scan here — only (id, pos, hash) rows
    // enter the prefilter shuffle. r20 fix: carrying the ~k-token
    // string payload through the semi join shuffled ~90 B/gram of
    // corpus mass and crossed the sort-spill threshold between the
    // 300k and 3M smoke scales (measured exponent 1.06-1.23, unstable
    // run-to-run); hashing first keeps the wide shuffle fixed-width
    // 20 B rows, and strings re-materialize below for the
    // duplicate-mass-sized survivor set only
    val gramsH = toks.select(col(idCol),
      posexplode(when(size(col("__toks")) >= k,
          transform(sequence(lit(0), size(col("__toks")) - k),
            i => xxhash64(array_join(slice(col("__toks"), i + 1, lit(k)), " "))))
        .otherwise(array().cast("array<long>")))
        .as(Seq("pos", "__gh")))
    // phase 1: cheap hash prefilter — a gram whose HASH is globally
    // unique cannot be a duplicate; only hash-repeated positions
    // proceed to the exact stage
    val hot = gramsH.groupBy(col("__gh"))
      .agg(count(lit(1)).as("__c")).filter(col("__c") > 1)
      .select(col("__gh"))
    // re-slice the actual gram text for survivors only (duplicate
    // mass, not corpus mass): one join back to the token arrays.
    // shuffle_hash hints throughout: every corpus-mass join here pairs
    // a huge probe side with a duplicate-mass build side — sort-merge
    // would SORT the corpus-mass side, whose n log n is a measured
    // +0.06..0.09 on the smoke exponent and whose sort buffers are the
    // spill risk; a shuffled hash join builds only the small side per
    // partition and streams the big one, keeping wall time linear in
    // corpus bytes. (Not broadcast: duplicate mass has no size bound
    // at 100 TB.)
    gramsH
      .join(hot.hint("shuffle_hash"), Seq("__gh"), "left_semi")
      .hint("shuffle_hash")
      .join(toks, Seq(idCol))
      .select(col(idCol), col("pos"),
        array_join(slice(col("__toks"), col("pos") + 1, lit(k)), " ").as("g"))
  }

  /** Phases 2-4 of [[substringDedup]] over a (materialized) survivor
    * relation: exact string-keyed winners, coverage expansion, token
    * anti-join, reassembly. */
  private def substringDedupFromSurvivors(toks: DataFrame,
      survivors: DataFrame, idCol: String, k: Int): DataFrame = {
    // phase 2: exact, string-keyed — first occurrence wins
    val winners = survivors.groupBy(col("g"))
      .agg(min(struct(col(idCol), col("pos"))).as("__w"),
        count(lit(1)).as("__cnt"))
      .filter(col("__cnt") > 1)
      .select(col("g").as("__wg"),
        col("__w").getField(idCol).as("__wid"),
        col("__w").getField("pos").as("__wpos"))
    val dupWindows = survivors.join(winners, col("g") === col("__wg"))
      .filter(!(col(idCol) === col("__wid") && col("pos") === col("__wpos")))
      .select(col(idCol).as("__did"), col("pos"))
    val covered = dupWindows
      .select(col("__did"),
        explode(sequence(col("pos"), col("pos") + (k - 1))).as("__cp"))
      .distinct()
    val tokenTbl = toks.select(col(idCol),
      posexplode(col("__toks")).as(Seq("__tp", "__tok")))
    val kept = tokenTbl.join(covered.hint("shuffle_hash"),
      tokenTbl(idCol) === covered("__did") && col("__tp") === col("__cp"),
      "left_anti")
    val reassembled = kept.groupBy(col(idCol))
      .agg(array_join(transform(
          array_sort(collect_list(struct(col("__tp"), col("__tok")))),
          c => c.getField("__tok")), " ").as("clean_text"),
        count(lit(1)).as("__kept"))
    val totals = toks.select(col(idCol), size(col("__toks")).as("__total"))
    totals.join(reassembled.hint("shuffle_hash"), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        col("__total").cast("long").as("total_tokens"),
        (col("__total") - coalesce(col("__kept"), lit(0L))).cast("long")
          .as("removed_tokens"))
  }

  /** Paragraph-level exact dedup with document reassembly — the CCNet /
    * RefinedWeb curation pass: split each document into fixed-size
    * token chunks ("paragraphs"), keep only the GLOBALLY FIRST
    * occurrence of each distinct chunk text (ordered by (doc, chunk
    * position)), and stitch every document back together from its
    * surviving chunks. Unlike [[exactDedup]] (whole documents) or
    * [[duplicatePassages]] (flags spans but keeps them), this REWRITES
    * the corpus: boilerplate shared across documents survives exactly
    * once, in its earliest host.
    *
    * Returns one row per input document:
    * `(idCol, clean_text, kept_chunks, dropped_chunks)` — documents
    * whose every chunk was seen earlier elsewhere come back with
    * `clean_text = ''` and `kept_chunks = 0` (callers filter or count).
    *
    * 100 TB shape: three keyed shuffles, no windows over corpus-wide
    * keys, no all-pairs stage — (1) first-occurrence winners via a
    * hash-agg `min(struct(doc, pos))` GROUPED BY
    * `(xxhash64(chunk), length(chunk))` (map-side partials absorb
    * boilerplate skew: a chunk duplicated a billion times arrives at
    * the reducer once per map partition); (2) an equi-join of chunks to
    * winners on (hash, length, doc, pos) — the winner side is unique
    * per (hash, length), and the composite key spreads hot chunk
    * texts; (3) per-document reassembly, a groupBy on the doc id.
    * Hashing instead of joining on chunk strings is the
    * [[duplicatePassages]] policy, WIDENED: the winner key is
    * `(xxhash64(chunk), length(chunk))` — a 64-bit hash alone sees
    * expected birthday collisions at ~1e10+ chunks (a 100 TB corpus),
    * silently over-dropping distinct chunks; the composite key pushes
    * collision probability back below corpus scale (colliding chunks
    * must also share exact length) at zero extra shuffle cost. The
    * exact-string DuckDB oracle would catch a residual collision at
    * test scale. */
  def paragraphDedup(docs: DataFrame, idCol: String, text: Column,
      chunkTokens: Int): DataFrame =
    dedupChunksReassemble(
      TextAnalysis.chunkByTokens(docs, idCol, text, chunkTokens), idCol)

  /** Content-defined chunking (CDC) dedup with document reassembly —
    * the same keep-globally-first-chunk rewrite as [[paragraphDedup]],
    * but chunk BOUNDARIES are chosen by token content instead of a
    * fixed stride: a new chunk starts at every token whose portable
    * 31-bit md5 hash is ≡ 0 (mod `avgTokens`), giving expected chunk
    * length `avgTokens`. This is the LBFS / FastCDC insight applied at
    * token granularity: under fixed-stride chunking, inserting ONE word
    * near the top of a page shifts every later chunk frame and zero
    * chunks dedupe; under CDC the frames re-synchronize at the next
    * content boundary, so everything past the edit still matches. The
    * dedup/reassembly core is shared with [[paragraphDedup]] — same
    * three keyed shuffles, same collision-hardened (hash, length)
    * winner key, no corpus-wide window (the boundary flag and running
    * chunk index are per-document windows, partition-pruned by doc id).
    */
  def cdcChunkDedup(docs: DataFrame, idCol: String, text: Column,
      avgTokens: Int): DataFrame = {
    require(avgTokens >= 2, s"avgTokens must be >= 2, got $avgTokens")
    val toks = docs.select(col(idCol),
      posexplode(filter(split(text, " "), t => t =!= ""))
        .as(Seq("__pos", "__tok")))
    val w = Window.partitionBy(idCol).orderBy("__pos")
    val withChunk = toks
      .withColumn("__b",
        when(col("__pos") > 0 &&
          pmod(md5Hash31(col("__tok")), lit(avgTokens)) === 0, 1)
          .otherwise(0))
      .withColumn("chunk_id", sum(col("__b")).over(w))
    val chunks = withChunk
      .groupBy(col(idCol), col("chunk_id"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("__pos"), col("__tok")))),
        c => c.getField("__tok")), " ").as("chunk_text"))
    dedupChunksReassemble(chunks, idCol)
  }

  /** Shared keep-globally-first core of [[paragraphDedup]] /
    * [[cdcChunkDedup]]: `chunks` is `(idCol, chunk_id, chunk_text)`.
    * See the paragraphDedup Scaladoc for the 100 TB plan-shape
    * rationale (hash-agg winners on the widened (xxhash64, length)
    * key, composite-key join-back, per-doc regroup). */
  private def dedupChunksReassemble(chunksIn: DataFrame,
      idCol: String): DataFrame = {
    val chunks = chunksIn
      .withColumn("__h", xxhash64(col("chunk_text")))
      .withColumn("__hl", length(col("chunk_text")))
    val winners = chunks
      .groupBy(col("__h"), col("__hl"))
      .agg(min(struct(col(idCol), col("chunk_id"))).as("__w"))
      .select(col("__h").as("__wh"), col("__hl").as("__whl"),
        col("__w").getField(idCol).as("__wid"),
        col("__w").getField("chunk_id").as("__widx"))
    // ONE pass over the chunk relation for keep-marking, reassembly
    // AND totals (r21; guide §1.2): the split form consumed `chunks`
    // three times — winner agg, inner join-back, totals agg — so the
    // chunk-build upstream (tokenize + boundary window + regroup) ran
    // three times per query. The winner relation is UNIQUE per
    // (__h, __hl), so the inner join cannot multiply rows; a chunk is
    // kept iff it IS its group's winner, and collect_list skips the
    // nulls the `when` leaves on dropped chunks. An all-dropped doc
    // yields the empty array -> '' — the same row the old left-join
    // form produced.
    val marked = chunks.join(winners,
        col("__h") === col("__wh") && col("__hl") === col("__whl"))
      .withColumn("__keep",
        col(idCol) === col("__wid") && col("chunk_id") === col("__widx"))
    marked.groupBy(col(idCol))
      .agg(
        array_join(transform(
          array_sort(collect_list(when(col("__keep"),
            struct(col("chunk_id"), col("chunk_text"))))),
          c => c.getField("chunk_text")), " ").as("clean_text"),
        count(when(col("__keep"), lit(1))).as("kept_chunks"),
        count(lit(1)).as("__total"))
      .select(col(idCol),
        col("clean_text"),
        col("kept_chunks"),
        (col("__total") - col("kept_chunks")).as("dropped_chunks"))
  }
}
