package graft
package queries

import org.apache.spark.sql.functions._

import graft.Tables._
import QueryHelpers._

/** Document deduplication: exact, fingerprint, Jaccard, MinHash-LSH,
  * edit distance, SimHash, passage, paragraph, content-defined chunk
  * and exact-substring dedup, plus embedding near-dup pairs. */
object DedupQueries {
  /** DuckDB replica of the whole MinHash-LSH pipeline: the shared
    * signature + banding CTEs (32 permutations, 4 bands of 8), then
    * candidate pairs verified by exact shingle-set Jaccard. */
  private def minhashOracleSql: String =
    minhashBandsSql(numPerm = 32, rowsPerBand = 8) + """,
  cand AS (
    SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
    FROM bands a JOIN bands c ON a.band = c.band AND a.bh = c.bh AND a.doc_id < c.doc_id
  ),
  sets AS (
    SELECT doc_id, list_distinct(list(s)) AS st FROM sh GROUP BY doc_id
  ),
  verified AS (
    SELECT id_a, id_b,
      CAST(len(list_intersect(sa.st, sb.st)) AS DOUBLE) /
        len(list_distinct(list_concat(sa.st, sb.st))) AS j
    FROM cand JOIN sets sa ON cand.id_a = sa.doc_id
              JOIN sets sb ON cand.id_b = sb.doc_id
  )
  SELECT id_a, id_b, round(j, 4) AS jaccard FROM verified
  WHERE j >= 0.4 ORDER BY id_a, id_b"""

  /** Same candidate CTEs, verified by DuckDB's own levenshtein instead
    * of Jaccard — an independent edit-distance implementation agreeing
    * with Spark's on every surviving pair. */
  private def editDistOracleSql: String = {
    val base = minhashOracleSql
    val prefix = base.substring(0, base.lastIndexOf("  sets AS ("))
    prefix + """  ed AS (
    SELECT id_a, id_b, CAST(levenshtein(da.text, db.text) AS BIGINT) AS edit_dist
    FROM cand JOIN documents da ON cand.id_a = da.doc_id
              JOIN documents db ON cand.id_b = db.doc_id)
  SELECT id_a, id_b, edit_dist FROM ed
  WHERE edit_dist <= 50 ORDER BY id_a, id_b"""
  }

  /** Same pipeline CTEs, continued into cluster dedup: pairs ->
    * recursive-CTE components -> drop non-canonical members. */
  private def neardupKeepOracleSql: String = {
    val base = minhashOracleSql
    val prefix = base.substring(0, base.lastIndexOf("  SELECT id_a"))
    prefix.replaceFirst("WITH sh AS", "WITH RECURSIVE sh AS") + """,
  pairs AS (SELECT id_a, id_b FROM verified WHERE j >= 0.4),
  sym AS (SELECT id_a AS a, id_b AS b FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
  reach(n, l) AS (
    SELECT a, a FROM (SELECT DISTINCT a FROM sym)
    UNION
    SELECT s.a, r.l FROM sym s JOIN reach r ON s.b = r.n),
  comp AS (SELECT n AS doc_id, min(l) AS root FROM reach GROUP BY n),
  dropped AS (SELECT doc_id FROM comp WHERE doc_id <> root)
  SELECT lang, count(*) AS kept FROM documents
  WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
  GROUP BY lang ORDER BY lang"""
  }

  /** DuckDB replica of the SimHash pipeline (60-bit portable md5 token
    * hash; bit j of a doc's simhash = majority vote over its tokens).
    * Candidate generation here uses the simple single-chunk pigeonhole
    * (maxDist+1 chunks, any one shared); the engine uses composite
    * 2-of-(maxDist+2) chunk keys. Both are recall-exact for Hamming <=
    * maxDist and both verify with exact Hamming, so the OUTPUT set is
    * identical — the oracle deliberately keeps the simpler scheme. */
  private def simhashOracleSql: String = {
    val bits = llm.Dedup.SimhashBits
    val numChunks = 7 // single-chunk pigeonhole: maxDist 6 + 1
    val bounds = (0 to numChunks).map(i => i * bits / numChunks)
    val chunkVals = (0 until numChunks).map { i =>
      val lo = bounds(i); val mask = (1L << (bounds(i + 1) - lo)) - 1L
      s"($i, $lo, $mask)"
    }.mkString(",")
    s"""WITH tok AS (
    SELECT doc_id, CAST(('0x' || substr(md5(t),1,15)) AS BIGINT) AS h
    FROM (SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS t FROM documents)
  ),
  bits AS (
    SELECT doc_id, j,
      CASE WHEN 2 * count(*) FILTER (WHERE (h >> CAST(j AS INTEGER)) & 1 = 1) > count(*)
           THEN CAST(1 AS BIGINT) << CAST(j AS INTEGER) ELSE 0 END AS bitval
    FROM tok, LATERAL unnest(range(0, $bits)) AS tt(j)
    GROUP BY doc_id, j
  ),
  sig AS (SELECT doc_id, sum(bitval) AS simhash FROM bits GROUP BY doc_id),
  chunks AS (
    SELECT doc_id, simhash, c.i AS chunk_idx, (simhash >> c.lo) & c.mask AS chunk
    FROM sig, LATERAL (VALUES $chunkVals) AS c(i, lo, mask)
  ),
  pairs AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
      CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
    FROM chunks a JOIN chunks b
      ON a.chunk_idx = b.chunk_idx AND a.chunk = b.chunk AND a.doc_id < b.doc_id
  )
  SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 6 ORDER BY id_a, id_b"""
  }

  val all: Seq[Query] = Seq(
    // ---- exact dedup by content hash: keeper = min id per fingerprint
    Query("q_d_exact_dedup", (s, dir) => {
      spreadDocs(s, dir)
        .groupBy(md5(col("text")).as("fp"))
        .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("cnt"))
        .orderBy("fp")
    },
      """SELECT md5(text) AS fp, min(doc_id) AS keeper, count(*) AS cnt
         FROM documents GROUP BY fp ORDER BY fp"""),

    // ---- near-dup by normalized fingerprint (distinct-word-set hash):
    //      hash-groupBy dedup, single shuffle, no pairwise stage
    Query("q_d_fingerprint_dedup", (s, dir) => {
      spreadDocs(s, dir)
        .select(col("doc_id"),
          md5(array_join(array_sort(array_distinct(split(col("text"), " "))), " "))
            .as("fp"))
        .groupBy("fp")
        .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("cnt"))
        .filter(col("cnt") > 1)
        .orderBy("fp")
    },
      """SELECT md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp,
                min(doc_id) AS keeper, count(*) AS cnt
         FROM documents GROUP BY fp HAVING count(*) > 1 ORDER BY fp"""),

    // ---- blocked near-dup: word-set Jaccard within (lang, source)
    //      blocks — candidate generation is an equi-join on the block
    //      key, never an all-pairs cross join
    Query("q_d_jaccard_pairs", (s, dir) => {
      // salted self-join: block sizes are data-dependent and unbounded
      // (one giant lang x source block would otherwise land on ONE
      // task). Left rows replicate R times, right rows carry
      // hash(id) % R; joining on (block, replica == salt) matches every
      // pair exactly once while capping per-task work at |block|^2/R.
      val R = 8
      val d = spreadDocs(s, dir).select(col("doc_id"), col("lang"), col("source"),
        array_distinct(split(col("text"), " ")).as("ws"))
      // candidate generation runs on SLIM rows (id + set size): the
      // salted 8x replication never duplicates the word arrays, and the
      // size-ratio prefilter — J(A,B) <= min/max set size, so failing
      // pairs can't reach 0.6 — prunes before the wide fetch.
      val slim = d.select(col("lang"), col("source"), col("doc_id"),
        size(col("ws")).as("n"))
      val a = slim.select(col("lang"), col("source"), col("doc_id").as("id_a"),
          col("n").as("na"))
        .withColumn("__rep", explode(typedlit((0 until R).toList)))
      val b = slim.select(col("lang"), col("source"), col("doc_id").as("id_b"),
          col("n").as("nb"))
        .withColumn("__rep", pmod(xxhash64(col("id_b")), lit(R)).cast("int"))
      val cand = a.join(b, Seq("lang", "source", "__rep"))
        .filter(col("id_a") < col("id_b"))
        .filter(least(col("na"), col("nb")).cast("double") >=
          greatest(col("na"), col("nb")) * 0.6)
        .select("id_a", "id_b")
      // wide word arrays join in only for surviving candidates.
      // |A ∪ B| = |A| + |B| - |A ∩ B| for distinct sets: one hash-set
      // build per pair instead of two (array_union would rebuild and
      // dedup a second array just to take its size).
      val wa = d.select(col("doc_id").as("id_a"), col("ws").as("wa"))
      val wb = d.select(col("doc_id").as("id_b"), col("ws").as("wb"))
      cand.join(wa, "id_a").join(wb, "id_b")
        .withColumn("__i", size(array_intersect(col("wa"), col("wb"))))
        .withColumn("jaccard",
          col("__i").cast("double") /
            (size(col("wa")) + size(col("wb")) - col("__i")))
        .filter(col("jaccard") >= 0.6)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
        .orderBy("id_a", "id_b")
    },
      """WITH d AS (SELECT doc_id, lang, source,
                           list_distinct(string_split(text, ' ')) AS ws
                    FROM documents)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                round(CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE)
                      / len(list_distinct(a.ws || b.ws)), 4) AS jaccard
         FROM d a JOIN d b
           ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
         WHERE CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE)
               / len(list_distinct(a.ws || b.ws)) >= 0.6
         ORDER BY id_a, id_b"""),

    // ---- MinHash-LSH near-dup (banded candidates -> exact-Jaccard
    //      verify). md5-portable hash family -> the full pipeline is
    //      DuckDB-replicated in the oracle; recall properties in LlmSpec.
    Query("q_d_minhash_pairs", (s, dir) => {
      llm.Dedup.minhashNearDups(spreadDocs(s, dir), "doc_id", col("text"),
          numPerm = 32, shingleK = 5, bands = 4, threshold = 0.4)
        .orderBy("id_a", "id_b")
    },
      minhashOracleSql),

    // ---- edit-distance near-dup: the SAME banded candidates, verified
    //      by exact Levenshtein instead of Jaccard — the character-level
    //      complement (catches in-place edits that barely move shingle
    //      sets). Threshold-form levenshtein abandons far pairs early;
    //      the O(len²) cost only ever touches O(candidates) pairs.
    Query("q_d_editdist_pairs", (s, dir) => {
      val d = spreadDocs(s, dir)
      val sigs = llm.Dedup.minhashSignatures(d, "doc_id", col("text"),
        numPerm = 32, shingleK = 5)
      val cands = llm.Dedup.lshCandidatePairs(sigs, "doc_id",
        bands = 4, rowsPerBand = 8)
      llm.Dedup.verifyEditDistance(cands, d, "doc_id", col("text"),
          maxDist = 50)
        .orderBy("id_a", "id_b")
    },
      editDistOracleSql),

    // ---- the ACTIONABLE dedup: near-dup pairs -> connected-component
    //      clusters -> keep the min-id canonical per cluster. The full
    //      chain (shingles -> signatures -> bands -> verify -> cluster
    //      -> anti-join) is DuckDB-replicated via a recursive CTE.
    Query("q_d_neardup_keep", (s, dir) => {
      val d = spreadDocs(s, dir)
      val pairs = llm.Dedup.minhashNearDups(d, "doc_id", col("text"),
        numPerm = 32, shingleK = 5, bands = 4, threshold = 0.4)
      llm.Dedup.keepCanonical(d, "doc_id", pairs)
        .groupBy("lang").agg(count(lit(1)).as("kept"))
        .orderBy("lang")
    },
      neardupKeepOracleSql),

    // ---- SimHash near-dup (native SimhashAgg fingerprints; candidates
    //      via 2-of-(maxDist+2) composite-chunk pigeonhole keys so any
    //      <=maxDist pair shares two untouched chunks — linear buckets,
    //      DuckDB-replicated oracle via the portable 60-bit md5 hash)
    Query("q_d_simhash_pairs", (s, dir) => {
      llm.Dedup.simhashNearDups(spreadDocs(s, dir), "doc_id", col("text"),
          maxDist = 6)
        .orderBy("id_a", "id_b")
    },
      simhashOracleSql),

    // ---- passage-level duplicate spans (Lee et al.): heavy-hitter
    //      8-grams join back onto their positions; touching flagged
    //      positions merge into maximal spans via a PER-DOC
    //      gaps-and-islands window — no doc-to-doc comparison anywhere
    Query("q_d_dup_passages", (s, dir) => {
      llm.Dedup.duplicatePassages(spreadDocs(s, dir), "doc_id", col("text"),
          n = 8, minCount = 2)
        .orderBy("doc_id", "span_start")
    },
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
                       FROM documents),
         gr AS (SELECT doc_id, i - 1 AS pos,
                  array_to_string(t[i:i+7], ' ') AS g
                FROM toks, UNNEST(range(1, len(t) - 6)) AS r(i)
                WHERE len(t) >= 8),
         dup AS (SELECT g FROM gr GROUP BY g HAVING count(*) >= 2),
         hits AS (SELECT doc_id, pos FROM gr
                  WHERE g IN (SELECT g FROM dup)),
         isl AS (SELECT doc_id, pos,
                   CASE WHEN pos > coalesce(lag(pos) OVER
                          (PARTITION BY doc_id ORDER BY pos), -9) + 8
                        THEN 1 ELSE 0 END AS nw
                 FROM hits),
         isl2 AS (SELECT doc_id, pos,
                    sum(nw) OVER (PARTITION BY doc_id ORDER BY pos)
                      AS island
                  FROM isl)
         SELECT doc_id, min(pos) AS span_start,
                max(pos) + 7 AS span_end, count(*) AS n_grams
         FROM isl2 GROUP BY doc_id, island
         ORDER BY doc_id, span_start"""),

    // ---- paragraph-level dedup with reassembly (CCNet/RefinedWeb):
    //      fixed 8-token chunks, globally-first occurrence survives,
    //      documents stitched back from surviving chunks — three keyed
    //      shuffles (winner hash-agg, composite-key join-back, per-doc
    //      regroup), no corpus-wide window
    Query("q_d_paragraph_dedup", (s, dir) => {
      llm.Dedup.paragraphDedup(spreadDocs(s, dir), "doc_id", col("text"),
          chunkTokens = 8)
        .orderBy("doc_id")
    },
      // paragraph dedup re-derived: same 8-token chunking, first
      // occurrence by (doc_id, chunk_id) wins (row_number over the exact
      // chunk string — the engine's xxhash64 key is collision-checked by
      // this exact-string compare), same per-doc reassembly; string_agg
      // skips the NULLed-out losers
      (docTokens + """),
         chunks AS (
           SELECT doc_id, CAST(floor((ord - 1) / 8) AS INT) AS chunk_id,
                  string_agg(tok, ' ' ORDER BY ord) AS chunk_text
           FROM tok GROUP BY doc_id, CAST(floor((ord - 1) / 8) AS INT)),
         """ + keepFirstChunks)),

    // ---- content-defined chunking dedup (the LBFS/FastCDC idea at
    //      token granularity): a chunk boundary opens at every token
    //      whose portable 31-bit md5 hash ≡ 0 (mod 8), so editing a
    //      document re-synchronizes chunk frames at the next boundary
    //      instead of shifting every later fixed-stride frame —
    //      same keep-globally-first rewrite core as paragraph dedup
    Query("q_d_cdc_dedup", (s, dir) => {
      llm.Dedup.cdcChunkDedup(spreadDocs(s, dir), "doc_id", col("text"),
          avgTokens = 8)
        .orderBy("doc_id")
    },
      // CDC dedup re-derived: identical portable 31-bit md5 boundary rule
      // (('0x'||hex8)::BIGINT mod 2^31-1, then mod 8), running-sum chunk
      // ids per doc, keep-first by (doc, chunk) via row_number over the
      // exact chunk text, reassemble in chunk order
      (docTokens + """
           WHERE t[i] <> ''),
         b AS (
           SELECT doc_id, ord, tok,
                  CASE WHEN row_number() OVER (PARTITION BY doc_id
                                               ORDER BY ord) > 1
                        AND (('0x' || substr(md5(tok), 1, 8))::BIGINT
                             % 2147483647) % 8 = 0
                       THEN 1 ELSE 0 END AS bflag
           FROM tok),
         c AS (
           SELECT doc_id, ord, tok,
                  sum(bflag) OVER (PARTITION BY doc_id
                                   ORDER BY ord) AS chunk_id
           FROM b),
         chunks AS (
           SELECT doc_id, chunk_id,
                  string_agg(tok, ' ' ORDER BY ord) AS chunk_text
           FROM c GROUP BY doc_id, chunk_id),
         """ + keepFirstChunks)),

    // ---- EXACT substring dedup (Lee et al. 2022 ExactSubstr): every
    //      duplicated >=12-token span removed from all but its first
    //      occurrence, documents reassembled. The corpus is the real
    //      documents table PLUS planted near-copies (docs 0..19 re-keyed
    //      +100000 behind a 2-token prefix) — variable-length duplicated
    //      spans the oracle re-derives from the same construction.
    Query("q_d_substring_dedup", (s, dir) => {
      val d = documents(s, dir).select(col("doc_id"), col("text"))
      val planted = d.unionByName(d.filter(col("doc_id") < 20)
        .select((col("doc_id") + 100000).as("doc_id"),
          concat(lit("planted prefix "), col("text")).as("text")))
        .repartition(s.sparkContext.defaultParallelism)
      llm.Dedup.substringDedup(planted, "doc_id", col("text"), k = 12)
        .orderBy("doc_id")
    },
      // exact substring dedup re-derived: same planted corpus, 12-token
      // windows keyed on the EXACT window string (the engine's xxhash64
      // stage is only a prefilter, so a collision there cannot change the
      // result), first occurrence by (doc_id, pos) canonical, positions
      // under any non-canonical duplicate window dropped, per-doc
      // reassembly in token order
      """WITH corpus AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 100000 AS doc_id,
                  'planted prefix ' || text AS text
           FROM documents WHERE doc_id < 20),
         toks AS (
           SELECT doc_id, string_split(text, ' ') AS t FROM corpus),
         grams AS (
           SELECT doc_id, CAST(i - 1 AS INT) AS pos,
                  array_to_string(t[i:i+11], ' ') AS g
           FROM toks, UNNEST(range(1, len(t) - 12 + 2)) AS r(i)
           WHERE len(t) >= 12),
         marked AS (
           SELECT doc_id, pos,
                  row_number() OVER (PARTITION BY g
                                     ORDER BY doc_id, pos) AS rn,
                  count(*) OVER (PARTITION BY g) AS c
           FROM grams),
         dup AS (SELECT doc_id, pos FROM marked WHERE c > 1 AND rn > 1),
         covered AS (
           SELECT DISTINCT doc_id, pos + o.range AS p
           FROM dup, range(12) o),
         tok AS (
           SELECT doc_id, CAST(i - 1 AS INT) AS p, t[i] AS tk
           FROM toks, UNNEST(range(1, len(t) + 1)) AS r(i)),
         kept AS (
           SELECT tok.doc_id, tok.p, tok.tk
           FROM tok LEFT JOIN covered c
             ON c.doc_id = tok.doc_id AND c.p = tok.p
           WHERE c.p IS NULL),
         agg AS (
           SELECT doc_id, string_agg(tk, ' ' ORDER BY p) AS clean_text,
                  count(*) AS kept_n
           FROM kept GROUP BY doc_id)
         SELECT toks.doc_id,
                coalesce(agg.clean_text, '') AS clean_text,
                CAST(len(toks.t) AS BIGINT) AS total_tokens,
                CAST(len(toks.t) - coalesce(agg.kept_n, 0) AS BIGINT)
                  AS removed_tokens
         FROM toks LEFT JOIN agg ON agg.doc_id = toks.doc_id
         ORDER BY toks.doc_id"""),

    // ---- embedding-cosine near-dup (OR-amplified LSH self-join + exact
    //      verify). Oracle is the exact brute force: sound because the
    //      amplification is sized for THIS threshold — at cos 0.9 the
    //      per-plane agreement is p = 1-acos(0.9)/pi ~= 0.856, and the
    //      16x12 default only reaches ~93% recall here. Of the two ways
    //      to buy recall back, MORE TABLES at full width beats FEWER
    //      BITS: 32x12 gives 1-(1-p^12)^32 ~= 99.6% with candidate mass
    //      n^2 * 32/2^12, 8x cheaper than 16x8's n^2 * 16/2^8 at equal
    //      recall (candidate verify dominates; the extra matvec width is
    //      codegen'd and trivial). False positives are impossible
    //      (exact rescore).
    // ---- SemDeDup: near-dup pairs restricted to k-means cluster
    //      co-membership (fixed init centroids so DuckDB reproduces the
    //      partition; the Lloyd-refined variant is spec-tested).
    //      Threshold 0.45 sits in the data's real pair regime (max
    //      pair cosine in the synthetic embeddings is ~0.51, nearest
    //      off-threshold gap > 1e-3) — the row is NON-vacuous, unlike
    //      a 0.9 threshold on this corpus.
    Query("q_d_semantic_pairs", (s, dir) => {
      val e = spreadEmb(s, dir)
      val cents = llm.Similarity.initCentroids(e, "vec_id", "embedding",
        nlist = 8)
      llm.Dedup.semanticDupPairs(e, "vec_id", "embedding", cents,
          threshold = 0.45)
        .orderBy("cluster", "id_a", "id_b")
    },
      // SemDeDup re-derived: same fixed-centroid assignment idiom as
      // q_s_ivf_fixed, then within-cluster pair cosines only.
      s"""WITH ${cosineCells(8)},
         pairs AS (
           SELECT a.cid AS cluster, a.vec_id AS id_a, b.vec_id AS id_b,
             list_dot_product(CAST(va.embedding AS DOUBLE[]),
                              CAST(vb.embedding AS DOUBLE[])) /
               (sqrt(list_dot_product(CAST(va.embedding AS DOUBLE[]),
                                      CAST(va.embedding AS DOUBLE[]))) *
                sqrt(list_dot_product(CAST(vb.embedding AS DOUBLE[]),
                                      CAST(vb.embedding AS DOUBLE[])))) AS cos
           FROM assign a
           JOIN assign b ON a.cid = b.cid AND a.vec_id < b.vec_id
           JOIN embeddings va ON va.vec_id = a.vec_id
           JOIN embeddings vb ON vb.vec_id = b.vec_id)
         SELECT CAST(cluster AS INT) AS cluster, id_a, id_b,
                round(cos, 6) AS cos
         FROM pairs WHERE cos >= 0.45
         ORDER BY cluster, id_a, id_b"""),

    Query("q_d_embedding_pairs", (s, dir) => {
      val e = spreadEmb(s, dir)
      // planted exact duplicates: ids <8 re-keyed +100000 and scaled by
      // 2.0f — a power-of-two scaling is exact in float and flips no
      // LSH projection sign, so recall of the planted pairs is
      // GUARANTEED (same buckets in every table) and cosine is exactly
      // 1.0 on both engines. Without them this row was green-on-empty:
      // no natural pair in the synthetic corpus clears 0.9.
      val planted = e.select(col("vec_id"), col("embedding"))
        .unionByName(e.filter(col("vec_id") < 8)
          .select((col("vec_id") + 100000L).as("vec_id"),
            transform(col("embedding"), x => (x * lit(2.0f)).cast("float"))
              .as("embedding")))
      llm.Dedup.embeddingNearDups(planted, "vec_id", "embedding",
          threshold = 0.9, numBits = 12, numTables = 32)
        .orderBy("id_a", "id_b")
    },
      // exact brute force over all pairs — tractable at oracle scale, and
      // the engine's OR-amplified LSH is expected to reproduce it exactly
      // (~99.5% per-pair recall; zero false positives by construction)
      """WITH corpus AS (
           SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding
           FROM embeddings
           UNION ALL
           SELECT vec_id + 100000,
                  list_transform(CAST(embedding AS DOUBLE[]), x -> x * 2)
           FROM embeddings WHERE vec_id < 8)
         SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                round(list_dot_product(a.embedding, b.embedding) /
                      (sqrt(list_dot_product(a.embedding, a.embedding)) *
                       sqrt(list_dot_product(b.embedding, b.embedding))), 6)
                  AS cos
         FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
         WHERE list_dot_product(a.embedding, b.embedding) /
               (sqrt(list_dot_product(a.embedding, a.embedding)) *
                sqrt(list_dot_product(b.embedding, b.embedding))) >= 0.9
         ORDER BY id_a, id_b"""),
  )
}
