package graft
package queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables._
import QueryHelpers._

/** Corpus curation and text analysis: language ID, BPE training and
  * apply, quality features and models, decontamination, URL hygiene,
  * PII, sequence packing, the multimodal passes and WET ingest. */
object TextQueries {
  /** Deterministic PNG fixture stream for the `q_mm_*_png` queries: one
    * solid-color image per document, dimensions and color pure
    * functions of doc_id (so the DuckDB oracle predicts the decoded
    * values without ever touching a codec). Encoding happens in the
    * typed pass — the same per-partition batch shape a real ingest
    * codec runs in. */
  private def pngMedia(s: SparkSession, dir: String) = {
    import s.implicits._
    // repartition BEFORE the codec stage: the documents parquet is one
    // tiny file, so the scan plans 1 split — and per-row ImageIO work
    // is CPU-bound, not IO-bound, so that one split would serialize
    // every encode/decode on a single core (measured 7 s -> sub-second
    // at sf0.1). The general rule at any scale: partition count for a
    // compute-heavy per-row stage must track cores, not input bytes.
    documents(s, dir).select(col("doc_id"))
      .repartition(s.sparkContext.defaultParallelism)
      .as[Long].map { id =>
      llm.Multimodal.MediaItem(id, llm.Multimodal.encodePng(
        (id % 31).toInt + 1, (id % 17).toInt + 1,
        ((id * 2654435761L) % 0x1000000L).toInt))
    }
  }

  private def jpegMedia(s: SparkSession, dir: String) = {
    import s.implicits._
    // uniform GRAY payloads (r=g=b): chroma stays exactly 128 through
    // the lossy codec, so the decode probe only sees the luma DC step
    documents(s, dir).select(col("doc_id"))
      .repartition(s.sparkContext.defaultParallelism)
      .as[Long].map { id =>
      val v = ((id * 37) % 256).toInt
      llm.Multimodal.MediaItem(id, llm.Multimodal.encodeJpeg(
        (id % 31).toInt + 1, (id % 17).toInt + 1, v * 0x010101))
    }
  }

  /** Decomposed-form probe for q_t_nfc, spliced verbatim into both the
    * Spark query and the DuckDB oracle: 'e' + combining acute (U+0301)
    * and 'i' + combining diaeresis (U+0308) — NFC composes both, so
    * char counts shrink 13 -> 11 and the md5 changes. */
  private val NfcProbeSuffix = " cafe\u0301 nai\u0308ve"

  /** The logistic quality model replayed end-to-end: hashed 1..2-gram
    * tf features with the portable md5 bucket, `iters` batch-GD rounds
    * as a MATERIALIZED chain (w ← w − Xᵀ(σ(Xw) − y)/n, intercept on
    * reserved bucket −1), then scoring — doubles throughout, round(5)
    * at the end (the pagerankOracleSql numeric policy; exp() agrees to
    * ulps across engines, far inside the rounding). */
  private def qualityModelOracleSql(iters: Int, lr: Double = 8.0): String = {
    val chain = (1 to iters).map { k =>
      s"""         s$k AS MATERIALIZED (
           SELECT f.doc_id, sum(f.x * COALESCE(w.w, 0)) AS s
           FROM fx f LEFT JOIN w${k - 1} w USING (bucket)
           GROUP BY f.doc_id),
         e$k AS MATERIALIZED (
           SELECT s$k.doc_id, 1.0 / (1.0 + exp(-s$k.s)) - yy.y AS e
           FROM s$k JOIN yy USING (doc_id)),
         g$k AS MATERIALIZED (
           SELECT f.bucket, sum(f.x * e$k.e) / nn.n AS g
           FROM fx f JOIN e$k USING (doc_id), nn
           GROUP BY f.bucket, nn.n),
         w$k AS MATERIALIZED (
           SELECT w.bucket, w.w - $lr * COALESCE(g$k.g, 0) AS w
           FROM w${k - 1} w LEFT JOIN g$k USING (bucket))"""
    }.mkString(",\n")
    s"""WITH toks AS (
           SELECT doc_id, string_split_regex(text, '\\s+') AS t
           FROM documents),
         grams AS (
           SELECT doc_id, unnest(t) AS g FROM toks
           UNION ALL
           SELECT doc_id, t[i] || ' ' || t[i + 1] AS g
           FROM toks, unnest(generate_series(1, len(t) - 1)) u(i)),
         fc AS (
           SELECT DISTINCT doc_id,
                  (CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT)
                    % 2147483647) % 1024 AS bucket
           FROM grams),
         fx AS MATERIALIZED (
           SELECT doc_id, bucket, 1.0 AS x FROM fc
           UNION ALL
           SELECT doc_id, CAST(-1 AS BIGINT), 1.0 FROM documents),
         yy AS MATERIALIZED (
           SELECT doc_id,
                  CASE WHEN list_contains(
                    string_split_regex(text, '\\s+'), 'spark')
                  THEN 1.0 ELSE 0.0 END AS y
           FROM documents),
         nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM yy),
         w0 AS MATERIALIZED (
           SELECT DISTINCT bucket, 0.0 AS w FROM fx),
$chain,
         score AS (
           SELECT f.doc_id,
                  1.0 / (1.0 + exp(-sum(f.x * COALESCE(w.w, 0)))) AS p
           FROM fx f LEFT JOIN w$iters w USING (bucket)
           GROUP BY f.doc_id)
         SELECT CAST(doc_id AS BIGINT) AS doc_id,
                round(p, 5) AS p_pos, round(p, 5) > 0.5 AS pred_pos
         FROM score ORDER BY doc_id"""
  }

  /** Unrolled BPE-training replay (the q_osm_pagerank unrolled-CTE
    * policy): stage i counts every adjacent symbol pair of enc_i
    * (overlapping included) weighted by word count, picks the (count
    * DESC, l, r) winner, and rewrites enc_{i+1} by non-overlapping
    * left-to-right string replace over `<sym><sym>`-fenced words —
    * fencing makes symbol boundaries unambiguous, so `replace` is
    * exactly the engine's greedy merge pass. MATERIALIZED throughout
    * (plain CTEs re-inline the whole chain into every stage). */
  private def bpeCtePrefix(nMerges: Int): String =
    bpeCteWith(nMerges, head = """
  words AS MATERIALIZED (
    SELECT word, count(*) AS cnt FROM (
      SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
      FROM documents) GROUP BY word),
  enc0 AS MATERIALIZED (
    SELECT word, cnt,
      '<' || array_to_string(regexp_extract_all(word, '.'), '><') || '>' AS enc
    FROM words)""")

  /** Byte-level variant: pre-tokens from the SAME regex the engine
    * uses (no lookahead — RE2), symbols = UTF-8 bytes as 2-hex-digit
    * strings via hex(encode(word)); the merge stages are shared. */
  private def bpeByteCtePrefix(nMerges: Int): String =
    bpeCteWith(nMerges, head = """
  words AS MATERIALIZED (
    SELECT word, count(*) AS cnt FROM (
      SELECT unnest(regexp_extract_all(lower(text),
        ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9\s]+')) AS word
      FROM documents) GROUP BY word),
  enc0 AS MATERIALIZED (
    SELECT word, cnt,
      '<' || array_to_string(
        regexp_extract_all(hex(encode(word)), '..'), '><') || '>' AS enc
    FROM words)""")

  private def bpeCteWith(nMerges: Int, head: String): String = {
    val stages = (0 until nMerges).map { i =>
      s"""
  pairs$i AS MATERIALIZED (
    SELECT syms[j] AS l, syms[j+1] AS r, sum(cnt) AS c
    FROM (SELECT string_split(trim(enc, '<>'), '><') AS syms, cnt
          FROM enc$i),
         unnest(generate_series(1, len(syms) - 1)) AS u(j)
    GROUP BY 1, 2),
  best$i AS MATERIALIZED (
    SELECT l, r FROM pairs$i ORDER BY c DESC, l, r LIMIT 1),
  enc${i + 1} AS MATERIALIZED (
    SELECT word, cnt,
      replace(enc, '<' || b.l || '><' || b.r || '>',
                   '<' || b.l || b.r || '>') AS enc
    FROM enc$i CROSS JOIN best$i b)"""
    }
    "WITH " + (head +: stages).mkString(",")
  }

  /** Trained merges as (rank, left_sym, right_sym) rows. */
  private def mergeRows(s: SparkSession,
      merges: Seq[(String, String)]): DataFrame = {
    import s.implicits._
    merges.zipWithIndex
      .map { case ((l, r), i) => (i, l, r) }
      .toDF("rank", "left_sym", "right_sym")
      .select(col("rank").cast("int").as("rank"),
        col("left_sym"), col("right_sym"))
      .orderBy("rank")
  }

  /** Per-document token and distinct-token counts of BPE output. */
  private def tokenCounts(tokenized: DataFrame): DataFrame =
    tokenized.select(col("doc_id"),
        size(col("tokens")).cast("long").as("n_tokens"),
        size(array_distinct(col("tokens"))).cast("long").as("n_distinct"))
      .orderBy("doc_id")

  private def bpeTrainOracleSql(nMerges: Int): String = {
    val rows = (0 until nMerges)
      .map(i => s"SELECT $i AS rank, l AS left_sym, r AS right_sym FROM best$i")
      .mkString(" UNION ALL ")
    bpeCtePrefix(nMerges) +
      s" SELECT rank, left_sym, right_sym FROM ($rows) ORDER BY rank"
  }

  private def bpeByteTrainOracleSql(nMerges: Int): String = {
    val rows = (0 until nMerges)
      .map(i => s"SELECT $i AS rank, l AS left_sym, r AS right_sym FROM best$i")
      .mkString(" UNION ALL ")
    bpeByteCtePrefix(nMerges) +
      s" SELECT rank, left_sym, right_sym FROM ($rows) ORDER BY rank"
  }

  private def bpeApplyOracleSql(nMerges: Int): String =
    bpeCtePrefix(nMerges) + s""",
  docw AS MATERIALIZED (
    SELECT doc_id, word, count(*) AS n FROM (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
      FROM documents WHERE doc_id < 20) GROUP BY doc_id, word),
  tok AS (
    SELECT d.doc_id, d.n, unnest(string_split(trim(f.enc, '<>'), '><')) AS sym
    FROM docw d JOIN enc$nMerges f USING (word))
  SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_tokens,
         CAST(count(DISTINCT sym) AS BIGINT) AS n_distinct
  FROM tok GROUP BY doc_id ORDER BY doc_id"""

  private def bpeByteApplyOracleSql(nMerges: Int): String =
    bpeByteCtePrefix(nMerges) + s""",
  docw AS MATERIALIZED (
    SELECT doc_id, word, count(*) AS n FROM (
      SELECT doc_id, unnest(regexp_extract_all(lower(text),
        ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9\\s]+')) AS word
      FROM documents WHERE doc_id < 20) GROUP BY doc_id, word),
  tok AS (
    SELECT d.doc_id, d.n, unnest(string_split(trim(f.enc, '<>'), '><')) AS sym
    FROM docw d JOIN enc$nMerges f USING (word))
  SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_tokens,
         CAST(count(DISTINCT sym) AS BIGINT) AS n_distinct
  FROM tok GROUP BY doc_id ORDER BY doc_id"""

  val all: Seq[Query] = Seq(
    // ---- text analysis: token counting + quality-score features
    Query("q_t_text_stats", (s, dir) => {
      val toks = split(col("text"), " ")
      documents(s, dir)
        .select(col("doc_id"),
          length(col("text")).cast("long").as("nchars"),
          size(toks).cast("long").as("ntokens"),
          size(array_distinct(toks)).cast("long").as("nuniq"),
          round(length(col("text")).cast("double") / size(toks), 4).as("avg_tok_len"))
        .orderBy("doc_id")
    },
      """SELECT doc_id, length(text) AS nchars,
                len(string_split(text, ' ')) AS ntokens,
                len(list_distinct(string_split(text, ' '))) AS nuniq,
                round(CAST(length(text) AS DOUBLE) / len(string_split(text, ' ')), 4) AS avg_tok_len
         FROM documents ORDER BY doc_id"""),

    // ---- language ID by stopword-profile scoring (deterministic formula,
    //      mirrored in the oracle)
    Query("q_t_language_id", (s, dir) => {
      spreadDocs(s, dir)
        .select(col("doc_id"), llm.TextAnalysis.languageId(col("text")).as("pred_lang"))
        .orderBy("doc_id")
    },
      """WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
         s AS (SELECT doc_id,
           len(list_filter(toks, t -> t IN ('the','and','of','to','in','is','that','it','for','with'))) AS en,
           len(list_filter(toks, t -> t IN ('der','die','und','das','ist','nicht','ein','mit','auf','zu'))) AS de,
           len(list_filter(toks, t -> t IN ('el','la','de','que','y','los','en','un','por','con'))) AS es,
           len(list_filter(toks, t -> t IN ('le','la','de','et','les','des','est','un','une','dans'))) AS fr
           FROM d)
         SELECT doc_id, CASE WHEN greatest(en, de, es, fr) <= 0 THEN 'und'
           WHEN de >= greatest(en, es, fr) THEN 'de'
           WHEN en >= greatest(es, fr) THEN 'en'
           WHEN es >= fr THEN 'es' ELSE 'fr' END AS pred_lang
         FROM s ORDER BY doc_id"""),

    // ---- BPE-ish subword pre-tokenizer (regexp_extract_all both sides)
    Query("q_t_bpe_tokens", (s, dir) => {
      val toks = llm.TextAnalysis.bpeishTokens(col("text"))
      spreadDocs(s, dir)
        .select(col("doc_id"), size(toks).cast("long").as("n_bpe"),
          element_at(toks, 1).as("first_tok"),
          element_at(toks, -1).as("last_tok"))
        .orderBy("doc_id")
    },
      """WITH t AS (SELECT doc_id,
                           regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]') AS toks
                    FROM documents)
         SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_bpe,
                toks[1] AS first_tok, toks[-1] AS last_tok
         FROM t ORDER BY doc_id"""),

    // ---- TRAINED BPE (replaces the fixed heuristic of q_t_bpe_tokens
    //      for vocabulary prep): 8 merge rounds of adjacent-pair
    //      counting over the word-frequency table — one hash-agg
    //      shuffle per round (BpeSpec plan audit), vocabulary-sized
    //      loop state, the corpus scanned exactly once (wordCounts).
    //      DuckDB replays training: same overlap-counting pair stats,
    //      same (count DESC, l, r) tie-break, same greedy left-to-right
    //      rewrite (string replace over <>-fenced symbols).
    Query("q_t_bpe_trained", (s, dir) => {
      mergeRows(s, llm.Bpe.trainBpe(
        llm.Bpe.wordCounts(documents(s, dir), "text"), numMerges = 8))
    },
      bpeTrainOracleSql(8)),

    // ---- retokenize with the TRAINED merges (Sennrich apply — rank
    //      order, one greedy pass per merge): per-doc token count and
    //      distinct-token count, vs the oracle's replayed final symbol
    //      table joined back through each doc's word counts.
    Query("q_t_bpe_apply", (s, dir) => {
      val merges = llm.Bpe.trainBpe(
        llm.Bpe.wordCounts(documents(s, dir), "text"), numMerges = 8)
      tokenCounts(llm.Bpe.applyBpe(
        documents(s, dir).filter(col("doc_id") < 20), "doc_id", "text",
        merges))
    },
      bpeApplyOracleSql(8)),

    // ---- BYTE-LEVEL trained BPE (the GPT-2 tokenizer-training shape,
    //      VERDICT r17 item 8): regex pre-tokenization with the space
    //      prefix convention (Bpe.bytePretokens — the GPT-2 pattern
    //      family minus its lookahead clause so RE2/DuckDB replays it),
    //      initial symbols = UTF-8 bytes as 2-hex-digit strings (full
    //      byte fallback — hex-coding plays the byte-to-unicode role),
    //      then the SAME training loop as q_t_bpe_trained. The oracle
    //      replays pre-tokenization (same regex), byte symbolization
    //      (hex(encode(word))), and all 8 merge rounds.
    Query("q_t_bpe_bytelevel", (s, dir) => {
      mergeRows(s, llm.Bpe.trainBpeBytes(
        llm.Bpe.byteWordCounts(documents(s, dir), "text"), numMerges = 8))
    },
      bpeByteTrainOracleSql(8)),

    // ---- retokenize with the trained BYTE-LEVEL merges (the apply
    //      half of the GPT-2 pair): same pre-token regex and hex byte
    //      symbols as training, merges in rank order, one greedy pass
    //      each — a pre-token seen at train time lands on its final
    //      train-time symbols, which is what the oracle's enc8 join
    //      replays.
    Query("q_t_bpe_byteapply", (s, dir) => {
      val merges = llm.Bpe.trainBpeBytes(
        llm.Bpe.byteWordCounts(documents(s, dir), "text"), numMerges = 8)
      tokenCounts(llm.Bpe.applyBpeBytes(
        documents(s, dir).filter(col("doc_id") < 20), "doc_id", "text",
        merges))
    },
      bpeByteApplyOracleSql(8)),

    // ---- token-budget document chunking (pre-training sharding: one
    //      doc -> ordered <=40-token chunks, pure column-op explode)
    Query("q_t_chunks", (s, dir) => {
      llm.TextAnalysis.chunkByTokens(spreadDocs(s, dir), "doc_id",
          col("text"), maxTokens = 40)
        .orderBy("doc_id", "chunk_id")
    },
      """WITH t AS (
           SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM documents),
         c AS (
           SELECT doc_id, CAST(i AS INTEGER) AS chunk_id,
             array_to_string(
               list_slice(toks, i*40 + 1, least((i+1)*40, len(toks))), ' ')
               AS chunk_text,
             CAST(least((i+1)*40, len(toks)) - i*40 AS BIGINT) AS n_tokens
           FROM t, LATERAL unnest(
             range(0, CAST(greatest(ceil(len(toks)/40.0), 1) AS BIGINT))) AS u(i))
         SELECT doc_id, chunk_id, chunk_text, n_tokens FROM c
         ORDER BY doc_id, chunk_id"""),

    // ---- quality features + composite score
    Query("q_t_quality", (s, dir) => {
      val f = llm.TextAnalysis.qualityFeatures(col("text"))
      documents(s, dir)
        .select(col("doc_id"),
          f.getField("punct_ratio").as("punct_ratio"),
          f.getField("digit_ratio").as("digit_ratio"),
          f.getField("stopword_ratio").as("stopword_ratio"),
          llm.TextAnalysis.qualityScore(col("text")).as("score"))
        .orderBy("doc_id")
    },
      """WITH f AS (SELECT doc_id,
           round(len(list_filter(string_split(text, ' '),
                 t -> t IN ('the','a','an','and','or','of','to','in','is','it',
                            'that','for','on','with','as','at','by')))
                 / CAST(len(string_split(text, ' ')) AS DOUBLE), 4) AS stopword_ratio,
           round(length(regexp_replace(text, '[^[:punct:]]', '', 'g'))
                 / CAST(length(text) AS DOUBLE), 4) AS punct_ratio,
           round(length(regexp_replace(text, '[^0-9]', '', 'g'))
                 / CAST(length(text) AS DOUBLE), 4) AS digit_ratio,
           len(string_split(text, ' ')) AS n_tokens,
           len(list_distinct(string_split(text, ' '))) AS n_uniq
           FROM documents)
         SELECT doc_id, punct_ratio, digit_ratio, stopword_ratio,
                round((least(n_tokens / 100.0, 1.0)
                       + n_uniq / CAST(greatest(n_tokens, 1) AS DOUBLE)
                       + greatest(0.0, 1.0 - punct_ratio * 5)) / 3.0, 4) AS score
         FROM f ORDER BY doc_id"""),

    // ---- distributed ridge-regression quality fit (normal equations):
    //      ONE moment aggregation over the corpus (map-side partials,
    //      O(d²) state — scales like count(*)), Cramer solve on the
    //      driver, coefficients broadcast back as literals for
    //      scan-local scoring. Integer-count features make every
    //      moment an exact integer (partition-order independent), and
    //      the solve/scoring expression trees are mirrored
    //      token-for-token in the oracle, so β and every ŷ match
    //      bit-for-bit across engines.
    Query("q_t_quality_fit", (s, dir) => {
      val d = documents(s, dir)
      val chars = length(col("text")).cast("long")
      val toks = size(split(col("text"), " ")).cast("long")
      val vowels = (length(col("text")) -
        length(regexp_replace(col("text"), "[aeiou]", ""))).cast("long")
      val f = llm.Regression.fit2(d, chars, toks, vowels, lambda = 1.0)
      d.select(col("doc_id"), chars.as("chars"), toks.as("toks"),
          vowels.as("vowels"),
          round(llm.Regression.predict2(f, chars, toks), 4).as("yhat"),
          round(vowels.cast("double") -
            llm.Regression.predict2(f, chars, toks), 4).as("resid"))
        .orderBy("doc_id")
    },
      // the same normal-equation fit, computed end-to-end in SQL: integer
      // moments (exact under any order), then Cramer's rule with the
      // IDENTICAL parenthesization Regression.fit2 uses — binary64 ops
      // are deterministic given the same expression tree, so beta and
      // every prediction match the engine bit-for-bit
      """WITH f AS (
           SELECT doc_id,
                  CAST(length(text) AS BIGINT) AS chars,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS toks,
                  CAST(length(text) -
                       length(regexp_replace(text, '[aeiou]', '', 'g'))
                       AS BIGINT) AS vowels
           FROM documents),
         m AS (
           SELECT CAST(count(*) AS DOUBLE) AS a11,
                  CAST(sum(chars) AS DOUBLE) AS a12,
                  CAST(sum(toks) AS DOUBLE) AS a13,
                  CAST(sum(vowels) AS DOUBLE) AS b1,
                  CAST(sum(chars * chars) AS DOUBLE) + 1.0 AS a22,
                  CAST(sum(chars * toks) AS DOUBLE) AS a23,
                  CAST(sum(toks * toks) AS DOUBLE) + 1.0 AS a33,
                  CAST(sum(chars * vowels) AS DOUBLE) AS b2,
                  CAST(sum(toks * vowels) AS DOUBLE) AS b3
           FROM f),
         d AS (
           SELECT a11 * (a22 * a33 - a23 * a23) -
                    a12 * (a12 * a33 - a23 * a13) +
                    a13 * (a12 * a23 - a22 * a13) AS det,
                  b1 * (a22 * a33 - a23 * a23) -
                    a12 * (b2 * a33 - a23 * b3) +
                    a13 * (b2 * a23 - a22 * b3) AS det0,
                  a11 * (b2 * a33 - a23 * b3) -
                    b1 * (a12 * a33 - a23 * a13) +
                    a13 * (a12 * b3 - b2 * a13) AS det1,
                  a11 * (a22 * b3 - b2 * a23) -
                    a12 * (a12 * b3 - b2 * a13) +
                    b1 * (a12 * a23 - a22 * a13) AS det2
           FROM m),
         b AS (
           SELECT det0 / det AS beta0, det1 / det AS beta1,
                  det2 / det AS beta2
           FROM d)
         SELECT doc_id, chars, toks, vowels,
                round(beta0 + beta1 * CAST(chars AS DOUBLE)
                            + beta2 * CAST(toks AS DOUBLE), 4) AS yhat,
                round(CAST(vowels AS DOUBLE) -
                      (beta0 + beta1 * CAST(chars AS DOUBLE)
                             + beta2 * CAST(toks AS DOUBLE)), 4) AS resid
         FROM f, b ORDER BY doc_id"""),

    // ---- Gopher-style named-rule filter: per-rule booleans so drop
    //      rates are auditable per rule; thresholds tuned so the corpus
    //      actually splits on len/stopwords/repetition (not all-true).
    //      Booleans are exact cross-engine: both sides compare the same
    //      integer-count divisions, no rounding tolerance needed.
    Query("q_t_gopher_filter", (s, dir) => {
      llm.Curation.gopherFilter(documents(s, dir), "doc_id", col("text"),
          minTokens = 30, maxTokens = 10000, maxDupTokenFrac = 0.6)
        .orderBy("doc_id")
    },
      """WITH f AS (SELECT doc_id,
           len(string_split(text, ' ')) AS n_tok,
           length(text) AS n_chars,
           length(regexp_replace(text, '[^[:punct:]]', '', 'g')) AS n_punct,
           len(list_filter(string_split(text, ' '),
               t -> t IN ('the','a','an','and','or','of','to','in','is','it',
                          'that','for','on','with','as','at','by'))) AS sw,
           len(list_distinct(string_split(text, ' '))) AS n_uniq
         FROM documents)
         SELECT doc_id,
           n_tok BETWEEN 30 AND 10000 AS ok_len,
           n_chars / CAST(n_tok AS DOUBLE) BETWEEN 3.0 AND 10.0 AS ok_word_len,
           n_punct / CAST(n_chars AS DOUBLE) <= 0.1 AS ok_symbol,
           sw >= 2 AS ok_stopwords,
           (n_tok - n_uniq) / CAST(n_tok AS DOUBLE) <= 0.6 AS ok_repetition,
           (n_tok BETWEEN 30 AND 10000)
             AND (n_chars / CAST(n_tok AS DOUBLE) BETWEEN 3.0 AND 10.0)
             AND (n_punct / CAST(n_chars AS DOUBLE) <= 0.1)
             AND (sw >= 2)
             AND ((n_tok - n_uniq) / CAST(n_tok AS DOUBLE) <= 0.6) AS pass
         FROM f ORDER BY doc_id"""),

    // ---- temperature-scaled domain mixture weights (w ∝ share^alpha,
    //      normalized): one hash agg + two broadcast scalar aggs, never
    //      a window over the corpus
    Query("q_t_mixture_weights", (s, dir) => {
      llm.Curation.mixtureWeights(documents(s, dir), "lang", alpha = 0.5)
        .orderBy("lang")
    },
      """WITH c AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
         p AS (SELECT lang, n_docs,
                 pow(n_docs / CAST((SELECT sum(n_docs) FROM c) AS DOUBLE), 0.5) AS pw
               FROM c)
         SELECT lang, n_docs, round(pw / (SELECT sum(pw) FROM p), 6) AS weight
         FROM p ORDER BY lang"""),

    // ---- corpus-wide top-20 bigrams by raw count (vocabulary stats):
    //      map-side partial agg shrinks the shuffle to the vocabulary;
    //      orderBy.limit plans as TakeOrderedAndProject, not a global
    //      sort (PlanAudit)
    Query("q_t_top_ngrams", (s, dir) => {
      llm.TextAnalysis.topNgrams(spreadDocs(s, dir), col("text"), n = 2, k = 20)
    },
      """WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
         g AS (SELECT t[i] || ' ' || t[i+1] AS gram
               FROM toks, UNNEST(range(1, len(t))) AS r(i))
         SELECT gram, count(*) AS cnt FROM g GROUP BY gram
         ORDER BY cnt DESC, gram LIMIT 20"""),

    // ---- exact heavy hitters at unbounded cardinality (two-pass
    //      Misra-Gries): pass 1 folds each partition into a k-counter
    //      sketch (one O(k) summary crosses the wire, never the
    //      vocabulary); pass 2 recounts the <= k candidates exactly.
    //      Word bigrams: 916 distinct at sf0.01 vs k=700, so the
    //      sketch genuinely decrements/evicts and the no-miss bound
    //      (phi=0.0015 > 1/(k+1)) is what keeps the result exact
    Query("q_t_heavy_hitters", (s, dir) => {
      val toks = spreadDocs(s, dir)
        .select(col("doc_id"),
          posexplode(filter(split(col("text"), " "), w => w =!= ""))
            .as(Seq("pos", "tok")))
      val w = Window.partitionBy("doc_id").orderBy("pos")
      val bigrams = toks
        .withColumn("nxt", lead("tok", 1).over(w))
        .filter(col("nxt").isNotNull)
        .select(concat_ws(" ", col("tok"), col("nxt")).as("item"))
      llm.HeavyHitters.heavyHitters(bigrams, col("item"), k = 700,
          phi = 0.0015)
        .orderBy("item")
    },
      """WITH d2 AS (SELECT list_filter(string_split(text, ' '),
                            x -> x <> '') AS ws FROM documents),
         t AS (SELECT unnest(list_transform(
                        range(1, len(ws)::int)::int[],
                        i -> ws[i] || ' ' || ws[i+1])) AS item FROM d2),
         n AS (SELECT count(*) AS c FROM t)
         SELECT item, count(*) AS cnt
         FROM t, n GROUP BY item, n.c
         HAVING count(*) > n.c * 0.0015
         ORDER BY item"""),

    // ---- per-group exact heavy hitters (the per-language boilerplate
    //      detector): one Misra-Gries sketch per lang (state O(langs*k),
    //      the bigram vocabulary still never shuffles un-sketched),
    //      exact recount of the <= langs*k candidates, threshold
    //      against each group's OWN total
    Query("q_t_heavy_hitters_grp", (s, dir) => {
      val toks = spreadDocs(s, dir)
        .select(col("doc_id"), col("lang"),
          posexplode(filter(split(col("text"), " "), w => w =!= ""))
            .as(Seq("pos", "tok")))
      val w = Window.partitionBy("doc_id").orderBy("pos")
      val bigrams = toks
        .withColumn("nxt", lead("tok", 1).over(w))
        .filter(col("nxt").isNotNull)
        .select(col("lang"),
          concat_ws(" ", col("tok"), col("nxt")).as("item"))
      llm.HeavyHitters.heavyHittersByGroup(bigrams, col("lang"),
          col("item"), k = 400, phi = 0.0025)
        .orderBy("grp", "item")
    },
      """WITH d2 AS (SELECT lang, list_filter(string_split(text, ' '),
                            x -> x <> '') AS ws FROM documents),
         t AS (SELECT lang AS grp,
                      unnest(list_transform(
                        range(1, len(ws)::int)::int[],
                        i -> ws[i] || ' ' || ws[i+1])) AS item FROM d2),
         n AS (SELECT grp, count(*) AS c FROM t GROUP BY grp)
         SELECT grp, item, count(*) AS cnt
         FROM t JOIN n USING (grp)
         GROUP BY grp, item, n.c
         HAVING count(*) > n.c * 0.0025
         ORDER BY grp, item"""),

    // ---- Unicode NFC normalization (native codegen'd expression): the
    //      pre-dedup canonicalization pass — composed vs decomposed
    //      "café" is the same text but a different md5/shingle/minhash.
    //      The corpus is ASCII (NFC-stable), so a shared decomposed
    //      probe suffix is appended on BOTH sides to force real
    //      composition work through both engines' normalizers
    Query("q_t_nfc", (s, dir) => {
      val raw = concat(substring(col("text"), 1, 8), lit(NfcProbeSuffix))
      val norm = call_function("nfc_normalize", raw)
      documents(s, dir)
        .select(col("doc_id"),
          length(raw).cast("long").as("raw_chars"),
          length(norm).cast("long").as("nfc_chars"),
          md5(norm).as("nfc_md5"))
        .orderBy("doc_id")
    },
      // the same decomposed probe goes through DuckDB's nfc_normalize, so
      // both engines' UAX#15 composition is compared end to end
      s"""SELECT doc_id,
           CAST(length(substring(text, 1, 8) || '$NfcProbeSuffix') AS BIGINT) AS raw_chars,
           CAST(length(nfc_normalize(substring(text, 1, 8) || '$NfcProbeSuffix')) AS BIGINT) AS nfc_chars,
           md5(nfc_normalize(substring(text, 1, 8) || '$NfcProbeSuffix')) AS nfc_md5
         FROM documents ORDER BY doc_id"""),

    // ---- deterministic stratified sampling + split assignment: the
    //      md5-coin decisions are reproducible across engines, reruns
    //      and partitionings (rand() is none of those) — verified
    //      bit-for-bit by the DuckDB oracle computing the same coins
    Query("q_t_hash_sample", (s, dir) => {
      val sampled = llm.Curation.sampleByHash(documents(s, dir),
        col("doc_id"), col("lang"),
        Map("en" -> 0.5, "de" -> 0.25, "zh" -> 1.0), defaultRate = 0.1)
      sampled
        .withColumn("split", llm.Curation.splitAssign(col("doc_id")))
        .groupBy("lang", "split").agg(count(lit(1)).as("cnt"))
        .orderBy("lang", "split")
    },
      """WITH u AS (
           SELECT doc_id, lang,
                  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                    / 4294967296.0 AS coin,
                  CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.25
                            WHEN 'zh' THEN 1.0 ELSE 0.1 END AS rate
           FROM documents),
         s AS (
           SELECT lang,
                  CASE WHEN coin < 0.8 THEN 'train'
                       WHEN coin < 0.9 THEN 'val'
                       ELSE 'test' END AS split
           FROM u WHERE coin < rate)
         SELECT lang, split, count(*) AS cnt
         FROM s GROUP BY lang, split ORDER BY lang, split"""),

    // ---- top TF-IDF term per doc (two hash aggs on the doc-term axis,
    //      broadcast df join-back, scalar-agg corpus size — no OVER ())
    Query("q_t_tfidf", (s, dir) => {
      llm.TextAnalysis.tfidfTopTerms(spreadDocs(s, dir), "doc_id",
          col("text"), k = 1)
        .orderBy("doc_id")
    },
      """WITH terms AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS t
           FROM documents),
         tf AS (SELECT doc_id, t, count(*) AS tf FROM terms GROUP BY doc_id, t),
         dfreq AS (SELECT t, count(DISTINCT doc_id) AS df FROM terms GROUP BY t),
         n AS (SELECT count(*) AS n FROM documents),
         scored AS (
           SELECT tf.doc_id, tf.t AS term,
                  round(tf.tf * ln((n.n + 1) / CAST(df.df + 1 AS DOUBLE)), 4) AS tfidf,
                  row_number() OVER (PARTITION BY tf.doc_id
                    ORDER BY tf.tf * ln((n.n + 1) / CAST(df.df + 1 AS DOUBLE)) DESC,
                             tf.t) AS rn
           FROM tf JOIN dfreq df ON tf.t = df.t, n)
         SELECT doc_id, term, tfidf FROM scored
         WHERE rn = 1 ORDER BY doc_id"""),

    // ---- fixed-size deterministic per-stratum sample: the 10 smallest
    //      md5 coins per lang — reservoir sampling's reproducible twin
    Query("q_t_stratified_fixed", (s, dir) => {
      llm.Curation.sampleFixedPerStratum(documents(s, dir),
          col("doc_id"), col("lang"), n = 10)
        .select("doc_id", "lang", "source")
        .orderBy("lang", "doc_id")
    },
      """WITH u AS (
           SELECT doc_id, lang, source,
                  row_number() OVER (
                    PARTITION BY lang
                    ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                               / 4294967296.0, doc_id) AS rn
           FROM documents)
         SELECT doc_id, lang, source FROM u
         WHERE rn <= 10 ORDER BY lang, doc_id"""),

    // ---- benchmark decontamination: every doc sharing any word 8-gram
    //      with the benchmark subset (doc_id % 97 == 0) is dropped;
    //      broadcast semi-join of the tiny gram set, anti-join back
    // ---- fastText-style quality classifier: hashed 1..2-gram features
    //      (portable md5 buckets), batch-GD logistic regression, every
    //      doc scored — the CCNet filter shape. Label = "mentions
    //      spark" (the one text-DERIVED signal the synthetic corpus
    //      carries; its `lang` column is vocabulary-independent noise,
    //      which a classifier correctly refuses to learn — spec-gated
    //      non-vacuous: accuracy must beat the class prior). The
    //      oracle replays features + all 24 gradient rounds + scoring
    //      in doubles, round(5) absorbing exp() ulps.
    Query("q_t_quality_model", (s, dir) => {
      val d = spreadDocs(s, dir)
      // checkpoint the featurization: it feeds the fit AND two branches
      // of the scoring plan (features + the intercept's distinct-ids) —
      // uncheckpointed, the explode+md5+agg pass ran 3x per query
      val feats = llm.Regression.hashedNgramFeatures(
        d, "doc_id", col("text"), dim = 1024, binary = true)
        .localCheckpoint(true)
      val labels = d.select(col("doc_id"),
        array_contains(llm.TextAnalysis.tokens(col("text")), "spark")
          .cast("int").as("y"))
      val w = llm.Regression.fitLogistic(feats, "doc_id", labels, "y",
        iters = 24, lr = 8.0)
      llm.Regression.predictLogistic(feats, "doc_id", w)
        .select(col("doc_id"), round(col("p"), 5).as("p_pos"),
          (round(col("p"), 5) > 0.5).as("pred_pos"))
        .orderBy("doc_id")
    },
      qualityModelOracleSql(24)),

    // ---- the batch curation pipeline END-TO-END: gopher quality gate →
    //      language ID → exact dedup (min doc_id per content hash) →
    //      benchmark decontamination → per-language stratified sampling
    //      + split assignment — every stage a previously-oracled
    //      operator, composed here so the CROSS-STAGE dataflow is also
    //      value-checked (the oracle replays the whole chain). Scale
    //      shape: union of the stages' own shapes — scan-local filters,
    //      one hash-agg, two semi/anti joins, no window, no collect.
    Query("q_t_pipeline", (s, dir) => {
      val d = spreadDocs(s, dir)
      // scan-local gopher gate (same survivors as the audit-table
      // join-back — doc_id is unique — minus one scan of d and a join)
      val passing = d.filter(llm.Curation.gopherPass(col("text"),
        minTokens = 30, maxTokens = 10000, maxDupTokenFrac = 0.6))
      val lang = passing.withColumn("pred_lang",
        llm.TextAnalysis.languageId(col("text")))
      val keepers = llm.Dedup.exactDedup(lang, "doc_id", md5(col("text")))
        .select(col("keeper").as("doc_id"))
      val deduped = lang.join(keepers, Seq("doc_id"))
      val benchmark = d.filter(col("doc_id") % 97 === 0)
      val cleaned = llm.Curation.decontaminate(deduped, benchmark,
        "doc_id", col("text"), n = 8)
      val sampled = llm.Curation.sampleByHash(cleaned, col("doc_id"),
        col("pred_lang"), Map("en" -> 0.7, "und" -> 0.3),
        defaultRate = 0.5)
      // split coin SALTED away from the sampling coin: with the same
      // key both decisions correlate (every sampling survivor has
      // coin < 0.7, so split would read 'train' for all of them)
      sampled.select(col("doc_id"), col("pred_lang"),
          llm.Curation.splitAssign(
            concat(col("doc_id").cast("string"), lit(":split")))
            .as("split"))
        .orderBy("doc_id")
    },
      // the full curation chain replayed stage-for-stage (each fragment is
      // the corresponding single-op oracle's, re-scoped to the previous
      // stage's survivors)
      """WITH f AS (
           SELECT doc_id, text,
                  len(string_split(text, ' ')) AS n_tok,
                  length(text) AS n_chars,
                  length(regexp_replace(text, '[^[:punct:]]', '', 'g')) AS n_punct,
                  len(list_filter(string_split(text, ' '),
                    t -> t IN ('the','a','an','and','or','of','to','in','is',
                               'it','that','for','on','with','as','at','by'))) AS sw,
                  len(list_distinct(string_split(text, ' '))) AS n_uniq
           FROM documents),
         passed AS (
           SELECT doc_id, text FROM f
           WHERE n_tok BETWEEN 30 AND 10000
             AND n_chars / CAST(n_tok AS DOUBLE) BETWEEN 3.0 AND 10.0
             AND n_punct / CAST(n_chars AS DOUBLE) <= 0.1
             AND sw >= 2
             AND (n_tok - n_uniq) / CAST(n_tok AS DOUBLE) <= 0.6),
         lang AS (
           SELECT doc_id, text,
                  CASE WHEN greatest(en, de, es, fr) <= 0 THEN 'und'
                       WHEN de >= greatest(en, es, fr) THEN 'de'
                       WHEN en >= greatest(es, fr) THEN 'en'
                       WHEN es >= fr THEN 'es' ELSE 'fr' END AS pred_lang
           FROM (
             SELECT doc_id, text,
               len(list_filter(string_split(lower(text), ' '),
                 t -> t IN ('the','and','of','to','in','is','that','it','for','with'))) AS en,
               len(list_filter(string_split(lower(text), ' '),
                 t -> t IN ('der','die','und','das','ist','nicht','ein','mit','auf','zu'))) AS de,
               len(list_filter(string_split(lower(text), ' '),
                 t -> t IN ('el','la','de','que','y','los','en','un','por','con'))) AS es,
               len(list_filter(string_split(lower(text), ' '),
                 t -> t IN ('le','la','de','et','les','des','est','un','une','dans'))) AS fr
             FROM passed)),
         keepers AS (
           SELECT min(doc_id) AS doc_id FROM lang GROUP BY md5(text)),
         dd AS (
           SELECT l.doc_id, l.text, l.pred_lang
           FROM lang l JOIN keepers k ON l.doc_id = k.doc_id),
         btoks AS (SELECT string_split(text, ' ') AS t FROM documents
                   WHERE doc_id % 97 = 0),
         bgrams AS (SELECT DISTINCT array_to_string(t[i:i+7], ' ') AS g
                    FROM btoks,
                         UNNEST(range(1, greatest(len(t) - 6, 2))) AS r(i)),
         dtoks AS (SELECT doc_id, string_split(text, ' ') AS t FROM dd),
         dirty AS (SELECT DISTINCT doc_id
                   FROM dtoks,
                        UNNEST(range(1, greatest(len(t) - 6, 2))) AS r(i)
                   WHERE array_to_string(t[i:i+7], ' ')
                     IN (SELECT g FROM bgrams)),
         clean AS (SELECT doc_id, pred_lang FROM dd
                   WHERE doc_id NOT IN (SELECT doc_id FROM dirty)),
         final AS (
           SELECT doc_id, pred_lang,
                  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                    / 4294967296.0 AS coin,
                  ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':split'),
                    1, 8))::BIGINT / 4294967296.0 AS scoin
           FROM clean)
         SELECT doc_id, pred_lang,
                CASE WHEN scoin < 0.8 THEN 'train'
                     WHEN scoin < 0.9 THEN 'val' ELSE 'test' END AS split
         FROM final
         WHERE coin < CASE pred_lang WHEN 'en' THEN 0.7
                      WHEN 'und' THEN 0.3 ELSE 0.5 END
         ORDER BY doc_id"""),

    Query("q_t_decontam", (s, dir) => {
      val d = spreadDocs(s, dir)
      val benchmark = d.filter(col("doc_id") % 97 === 0)
      llm.Curation.decontaminate(d, benchmark, "doc_id", col("text"), n = 8)
        .groupBy("lang").agg(count(lit(1)).as("kept"))
        .orderBy("lang")
    },
      decontamOracle),

    // ---- Bloom-prefiltered decontamination: same fixture and SAME
    //      oracle as q_t_decontam — the bloom is a scan-local
    //      prefilter whose false positives die in the exact verify
    //      join, so the result is bit-identical by construction; what
    //      changes is the scale path (bench grams shipped as a
    //      ~14-bit/gram filter instead of a broadcast string relation)
    Query("q_t_decontam_bloom", (s, dir) => {
      val d = spreadDocs(s, dir)
      val benchmark = d.filter(col("doc_id") % 97 === 0)
      llm.Curation.decontaminateBloom(d, benchmark, "doc_id", col("text"),
          n = 8)
        .groupBy("lang").agg(count(lit(1)).as("kept"))
        .orderBy("lang")
    },
      // bloom prefilter + exact verify == exact decontamination (FPs die
      // in the verify join), so the oracle is q_t_decontam's verbatim
      decontamOracle),

    // ---- Thresholded (fractional-overlap) decontamination: the
    //      benchmark is a 20-word PREFIX EXCERPT of every 97th doc, so
    //      each source doc shares exactly 13 of its distinct 8-grams
    //      and the overlap FRACTION varies with doc length (measured
    //      0.19..0.81 at sf0.01). maxOverlapFrac = 0.4 splits them —
    //      short heavy-overlap docs drop, long light-overlap docs
    //      survive — which is precisely the over-dropping the binary
    //      any-gram rule can't avoid
    Query("q_t_decontam_overlap", (s, dir) => {
      val d = spreadDocs(s, dir)
      val benchmark = d.filter(col("doc_id") % 97 === 0)
        .select(col("doc_id"),
          array_join(slice(split(col("text"), " "), 1, 20), " ").as("text"))
      llm.Curation.decontaminateOverlap(d, benchmark, "doc_id", col("text"),
          n = 8, maxOverlapFrac = 0.4)
        .groupBy("lang").agg(count(lit(1)).as("kept"))
        .orderBy("lang")
    },
      // fractional rule replayed literally: distinct grams per doc,
      // hits vs the excerpt-benchmark gram set, drop iff hits > tot*0.4
      """WITH toks AS (SELECT doc_id, lang, string_split(text, ' ') AS t
                       FROM documents),
         grams AS (
           SELECT DISTINCT doc_id, array_to_string(t[i:i+7], ' ') AS g
           FROM toks,
                UNNEST(range(1, greatest(len(t) - 6, 2))) AS r(i)),
         benchtoks AS (SELECT t[1:20] AS bt FROM toks WHERE doc_id % 97 = 0),
         bench AS (
           SELECT DISTINCT array_to_string(bt[i:i+7], ' ') AS g
           FROM benchtoks,
                UNNEST(range(1, greatest(len(bt) - 6, 2))) AS r(i)),
         stats AS (
           SELECT doc_id, count(*) AS tot,
                  count(CASE WHEN g IN (SELECT g FROM bench)
                             THEN 1 END) AS hits
           FROM grams GROUP BY doc_id),
         dirty AS (SELECT doc_id FROM stats WHERE hits > tot * 0.4)
         SELECT lang, count(*) AS kept
         FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM dirty)
         GROUP BY lang ORDER BY lang"""),

    // ---- URL canonicalization (C4-style web hygiene): a maximally
    //      messy deterministic URL per doc (mixed case, www, default
    //      port, utm params, trailing slash, fragment) through the
    //      RE2-safe regexp fold; the oracle replays the identical
    //      rewrites in DuckDB, string-exact
    Query("q_t_url_normalize", (s, dir) => {
      val url = concat(lit("HTTPS://WWW."), upper(col("source")),
        lit(".Example.COM:443/Docs/"), col("doc_id"),
        lit("/?utm_source=feed&utm_campaign=a1&id="), col("doc_id"),
        lit("#sec2"))
      val norm = llm.Curation.normalizeUrl(url)
      documents(s, dir).select(col("doc_id"), norm.as("url_norm"),
          llm.Curation.registeredDomain(norm).as("domain"))
        .orderBy("doc_id")
    },
      // same RE2 rewrites replayed in DuckDB (only the repeatable utm
      // pass needs the 'g' flag — DuckDB replaces first-match by
      // default, Spark all; the two '?'-anchored passes match at most
      // once since a URL has one '?')
      """WITH u AS (
           SELECT doc_id,
             'HTTPS://WWW.' || upper(source) || '.Example.COM:443/Docs/'
               || doc_id || '/?utm_source=feed&utm_campaign=a1&id='
               || doc_id || '#sec2' AS url
           FROM documents),
         n1 AS (SELECT doc_id, regexp_replace(url, '#.*', '') AS nf FROM u),
         n2 AS (SELECT doc_id, nf,
                  regexp_extract(nf,
                    '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*') AS rawauth
                FROM n1),
         n3 AS (SELECT doc_id,
                  regexp_replace(regexp_replace(lower(rawauth),
                    '://www\.', '://'), ':(80|443)$', '') AS auth,
                  substr(nf, length(rawauth) + 1) AS rest
                FROM n2),
         n4 AS (SELECT doc_id, auth,
                  regexp_replace(regexp_replace(regexp_replace(
                    regexp_replace(regexp_replace(regexp_replace(
                      rest, '&utm_[a-z]+=[^&]*', '', 'g'),
                      '\?utm_[a-z]+=[^&]*&', '?'),
                      '\?utm_[a-z]+=[^&]*$', ''),
                    '[?&]+$', ''), '/+\?', '?'), '/+$', '') AS tidy
                FROM n3)
         SELECT doc_id, auth || tidy AS url_norm,
           regexp_extract(
             regexp_extract(auth || tidy, '://([^/:?#]*)', 1),
             '[^.]*\.[^.]*$') AS domain
         FROM n4 ORDER BY doc_id"""),

    // ---- URL-keyed dedup: docs 0..249 carry the clean URL form,
    //      250..499 the messy twin of the SAME page (www + port +
    //      trailing slash); only canonicalization makes them collide.
    //      Survivor per key = longest text, tie → smallest id. The
    //      oracle derives the canonical key independently (it knows
    //      both forms normalize to the clean one) — different
    //      formulation, same rows
    Query("q_t_url_dedup", (s, dir) => {
      val cls = col("doc_id") % 250
      val url = concat(
        when(col("doc_id") < 250, lit("https://example.com/p/"))
          .otherwise(lit("HTTPS://WWW.EXAMPLE.COM:443/p/")),
        cls,
        when(col("doc_id") < 250, lit("")).otherwise(lit("/")))
      llm.Curation.dedupByUrl(documents(s, dir), url,
          Seq(col("n_chars").desc, col("doc_id")))
        .select("doc_id", "n_chars")
        .orderBy("doc_id")
    },
      // independent formulation: the oracle knows both URL forms
      // canonicalize to the clean one, so it builds the key directly
      """WITH u AS (
           SELECT doc_id, n_chars,
                  'https://example.com/p/' || (doc_id % 250) AS un
           FROM documents),
         rk AS (
           SELECT doc_id, n_chars,
                  row_number() OVER (PARTITION BY un
                    ORDER BY n_chars DESC, doc_id) AS rn
           FROM u)
         SELECT doc_id, n_chars FROM rk WHERE rn = 1 ORDER BY doc_id"""),

    // ---- domain blocklist filter: per-doc host www.<source>.net →
    //      registered domain <source>.net; a 3-domain blocklist
    //      broadcast anti-joins the corpus (UT1-style blocklists are
    //      corpus-independent, so the broadcast is a contract like
    //      decontaminate's). Blocked sources vanish from the rollup
    Query("q_t_domain_filter", (s, dir) => {
      import s.implicits._
      val url = concat(lit("https://WWW."), col("source"), lit(".net/a/"),
        col("doc_id"))
      val block = Seq("src3.net", "src7.net", "src15.net").toDF("domain")
      llm.Curation.domainBlocklistFilter(documents(s, dir), url, block)
        .groupBy("source").agg(count(lit(1)).as("kept"))
        .orderBy("source")
    },
      // independent formulation: www.<source>.net registers as
      // <source>.net, so blocking {src3,src7,src15}.net is a NOT IN on
      // source
      """SELECT source, count(*) AS kept FROM documents
         WHERE source NOT IN ('src3', 'src7', 'src15')
         GROUP BY source ORDER BY source"""),

    // ---- CCNet-style corpus-LM quality score: add-k bigram model fit
    //      on the corpus itself (two vocabulary-sized hash aggs from
    //      ONE gram explode), each doc scored by mean bigram ln-prob.
    //      Only the final mean is float → round(4) is the whole
    //      cross-engine tolerance story
    Query("q_t_lm_score", (s, dir) => {
      llm.TextAnalysis.ngramLmScore(spreadDocs(s, dir), "doc_id",
          col("text"), k = 0.5)
        .orderBy("doc_id")
    },
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
                       FROM documents),
         gr AS (SELECT doc_id, t[i] || ' ' || t[i+1] AS g
                FROM toks, UNNEST(range(1, len(t))) AS r(i)),
         bi AS (SELECT g, count(*) AS c2 FROM gr GROUP BY g),
         bi2 AS (SELECT g, c2, string_split(g, ' ')[1] AS w1 FROM bi),
         ctx AS (SELECT w1, sum(c2) AS c1 FROM bi2 GROUP BY w1),
         v AS (SELECT count(*) AS v FROM ctx)
         SELECT gr.doc_id, count(*) AS n_bigrams,
                round(avg(ln((bi2.c2 + 0.5) / (ctx.c1 + 0.5 * v.v))), 4)
                  AS lm_score
         FROM gr JOIN bi2 USING (g) JOIN ctx USING (w1), v
         GROUP BY gr.doc_id ORDER BY gr.doc_id"""),

    // ---- within-doc repetition (Gopher-style boilerplate filter):
    //      one-pass native RepetitionStats expression — scan-local, NOT
    //      an explode+groupBy (which would shuffle the whole corpus on
    //      (doc, bigram) at 100 TB); the struct is materialized in its
    //      own projection so it is computed ONCE per row (CollapseProject
    //      won't inline a non-cheap alias referenced twice); the oracle
    //      computes the same numbers relationally
    Query("q_t_repetition", (s, dir) => {
      documents(s, dir)
        .withColumn("__f", llm.TextAnalysis.repetitionFeatures(col("text")))
        .select(col("doc_id"),
          col("__f").getField("dup_token_frac").as("dup_token_frac"),
          col("__f").getField("top_bigram_frac").as("top_bigram_frac"))
        .orderBy("doc_id")
    },
      // relational mirror of the scan-local sorted-run fold: max per-doc
      // bigram count == longest equal-adjacent run in the sorted array
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
                       FROM documents),
         bg AS (SELECT doc_id, t[i] || ' ' || t[i+1] AS g
                FROM toks, UNNEST(range(1, len(t))) AS r(i)),
         cnt AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY doc_id, g),
         top AS (SELECT doc_id, max(c) AS best, sum(c) AS nbg
                 FROM cnt GROUP BY doc_id)
         SELECT d.doc_id,
                round((len(t) - len(list_distinct(t)))
                      / CAST(len(t) AS DOUBLE), 4) AS dup_token_frac,
                COALESCE(round(best / CAST(nbg AS DOUBLE), 4), 0.0)
                  AS top_bigram_frac
         FROM toks d LEFT JOIN top ON d.doc_id = top.doc_id
         ORDER BY d.doc_id"""),

    // ---- PII redaction + audit counts over a deterministically
    //      enriched column (the synthetic corpus has no PII, so both
    //      engines splice identical email/IP/phone strings in before
    //      the regexes run — the counts are then provably non-zero)
    Query("q_t_pii", (s, dir) => {
      val enriched = concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com via 10.0."),
        pmod(col("doc_id"), lit(256)).cast("string"),
        lit(".7 tel 555-"),
        lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"))
      val counts = llm.Curation.piiCounts(enriched)
      documents(s, dir)
        .select(col("doc_id"),
          counts.getField("n_email").as("n_email"),
          counts.getField("n_ipv4").as("n_ipv4"),
          counts.getField("n_phone").as("n_phone"),
          llm.Curation.redactPii(enriched).as("redacted"))
        .orderBy("doc_id")
    },
      """WITH e AS (SELECT doc_id,
           text || ' contact user' || CAST(doc_id AS VARCHAR)
                || '@example.com via 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                || '.7 tel 555-'
                || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS x
           FROM documents)
         SELECT doc_id,
           CAST(len(regexp_extract_all(x,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
             AS n_email,
           CAST(len(regexp_extract_all(x,
             '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ipv4,
           CAST(len(regexp_extract_all(x, '\b\d{3}-\d{4}\b')) AS BIGINT)
             AS n_phone,
           regexp_replace(regexp_replace(regexp_replace(x,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
             '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IPV4]', 'g'),
             '\b\d{3}-\d{4}\b', '[PHONE]', 'g') AS redacted
         FROM e ORDER BY doc_id"""),

    // ---- GPT-style sequence packing: global token offsets without a
    //      global window — per-block running sums + a tiny block-prefix
    //      relation broadcast back (no single-partition stage over the
    //      corpus); the oracle IS the global window, proving the
    //      block-decomposed form computes identical offsets
    Query("q_t_packing", (s, dir) => {
      val d = spreadDocs(s, dir)
      llm.Curation.packSequences(d, "doc_id",
          llm.TextAnalysis.tokenCount(col("text")), seqLen = 512,
          blockSize = 64L)
        .orderBy("doc_id")
    },
      // the oracle IS the textbook global running sum; the engine computes
      // it block-decomposed — identical offsets prove the decomposition
      """WITH t AS (SELECT doc_id,
                           CAST(len(string_split(text, ' ')) AS BIGINT) AS n
                    FROM documents),
         o AS (SELECT doc_id, n,
                 COALESCE(CAST(sum(n) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS BIGINT), 0) AS start_tok
               FROM t)
         SELECT doc_id, n AS n_tokens, start_tok,
                start_tok // 512 AS seq_first,
                (start_tok + greatest(n, 1) - 1) // 512 AS seq_last
         FROM o ORDER BY doc_id"""),

    // ---- per-slice packing manifest: the (seq, doc, doc_off, seq_off,
    //      len) rows a sample writer consumes; slice algebra is
    //      scan-local on top of q_t_packing's block-decomposed offsets
    //      (zero added shuffles), and the oracle re-derives every slice
    //      from the textbook global window
    Query("q_t_pack_slices", (s, dir) => {
      val d = spreadDocs(s, dir)
      llm.Curation.packSlices(d, "doc_id",
          llm.TextAnalysis.tokenCount(col("text")), seqLen = 512,
          blockSize = 64L)
        .orderBy("seq_id", "seq_off")
    },
      """WITH t AS (SELECT doc_id,
                           CAST(len(string_split(text, ' ')) AS BIGINT) AS n
                    FROM documents),
         o AS (SELECT doc_id, n,
                 COALESCE(CAST(sum(n) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS BIGINT), 0) AS start_tok
               FROM t),
         s AS (SELECT doc_id, n, start_tok,
                 unnest(generate_series(start_tok // 512,
                                        (start_tok + n - 1) // 512)) AS seq_id
               FROM o WHERE n > 0)
         SELECT seq_id, doc_id,
                greatest(start_tok, seq_id * 512) - start_tok AS doc_off,
                greatest(start_tok, seq_id * 512) - seq_id * 512 AS seq_off,
                least(start_tok + n, (seq_id + 1) * 512)
                  - greatest(start_tok, seq_id * 512) AS len
         FROM s ORDER BY seq_id, seq_off"""),

    // ---- no-split bin packing (fine-tuning shape): whole documents
    //      into capacity-512 bins, next-fit in id order inside
    //      deterministic 64-doc blocks — one keyed shuffle + a
    //      codegen'd aggregate fold per block; the oracle replays the
    //      identical walk as a rank-stepped recursive CTE
    Query("q_t_pack_bins", (s, dir) => {
      val d = spreadDocs(s, dir)
      llm.Curation.packBinsNextFit(d, "doc_id",
          llm.TextAnalysis.tokenCount(col("text")), seqLen = 512,
          blockSize = 64L)
        .orderBy("doc_id")
    },
      // next-fit replayed literally: rank r joins rank r-1's open-bin
      // state, every block advancing in the same recursion step
      """WITH RECURSIVE t AS (
           SELECT doc_id,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
                  doc_id // 64 AS b,
                  row_number() OVER (PARTITION BY doc_id // 64
                                     ORDER BY doc_id) AS r
           FROM documents),
         walk AS (
           SELECT b, r, doc_id, n, n AS fill, CAST(0 AS BIGINT) AS bin
           FROM t WHERE r = 1
           UNION ALL
           SELECT t.b, t.r, t.doc_id, t.n,
                  CASE WHEN w.fill > 0 AND w.fill + t.n > 512
                       THEN t.n ELSE w.fill + t.n END,
                  CASE WHEN w.fill > 0 AND w.fill + t.n > 512
                       THEN w.bin + 1 ELSE w.bin END
           FROM walk w JOIN t ON t.b = w.b AND t.r = w.r + 1)
         SELECT doc_id, b * 64 + bin AS bin_id, n AS n_tokens
         FROM walk ORDER BY doc_id"""),

    // ---- histogram-driven BFD packing (the Graphcore sequence-packing
    //      shape): solve once on the <=512-row length histogram, place
    //      every doc by decomposed-rank arithmetic + one broadcast
    //      strategy join. Assignment is solver-dependent, so the gate
    //      is literal-truth (q_s_pca policy): every invariant of a
    //      correct packing must hold — coverage, capacity, oversize
    //      isolation, and beating the blockwise next-fit (59 vs 61
    //      bins at sf0.01, token lower bound 54; the 11/9 proxy bound
    //      is fixture-witnessed with 8 bins of headroom)
    Query("q_t_pack_bfd", (s, dir) => {
      val d = spreadDocs(s, dir)
      val nTok = llm.TextAnalysis.tokenCount(col("text"))
      val dpos = d.filter(nTok >= 1)
      val asg = llm.Curation.packBinsHistogram(d, "doc_id", nTok,
        seqLen = 512, blockSize = 64L)
      val nf = llm.Curation.packBinsNextFit(dpos, "doc_id", nTok,
        seqLen = 512, blockSize = 64L)
      val docsAgg = dpos.agg(
        count(lit(1)).as("n_docs"),
        sum(when(nTok > 512, 1L).otherwise(0L)).as("n_oversize"),
        sum(nTok).as("total_tokens"))
      val binsAgg = asg
        .groupBy("bin_id").agg(sum("n_tokens").as("fill"),
          count(lit(1)).as("ndoc"), max("n_tokens").as("mx"))
        .agg(count(lit(1)).as("bins_used"),
          sum(when(col("fill") > 512 && col("ndoc") > 1, 1L)
            .otherwise(0L)).as("bad_bins"),
          sum(when(col("mx") > 512, 1L).otherwise(0L)).as("over_bins"),
          sum(when(col("mx") > 512 && col("ndoc") > 1, 1L)
            .otherwise(0L)).as("shared_over"),
          sum(when(col("mx") <= 512, col("fill")).otherwise(0L))
            .as("tok_normal"))
      val asgAgg = asg.agg(count(lit(1)).as("n_asg"),
        countDistinct("doc_id").as("n_asg_docs"))
      val nfAgg = nf.agg(countDistinct("bin_id").as("nf_bins"))
      docsAgg.crossJoin(binsAgg).crossJoin(asgAgg).crossJoin(nfAgg)
        .select(col("n_docs"), col("n_oversize"), col("total_tokens"),
          (col("n_asg") === col("n_docs") &&
            col("n_asg_docs") === col("n_docs")).as("ok_coverage"),
          (col("bad_bins") === 0L).as("ok_capacity"),
          (col("over_bins") === col("n_oversize") &&
            col("shared_over") === 0L).as("ok_oversize_isolated"),
          (col("bins_used") <= col("nf_bins")).as("ok_beats_nextfit"),
          ((col("bins_used") - col("over_bins")).cast("double") <=
            ceil(col("tok_normal") / lit(512.0) * lit(11.0 / 9.0)) + 1.0)
            .as("ok_bfd_bound"))
    },
      // literal-truth gate (q_s_pca policy): the packing invariants must
      // all hold; the computable columns pin the corpus the solve saw
      """SELECT CAST(count(*) AS BIGINT) AS n_docs,
                CAST(count(*) FILTER (WHERE n > 512) AS BIGINT)
                  AS n_oversize,
                CAST(sum(n) AS BIGINT) AS total_tokens,
                true AS ok_coverage, true AS ok_capacity,
                true AS ok_oversize_isolated, true AS ok_beats_nextfit,
                true AS ok_bfd_bound
         FROM (SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n
               FROM documents) WHERE n >= 1"""),

    // ---- multimodal decode through the typed mapPartitions pass
    Query("q_mm_decode", (s, dir) => {
      implicit val sp: SparkSession = s
      val media = llm.Multimodal.asMedia(
        documents(s, dir), "doc_id", "text")
      llm.Multimodal.decode(media).toDF()
        .select(col("doc_id"), col("byte_len"),
          col("meta.width").as("width"), col("meta.height").as("height"),
          col("meta.frames").as("frames"), col("meta.format").as("format"))
        .orderBy("doc_id")
    },
      """SELECT doc_id,
                octet_length(CAST(text AS BLOB)) AS byte_len,
                CAST(octet_length(CAST(text AS BLOB)) % 1024 AS INT) AS width,
                CAST((octet_length(CAST(text AS BLOB)) * 7) % 768 AS INT) AS height,
                CAST(octet_length(CAST(text AS BLOB)) % 30 + 1 AS INT) AS frames,
                CASE WHEN octet_length(CAST(text AS BLOB)) % 2 = 0
                     THEN 'even' ELSE 'odd' END AS format
         FROM documents ORDER BY doc_id"""),

    // ---- multimodal plumbing: opaque binary payload column + typed
    //      metadata, exercised through the binary type end-to-end
    Query("q_mm_binary_meta", (s, dir) => {
      documents(s, dir)
        .select(col("doc_id"), col("text").cast("binary").as("payload"))
        .select(col("doc_id"),
          length(col("payload")).cast("long").as("byte_len"),
          md5(col("payload")).as("payload_md5"))
        .orderBy("doc_id")
    },
      """SELECT doc_id, octet_length(CAST(text AS BLOB)) AS byte_len,
                md5(text) AS payload_md5
         FROM documents ORDER BY doc_id"""),

    // ---- multimodal frame sampling: payload split into n byte-chunks
    //      via binary substring, pure column ops (a video pipeline
    //      decodes each chunk downstream). Frames are fingerprinted via
    //      their hex image (DuckDB's md5 is VARCHAR-only), byte-exact
    //      on both sides including multi-byte UTF-8 payloads
    Query("q_mm_frames", (s, dir) => {
      val media = documents(s, dir)
        .select(col("doc_id"), col("text").cast("binary").as("payload"))
      llm.Multimodal.frameSample(media, "payload", n = 4)
        .select(col("doc_id"),
          size(col("frames")).cast("long").as("n_frames"),
          array_join(transform(col("frames"), f => length(f).cast("long")), ",")
            .as("frame_bytes_csv"),
          md5(hex(element_at(col("frames"), 1))).as("first_frame_md5"))
        .orderBy("doc_id")
    },
      // byte-level frame split mirrored on the hex image (DuckDB has no
      // blob slicing/md5 in this build); hex chars 2i-1..2i are byte i
      """WITH b AS (SELECT doc_id, hex(encode(text)) AS hx,
                greatest(CAST(ceil(octet_length(encode(text)) / 4) AS INT), 1) AS ch
           FROM documents)
         SELECT doc_id, CAST(4 AS BIGINT) AS n_frames,
                array_to_string(
                  [CAST(length(substring(hx, i*2*ch+1, 2*ch)) // 2 AS BIGINT)
                   FOR i IN [0, 1, 2, 3]], ',') AS frame_bytes_csv,
                md5(substring(hx, 1, 2*ch)) AS first_frame_md5
         FROM b ORDER BY doc_id"""),

    // ---- multimodal resize pass (typed mapPartitions, payload bytes
    //      rewritten to the pixel budget; codec honestly stubbed as a
    //      truncation, so the oracle replicates it byte-exactly)
    Query("q_mm_resize", (s, dir) => {
      implicit val sp: SparkSession = s
      val media = llm.Multimodal.asMedia(
        documents(s, dir).select(col("doc_id"), col("text").cast("binary").as("payload")),
        "doc_id", "payload")
      llm.Multimodal.resize(media, width = 10, height = 10).toDF()
        .select(col("doc_id"),
          length(col("payload")).cast("long").as("resized_bytes"),
          md5(hex(col("payload"))).as("resized_md5"))
        .orderBy("doc_id")
    },
      // stub resize = byte truncation to the 10x10 budget; fingerprint via
      // the hex image (same blob-function workaround as q_mm_frames)
      """SELECT doc_id,
                CAST(least(octet_length(encode(text)), 100) AS BIGINT) AS resized_bytes,
                md5(substring(hex(encode(text)), 1,
                    2 * least(octet_length(encode(text)), 100))) AS resized_md5
         FROM documents ORDER BY doc_id"""),

    // ---- multimodal feature-extract pass (typed mapPartitions, one
    //      model session per partition; deterministic stub features so
    //      the oracle replicates them from octet_length)
    Query("q_mm_features", (s, dir) => {
      implicit val sp: SparkSession = s
      val media = llm.Multimodal.asMedia(
        documents(s, dir).select(col("doc_id"), col("text").cast("binary").as("payload")),
        "doc_id", "payload")
      llm.Multimodal.featureExtract(media, dim = 8).toDF()
        .select(col("doc_id"),
          element_at(col("features"), 1).as("f1"),
          element_at(col("features"), 8).as("f8"))
        .orderBy("doc_id")
    },
      """SELECT doc_id,
                CAST((octet_length(CAST(text AS BLOB)) * 1) % 97 AS FLOAT)
                  / CAST(97 AS FLOAT) AS f1,
                CAST((octet_length(CAST(text AS BLOB)) * 8) % 97 AS FLOAT)
                  / CAST(97 AS FLOAT) AS f8
         FROM documents ORDER BY doc_id"""),

    // ---- REAL image decode (JDK ImageIO, no stub): per-doc solid-color
    //      PNGs are encoded in a typed pass (dims/pixel derived from
    //      doc_id), then decoded by the actual codec — width/height come
    //      from the raster and px0 proves pixel data round-trips
    //      losslessly. The oracle predicts all of it from the same
    //      arithmetic, so a header-only "decode" would fail on px0.
    Query("q_mm_decode_png", (s, dir) => {
      implicit val sp: SparkSession = s
      llm.Multimodal.decode(pngMedia(s, dir)).toDF()
        .select(col("doc_id"),
          col("meta.width").as("width"), col("meta.height").as("height"),
          col("meta.frames").as("frames"), col("meta.format").as("format"),
          col("meta.px0").as("px0"))
        .orderBy("doc_id")
    },
      // the real-codec round-trips: every output is a pure function of
      // doc_id (fixture arithmetic), so DuckDB predicts what ImageIO must
      // produce — including the lossless pixel probe
      """SELECT doc_id,
                CAST(doc_id % 31 + 1 AS INT) AS width,
                CAST(doc_id % 17 + 1 AS INT) AS height,
                CAST(1 AS INT) AS frames,
                'png' AS format,
                CAST((doc_id * 2654435761) % 16777216 AS INT) AS px0
         FROM documents ORDER BY doc_id"""),

    // ---- REAL JPEG decode (JDK ImageIO): same fixture shape as
    //      q_mm_decode_png but through the LOSSY codec — dims/format
    //      are exactly predictable; the pixel probe gates |decoded -
    //      encoded gray| <= 3 per channel (uniform gray confines JPEG
    //      error to the luma DC quantization step). A header-only
    //      decode has no pixel to pass the gate with.
    Query("q_mm_decode_jpeg", (s, dir) => {
      implicit val sp: SparkSession = s
      val v = (col("doc_id") * 37) % 256
      def ch(shift: Int) =
        shiftright(col("meta.px0"), shift).bitwiseAND(lit(255))
      llm.Multimodal.decode(jpegMedia(s, dir)).toDF()
        .select(col("doc_id"),
          col("meta.width").as("width"), col("meta.height").as("height"),
          col("meta.frames").as("frames"), col("meta.format").as("format"),
          (abs(ch(16) - v) <= 3 && abs(ch(8) - v) <= 3 &&
            abs(ch(0) - v) <= 3).as("px_close"))
        .orderBy("doc_id")
    },
      """SELECT doc_id,
                CAST(doc_id % 31 + 1 AS INT) AS width,
                CAST(doc_id % 17 + 1 AS INT) AS height,
                CAST(1 AS INT) AS frames,
                'jpeg' AS format,
                true AS px_close
         FROM documents ORDER BY doc_id"""),

    // ---- WARC/WET ingest boundary (Common Crawl layout: one gzip
    //      member per record): write a deterministic WET fixture,
    //      round-trip it through the DSv2 source, keep conversion
    //      records, and census URI / byte / whitespace-token counts.
    //      The oracle states the hand-computed expectation literally —
    //      payload i is "tok " * 3(i+1) trimmed, so bytes = 12(i+1)-1
    //      and tokens = 3(i+1); warcinfo and response records must be
    //      filtered out.
    Query("q_cc_wet_ingest", (s, dir) => {
      val tmp = tempFixtureDir("wet_q")
      val rs: Seq[(String, String, String, String, Array[Byte])] =
        ("warcinfo", null, "2024-03-01T12:00:00Z", "application/warc-fields",
          "software: graft-fixture\r\n".getBytes("UTF-8")) +:
        (0 until 5).map { i =>
          ("conversion", s"https://corpus.example/doc/$i",
            "2024-03-01T12:00:00Z", "text/plain",
            ("tok " * (3 * (i + 1))).trim.getBytes("UTF-8"))
        } :+ (("response", "https://corpus.example/raw",
          "2024-03-01T12:00:00Z", "application/http",
          "HTTP/1.1 200 OK\r\n\r\n<html/>".getBytes("UTF-8")))
      java.nio.file.Files.write(tmp.resolve("part-000.wet.gz"),
        graft.sources.Warc.writeRecords(rs, gzipPerRecord = true))
      graft.sources.Warc.read(s, tmp.toString)
        .filter(col("record_type") === "conversion")
        .select(col("target_uri").as("uri"), col("content_length"),
          size(split(decode(col("payload"), "UTF-8"), " "))
            .cast("long").as("n_tokens"))
        .orderBy("uri")
    },
      // WET census expectation, restated by hand from the fixture law:
      // doc i carries 3(i+1) tokens of "tok " (trimmed), so 12(i+1)-1
      // bytes; non-conversion records are absent.
      """SELECT * FROM (VALUES
           ('https://corpus.example/doc/0', CAST(11 AS BIGINT), CAST(3 AS BIGINT)),
           ('https://corpus.example/doc/1', CAST(23 AS BIGINT), CAST(6 AS BIGINT)),
           ('https://corpus.example/doc/2', CAST(35 AS BIGINT), CAST(9 AS BIGINT)),
           ('https://corpus.example/doc/3', CAST(47 AS BIGINT), CAST(12 AS BIGINT)),
           ('https://corpus.example/doc/4', CAST(59 AS BIGINT), CAST(15 AS BIGINT)))
         AS t(uri, content_length, n_tokens) ORDER BY uri"""),

    // ---- WET writer round-trip at data scale: the documents corpus
    //      exported as crawl archives by the distributed writer, read
    //      back by the DSv2 reader; per-doc char and byte counts must
    //      match DuckDB's view of the original table — newlines and
    //      multi-byte text survive the Content-Length framing.
    Query("q_cc_wet_roundtrip", (s, dir) => {
      val tmp = tempFixtureDir("wet_rt").toString
      graft.sources.Warc.write(
        documents(s, dir).select(
          lit("conversion").as("record_type"),
          concat(lit("doc://"), col("doc_id")).as("target_uri"),
          to_timestamp(lit("2024-03-01 12:00:00")).as("warc_date"),
          lit("text/plain").as("content_type"),
          encode(col("text"), "UTF-8").as("payload")), tmp)
      graft.sources.Warc.read(s, tmp)
        .select(
          regexp_extract(col("target_uri"), "doc://(\\d+)", 1)
            .cast("long").as("doc_id"),
          length(decode(col("payload"), "UTF-8")).cast("long").as("chars"),
          col("content_length"))
        .orderBy("doc_id")
    },
      // Writer round-trip: what comes back must equal DuckDB's direct
      // view of the table that went in.
      """SELECT doc_id,
                CAST(length(text) AS BIGINT) AS chars,
                CAST(octet_length(CAST(text AS BLOB)) AS BIGINT)
                  AS content_length
         FROM documents ORDER BY doc_id"""),

    // ---- REAL image resize (decode → bilinear Graphics2D resample →
    //      re-encode → decode again): output dims must be the target,
    //      and bilinear over a solid color is that color, so px0 is
    //      still oracle-exact after two codec trips
    Query("q_mm_resize_png", (s, dir) => {
      implicit val sp: SparkSession = s
      llm.Multimodal.decode(
          llm.Multimodal.resize(pngMedia(s, dir), width = 8, height = 6))
        .toDF()
        .select(col("doc_id"),
          col("meta.width").as("width"), col("meta.height").as("height"),
          col("meta.format").as("format"), col("meta.px0").as("px0"))
        .orderBy("doc_id")
    },
      """SELECT doc_id,
                CAST(8 AS INT) AS width,
                CAST(6 AS INT) AS height,
                'png' AS format,
                CAST((doc_id * 2654435761) % 16777216 AS INT) AS px0
         FROM documents ORDER BY doc_id"""),
  )
}
