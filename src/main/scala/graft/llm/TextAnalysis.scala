package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions.let

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, quality scoring, language identification, document
  * fingerprinting. All pure column compositions (codegen'd built-ins,
  * no UDFs) — they run scan-local with zero shuffles, so they scale
  * linearly with input splits at 100 TB.
  */
object TextAnalysis {

  /** Whitespace tokens. One regex split per call: an expression that
    * uses a document's tokens more than once, or inside a lambda, binds
    * them once per row with [[graft.functions.GraftFunctions.let]]
    * (the once-per-row rule stated there). */
  def tokens(text: Column): Column = split(text, "\\s+")

  /** BPE-ish subword-boundary tokens: word runs and single punctuation
    * marks (the classic GPT-2-style pre-tokenizer regex, simplified). */
  def bpeishTokens(text: Column): Column =
    regexp_extract_all(text, lit("[A-Za-z0-9]+|[^A-Za-z0-9\\s]"), lit(0))

  def tokenCount(text: Column): Column = size(tokens(text)).cast("long")

  /** Quality features: length, token stats, punctuation/digit/upper
    * ratios, stopword ratio. Returns a struct column. */
  def qualityFeatures(text: Column): Column = let(tokens(text)) { toks =>
    val n = length(text).cast("double")
    struct(
      length(text).cast("long").as("n_chars"),
      size(toks).cast("long").as("n_tokens"),
      size(array_distinct(toks)).cast("long").as("n_uniq_tokens"),
      round(n / size(toks), 4).as("avg_token_len"),
      round(length(regexp_replace(text, "[^\\p{Punct}]", "")) / n, 4).as("punct_ratio"),
      round(length(regexp_replace(text, "[^0-9]", "")) / n, 4).as("digit_ratio"),
      round(size(filter(toks, t => t.isin(EnStopwords: _*))).cast("double")
        / size(toks), 4).as("stopword_ratio"))
  }

  /** Composite quality score in [0,1] — heuristic linear blend of the
    * features a filtering pipeline would threshold on. */
  def qualityScore(text: Column): Column = {
    val f = qualityFeatures(text)
    val lenScore = least(f.getField("n_tokens").cast("double") / 100.0, lit(1.0))
    val diversity = f.getField("n_uniq_tokens").cast("double") /
      greatest(f.getField("n_tokens").cast("double"), lit(1.0))
    val punctPenalty = greatest(lit(0.0), lit(1.0) - f.getField("punct_ratio") * 5)
    round((lenScore + diversity + punctPenalty) / 3.0, 4)
  }

  /** Token-budget chunking (the pre-training sharding op: one document
    * -> ceil(n_tokens / maxTokens) ordered chunks, whitespace token
    * boundaries). A pure column-op explode: no UDF, no shuffle beyond
    * the caller's — the chunk count column keeps `ceil` arithmetic in
    * codegen and the slices share one split(). Returns
    * (idCol, chunk_id 0-based, chunk_text, n_tokens). */
  def chunkByTokens(df: DataFrame, idCol: String, text: Column,
      maxTokens: Int): DataFrame = {
    val nChunks = greatest(
      ceil(size(col("__toks")).cast("double") / maxTokens).cast("int"), lit(1))
    df.select(col(idCol), tokens(text).as("__toks"))
      .select(col(idCol),
        posexplode(transform(sequence(lit(0), nChunks - 1),
          i => slice(col("__toks"), i * maxTokens + 1, lit(maxTokens))))
          .as(Seq("chunk_id", "__chunk")))
      .select(col(idCol), col("chunk_id"),
        array_join(col("__chunk"), " ").as("chunk_text"),
        size(col("__chunk")).cast("long").as("n_tokens"))
  }

  val EnStopwords: Seq[String] = Seq("the", "a", "an", "and", "or", "of",
    "to", "in", "is", "it", "that", "for", "on", "with", "as", "at", "by")

  /** Stopword profiles for the n-gram-heuristic language ID. */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "it", "for", "with"),
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "ein", "mit", "auf", "zu"),
    "es" -> Seq("el", "la", "de", "que", "y", "los", "en", "un", "por", "con"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des", "est", "un", "une", "dans"))

  /** Language ID: score = stopword hits per profile; highest count wins,
    * ties broken alphabetically; zero hits everywhere -> 'und'; CJK
    * codepoints present -> 'zh' short-circuit. Deterministic and
    * SQL-expressible (oracle mirrors the same formula).
    */
  def languageId(text: Column): Column =
    when(text.rlike("[\\u4e00-\\u9fff]"), lit("zh"))
      .otherwise(let(tokens(lower(text))) { toks =>
        let(bestProfile(toks)) { best =>
          when(best.getField("hits") <= 0, lit("und"))
            .otherwise(best.getField("lang"))
        }
      })

  /** (hits, lang) of the [[LangProfiles]] entry with the most stopword
    * hits among `toks`, ties to the alphabetically first language. */
  private def bestProfile(toks: Column): Column = {
    val scores = LangProfiles.map { case (lang, sw) =>
      struct(size(filter(toks, t => t.isin(sw: _*))).as("hits"),
        lit(lang).as("lang"))
    }
    // array_max picks (max hits, then max lang) — to get alphabetical
    // tie-break we negate via sorting on (hits desc, lang asc): use
    // array_sort over (hits, lang) and take the element that sorts last
    // on hits but first on lang: encode as (hits, reversed-rank lang).
    aggregate(
      array(scores: _*),
      struct(lit(-1).as("hits"), lit("und").as("lang")),
      (acc, x) =>
        when(x.getField("hits") > acc.getField("hits"), x)
          .when(x.getField("hits") === acc.getField("hits") &&
            x.getField("lang") < acc.getField("lang") &&
            acc.getField("hits") > lit(-1), x)
          .otherwise(acc))
  }

  /** Top-`k` TF-IDF terms per document. Classic two-aggregate shape,
    * all on the (doc, term) axis: explode -> tf hash agg, term-axis df
    * hash agg joined back (Catalyst broadcasts it — vocabulary is tiny
    * relative to the corpus), corpus size N as a scalar agg broadcast
    * (never `OVER ()`), then top-k per doc via a ranking window
    * partitioned by doc. idf = ln((N+1)/(df+1)) — the smoothed form, no
    * division-by-zero edge. Deterministic: ties break on the term. */
  def tfidfTopTerms(df: DataFrame, idCol: String, text: Column,
      k: Int = 1): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val terms = df.select(col(idCol), explode(tokens(text)).as("__t"))
    val tf = terms.groupBy(idCol, "__t").agg(count(lit(1)).as("tf"))
    val dfreq = terms.select(col(idCol), col("__t")).distinct()
      .groupBy("__t").agg(count(lit(1)).as("df"))
    val n = df.select(count(lit(1)).as("__n"))
    val w = Window.partitionBy(idCol)
      .orderBy(col("tfidf").desc, col("__t"))
    tf.join(dfreq, "__t")
      .crossJoin(broadcast(n))
      .withColumn("tfidf",
        col("tf") * log((col("__n") + 1).cast("double") / (col("df") + 1)))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .select(col(idCol), col("__t").as("term"),
        round(col("tfidf"), 4).as("tfidf"))
  }

  /** Corpus-wide top-`k` word `n`-grams by raw occurrence count — the
    * vocabulary-building / corpus-statistics op. Counts every occurrence
    * (not per-document presence, unlike [[Dedup.wordNgrams]]'s distinct
    * sets). Scale shape: explode -> one hash aggregate (map-side partial
    * combine shrinks the shuffle to the vocabulary, not the corpus),
    * then `orderBy.limit(k)` which Spark plans as TakeOrderedAndProject
    * — per-partition top-k heaps merged on the driver, NEVER a global
    * sort of the vocabulary. Deterministic: ties break on the gram. */
  /** Raw (multiset, order-preserving) word n-gram list — unlike
    * [[Dedup.wordNgrams]] NOT distinct'd: count-based consumers (LM
    * fitting, top-k vocabulary) need multiplicities. Empty array for
    * docs with fewer than `n` tokens. */
  private[graft] def rawWordNgrams(text: Column, n: Int): Column =
    rawNgramsOfTokens(tokens(text), n)

  /** Space-joined n-gram windows sliced off a token array — the one
    * shared window expression (rawWordNgrams,
    * Regression.hashedNgramFeatures). `toks` is bound once per row
    * ([[graft.functions.GraftFunctions.let]]), so a `tokens(text)`
    * argument is split once per document, not once per window. */
  private[graft] def rawNgramsOfTokens(toks: Column, n: Int): Column =
    let(toks) { t =>
      when(size(t) >= n,
        transform(sequence(lit(0), size(t) - n),
          i => array_join(slice(t, i + 1, lit(n)), " ")))
        .otherwise(array().cast("array<string>"))
    }

  def topNgrams(docs: DataFrame, text: Column, n: Int = 2,
      k: Int = 20): DataFrame = {
    docs.select(explode(rawWordNgrams(text, n)).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("gram"))
      .limit(k)
  }

  /** CCNet-style n-gram LM quality score: fit an add-k-smoothed bigram
    * model ON the corpus itself, then score each document by its mean
    * bigram log-probability. Low scores flag boilerplate/gibberish the
    * corpus-wide distribution doesn't explain — the same signal CCNet
    * gets from a KenLM model, derived here with two hash aggregates
    * instead of an external model artifact.
    *
    * Model: P(w2|w1) = (C(w1 w2) + k) / (C(w1 ·) + k·V), with
    * C(w1 ·) the context count (sum of bigram counts starting at w1)
    * and V the number of distinct contexts — both derived from the ONE
    * exploded gram relation, so the corpus is scanned once.
    *
    * Scale shape: grams → hash-agg bigram counts (map-side partial
    * shrinks the shuffle to the vocabulary) → context counts from the
    * bigram table (vocabulary-sized, not corpus-sized) → score join on
    * the gram key → per-doc hash agg. The model side of the score join
    * is vocabulary-bounded; AQE broadcasts it when it fits and
    * shuffle-joins on the gram key when it doesn't — never an
    * all-pairs, never a window over the corpus. Documents with fewer
    * than 2 tokens have no bigrams and drop out (no model evidence
    * either way).
    *
    * Rounded to 4 decimals: the mean-of-ln is the only float in the
    * pipeline and rounding makes it engine-portable (same tolerance
    * discipline as [[tfidfTopTerms]]). */
  def ngramLmScore(docs: DataFrame, idCol: String, text: Column,
      k: Double = 0.5): DataFrame = {
    val grams = docs.select(col(idCol), explode(rawWordNgrams(text, 2)).as("g"))
    // The fitted model is persisted: it feeds three consumers (the
    // score join, the context counts, V) whose pruned subtrees would
    // otherwise each re-explode the CORPUS (plan-verified: without the
    // persist, ReuseExchange misses and the scan+shuffle runs twice).
    // Materializing the model is vocabulary-bounded, not corpus-
    // bounded — exactly the artifact CCNet writes to disk. Lifecycle:
    // the harnesses clearCache per query, same contract as
    // Similarity's persisted vectors.
    val bi = grams.groupBy("g").agg(count(lit(1)).as("c2"))
      .withColumn("w1", element_at(split(col("g"), " ", 2), 1))
      .persist()
    val ctx = bi.groupBy("w1").agg(sum("c2").as("c1"))
    val model = bi.join(ctx, "w1").select(col("g"), col("c2"), col("c1"))
    val vocab = ctx.agg(count(lit(1)).as("__V"))
    grams.join(model, "g")
      .crossJoin(broadcast(vocab))
      .withColumn("__lp",
        log((col("c2") + lit(k)) / (col("c1") + lit(k) * col("__V"))))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg("__lp"), 4).as("lm_score"))
  }

  /** Rolling polynomial fingerprint over whitespace tokens —
    * order-sensitive document hash (a content-defined signature usable
    * for shift-tolerant chunk dedup). Accumulates modulo a 30-bit prime
    * so every intermediate stays overflow-free under ANSI mode. */
  def rollingFingerprint(text: Column): Column = {
    val M = 1000000007L
    aggregate(tokens(text), lit(5381L),
      (acc, t) => pmod(acc * lit(1000003L) + pmod(xxhash64(t), lit(M)), lit(M)))
  }

  /** Normalized content fingerprint (exact-dedup key modulo whitespace
    * and case): md5 of lowercased, whitespace-collapsed text. */
  def normalizedFingerprint(text: Column): Column =
    md5(regexp_replace(lower(text), "\\s+", " "))

  /** Within-document repetition features — the Gopher-style quality
    * filters that drop boilerplate/spam before pre-training:
    *   - `dup_token_frac`: fraction of tokens that are repeats of an
    *     earlier token (1 - distinct/total),
    *   - `top_bigram_frac`: share of all adjacent-token bigrams claimed
    *     by the single most frequent bigram.
    * Zero-shuffle by design: instead of exploding bigrams and running a
    * per-document groupBy (a corpus-sized shuffle at 100 TB), both
    * features come from the one-pass native
    * [[graft.functions.RepetitionStats]] expression (codegen'd — the
    * earlier HOF sort+fold formulation ran interpreted and crashed on
    * sub-2-token docs). Returns a struct (dup_token_frac,
    * top_bigram_frac), both rounded to 4 places; a one-token or empty
    * document has no bigrams and scores `top_bigram_frac = 0.0`.
    * Callers projecting BOTH fields should materialize the struct in
    * its own projection (`withColumn`) so it is computed once. */
  def repetitionFeatures(text: Column): Column =
    graft.functions.GraftFunctions.repetitionStats(tokens(text))

  /** Built-in-composition twin of [[repetitionFeatures]] — the sorted
    * bigram array's longest equal-adjacent run equals the top bigram
    * count. Kept for the native/HOF equivalence spec; the HOF
    * `transform`/`aggregate` chain is CodegenFallback (interpreted), so
    * production code routes through the native expression. The bigram
    * array is guarded for n < 2: `sequence(1, n-1)` with n = 1 would
    * produce the DESCENDING array [1, 0] and throw under ANSI on
    * `element_at(toks, 0)`. */
  def repetitionFeaturesBuiltin(text: Column): Column = {
    val toks = tokens(text)
    val n = size(toks)
    // adjacent bigrams, NOT distinct (counts matter here)
    val bgs = when(n >= 2,
      array_sort(transform(sequence(lit(1), n - 1),
        i => concat_ws(" ", element_at(toks, i), element_at(toks, i + 1)))))
      .otherwise(array().cast("array<string>"))
    val fold = aggregate(bgs,
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
      (acc, x) => {
        val run = when(x === acc.getField("prev"), acc.getField("run") + 1L)
          .otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      })
    val nBg = size(bgs)
    struct(
      round((n - size(array_distinct(toks))).cast("double") / n, 4)
        .as("dup_token_frac"),
      when(nBg > 0,
        round(fold.getField("best").cast("double") / nBg, 4))
        .otherwise(lit(0.0)).as("top_bigram_frac"))
  }
}
