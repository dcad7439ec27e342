package graft.llm

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

import graft.functions.GraftFunctions.let

/** Corpus-curation operators: deterministic sampling / split assignment
  * and benchmark decontamination. Beyond the reference's surface — part
  * of the engine's training-data-pipeline family (SURVEY §2 sibling of
  * the dedup/quality operators).
  *
  * Every operator here is DETERMINISTIC BY CONSTRUCTION (hash-derived,
  * not RNG-derived): at 100 TB, sampling decisions must be reproducible
  * across reruns, engines, and partitionings — `rand()` is none of
  * those. The hash family is the portable md5 one (Dedup.md5Hash31's
  * sibling) so an independent SQL engine reproduces every decision
  * bit-for-bit.
  */
object Curation {

  /** Uniform-in-[0,1) from the first 32 md5 bits of the key — the
    * standard deterministic sampling coin. Same doubles in any engine
    * that can md5 (4294967296 = 2^32; the 32-bit int is exact in a
    * double, so the comparison against a rate is exact too). */
  def hashUniform(key: Column): Column =
    conv(substring(md5(key.cast("string")), 1, 8), 16, 10)
      .cast("double") / lit(4294967296.0)

  /** Stratified deterministic sampling: keep a row iff its hash coin is
    * under its stratum's rate. Missing strata default to `defaultRate`.
    * One narrow scan — no shuffle, no RNG, rerun-stable. */
  def sampleByHash(df: DataFrame, key: Column, stratum: Column,
      rates: Map[String, Double], defaultRate: Double = 0.0): DataFrame = {
    val rateCol = coalesce(
      element_at(typedlit(rates), stratum), lit(defaultRate))
    df.filter(hashUniform(key) < rateCol)
  }

  /** Deterministic train/val/test assignment from the same coin:
    * [0, train) -> "train", [train, train+val) -> "val", else "test".
    * A document's split never changes when the corpus around it does —
    * the property RNG-based splitting lacks. */
  def splitAssign(key: Column, trainFrac: Double = 0.8,
      valFrac: Double = 0.1): Column = {
    val u = hashUniform(key)
    when(u < trainFrac, "train")
      .when(u < trainFrac + valFrac, "val")
      .otherwise("test")
  }

  /** Fixed-size deterministic per-stratum sample: the `n` rows with the
    * smallest hash coins in each stratum — what reservoir sampling gives
    * you, but reproducible (same members every rerun, any partitioning,
    * any engine) and distributed (one shuffle on the stratum key; the
    * ranking window never sees more than a stratum per partition).
    * Ties cannot happen: coins are injective on distinct keys up to md5
    * collisions. */
  def sampleFixedPerStratum(df: DataFrame, key: Column, stratum: Column,
      n: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(stratum).orderBy(hashUniform(key), key)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= n)
      .drop("__rn")
  }

  /** Benchmark decontamination: drop every document sharing ANY word
    * `n`-gram with the benchmark set. Scale shape: the benchmark gram
    * set is tiny relative to the corpus, so Catalyst broadcasts it into
    * a LeftSemi over the exploded corpus grams (one narrow pass over
    * the big side, no shuffle of the corpus), then contaminated ids
    * anti-join back — never a cross product, never a corpus-sized
    * shuffle.
    *
    * The broadcast is a CONTRACT, not a hope: benchmark suites are fixed
    * artifacts that don't grow with the corpus, so the gram set stays
    * under the broadcast threshold at any corpus scale. LlmScaleSmoke
    * measured what happens when that contract is violated (benchmark
    * scaled with the corpus): the semi-join silently degrades to
    * sort-merge and runtime goes superlinear (exponent 1.25 at 10x). If
    * a gram set ever must exceed the threshold, shuffle-hash-join on
    * `__g` is the right fallback — raise the threshold or hint, don't
    * let it sort-merge 10^11 exploded gram rows. */
  def decontaminate(docs: DataFrame, benchmark: DataFrame, idCol: String,
      text: Column, n: Int = 8): DataFrame = {
    val benchGrams = benchmark
      .select(explode(Dedup.wordNgrams(text, n)).as("__g"))
      .distinct()
    val contaminated = docs
      .select(col(idCol), explode(Dedup.wordNgrams(text, n)).as("__g"))
      .join(benchGrams, Seq("__g"), "left_semi")
      .select(idCol).distinct()
    docs.join(contaminated, Seq(idCol), "left_anti")
  }

  /** Bloom-prefiltered decontamination — the [[decontaminate]] scale
    * path for benchmark suites whose gram SET no longer broadcasts.
    * [[decontaminate]]'s contract is "bench grams fit the broadcast
    * threshold"; a big eval suite (many benchmarks x long prompts) can
    * push the distinct-gram relation past it, and the measured failure
    * mode is a sort-merge over the exploded corpus grams (LlmScaleSmoke:
    * exponent 1.25 at 10x). A Bloom filter over the same grams costs
    * ~14 bits/gram instead of the full string — it stays plan-shippable
    * two orders of magnitude longer — and is applied SCAN-LOCALLY to the
    * corpus gram stream, so the only rows that ever reach a join are
    * bloom survivors: true contamination plus an fpp-sized trickle of
    * false positives. The exact verify semi-join over that survivor set
    * then removes the false positives, so the RESULT is bit-identical to
    * [[decontaminate]] — bloom saturation can only cost time, never
    * correctness. This is Spark's own runtime-filter machinery
    * (`BloomFilterAggregate`/`BloomFilterMightContain`, the codegen'd
    * expressions behind spark.sql.optimizer.runtime.bloomFilter) driven
    * explicitly, not a UDF.
    *
    * Sizing: the filter is built in one distributed aggregate over the
    * RAW exploded bench grams (no distinct shuffle — Bloom insertion is
    * idempotent, and the occurrence count is a safe upper bound for the
    * distinct count), capped at [[BloomMaxItems]]/[[BloomMaxBits]] (the
    * defaults of Spark's own runtime-filter caps). Past the cap the fpp
    * degrades gracefully and the verify join absorbs the extra
    * survivors. Driver state is the serialized filter (numBits/8 bytes
    * — model-state-sized, never corpus-sized). */
  def decontaminateBloom(docs: DataFrame, benchmark: DataFrame,
      idCol: String, text: Column, n: Int = 8,
      fpp: Double = 0.001): DataFrame = {
    val benchGramsRaw = benchmark
      .select(explode(Dedup.wordNgrams(text, n)).as("__g"))
    // sizing WITHOUT exploding (ADVICE r20): sum of per-doc gram-array
    // sizes equals the exploded row count (wordNgrams emits >= 1 gram
    // per non-null doc), for one narrow scan instead of an
    // explode-and-count job — occurrence count stays a safe upper
    // bound for the distinct count, and fpp only moves the false-
    // positive trickle the verify join absorbs, never the result
    val nGrams = math.max(
      Option(benchmark
          .agg(sum(size(Dedup.wordNgrams(text, n))).cast("long")).head.get(0))
        .map(_.asInstanceOf[Long]).getOrElse(0L), 1L)
    val items = math.min(nGrams, BloomMaxItems)
    // optimal bits = -n ln p / ln^2 2 (Bloom 1970), under the cap
    val bits = math.min(
      math.ceil(-items * math.log(fpp) / (math.log(2) * math.log(2))).toLong,
      BloomMaxBits)
    val bloom = benchGramsRaw
      .agg(call_function("bloom_filter_build", col("__g"),
        lit(items), lit(bits)).as("bf"))
      .head.getAs[Array[Byte]]("bf")
    val candidates = docs
      .select(col(idCol), explode(Dedup.wordNgrams(text, n)).as("__g"))
      .where(call_function("bloom_might_contain", lit(bloom), col("__g")))
    // exact verify over bloom survivors only: distinct bench grams are
    // rebuilt here, but both join sides are now contamination-mass, not
    // corpus-mass — shuffle_hash keeps the survivor stream unsorted
    val benchGrams = benchGramsRaw.distinct()
    val contaminated = candidates
      .join(benchGrams.hint("shuffle_hash"), Seq("__g"), "left_semi")
      .select(idCol).distinct()
    docs.join(contaminated, Seq(idCol), "left_anti")
  }

  /** Caps mirroring Spark's runtime-filter defaults
    * (spark.sql.optimizer.runtime.bloomFilter.maxNumItems/maxNumBits):
    * 4M items / 64Mbit = an 8 MB filter, the largest state worth
    * shipping inside a plan. */
  val BloomMaxItems: Long = 4000000L
  val BloomMaxBits: Long = 67108864L

  /** Fractional-overlap decontamination — the production thresholded
    * form of [[decontaminate]]: a document is dropped only when MORE
    * than `maxOverlapFrac` of its distinct word `n`-grams appear in the
    * benchmark set (GPT-3's appendix-C contamination rule and PaLM's
    * "70% of 8-grams seen" are this shape; the binary [[decontaminate]]
    * is the `maxOverlapFrac = 0` special case). The distinction matters
    * on real web corpora: a long document quoting one benchmark
    * sentence is NOT memorization bait, and the any-gram rule measurably
    * over-drops (it removes every page embedding a popular benchmark's
    * boilerplate header).
    *
    * Scale shape: corpus grams are keyed by their md5 (fixed-width
    * rows, never the gram string) and deduplicated per document in ONE
    * keyed shuffle; the benchmark gram set joins in broadcast-sized as
    * a hit marker (same contract as [[decontaminate]]); matched/total
    * fall out of a single per-document hash aggregate. Documents
    * shorter than `n` tokens produce no grams, land in no stats row,
    * and are correctly KEPT (nothing to overlap) because the final step
    * is an anti-join against the over-threshold ids. */
  def decontaminateOverlap(docs: DataFrame, benchmark: DataFrame,
      idCol: String, text: Column, n: Int = 8,
      maxOverlapFrac: Double = 0.1): DataFrame = {
    val benchGrams = benchmark
      .select(explode(Dedup.wordNgrams(text, n)).as("__g"))
      .select(md5(col("__g")).as("__gh")).distinct()
      .withColumn("__hit", lit(1))
    val grams = docs
      .select(col(idCol), explode(Dedup.wordNgrams(text, n)).as("__g"))
      .select(col(idCol), md5(col("__g")).as("__gh"))
      .distinct()
    val dirty = grams
      .join(benchGrams, Seq("__gh"), "left")
      .groupBy(idCol)
      .agg(count(lit(1)).as("__tot"), count(col("__hit")).as("__match"))
      .filter(col("__match") > col("__tot") * maxOverlapFrac)
      .select(idCol)
    docs.join(dirty, Seq(idCol), "left_anti")
  }

  /** Gopher-style named-rule quality filter — the form a production
    * curation pipeline actually runs: each heuristic is its OWN boolean
    * column so drop rates are auditable per rule (an aggregate score
    * like [[TextAnalysis.qualityScore]] can't tell you WHY a corpus
    * shrank 40%). Rules, all scan-local column compositions (zero
    * shuffles, no UDFs):
    *
    *   - `ok_len`          minTokens <= n_tokens <= maxTokens
    *   - `ok_word_len`     minAvgTokenLen <= chars/token <= maxAvgTokenLen
    *   - `ok_symbol`       punctuation chars / chars <= maxSymbolRatio
    *   - `ok_stopwords`    >= minStopwordHits English stopword tokens
    *     (the Gopher "contains at least 2 of ..." naturalness check)
    *   - `ok_repetition`   duplicated-token fraction <= maxDupTokenFrac
    *     (1 - distinct/total; the boilerplate/spam signal)
    *
    * `pass` is the conjunction. Ratio comparisons are exact across
    * engines: both sides divide the same integer counts, so the
    * booleans can be oracled without rounding tolerance. */
  def gopherFilter(docs: DataFrame, idCol: String, text: Column,
      minTokens: Int = 50, maxTokens: Int = 100000,
      minAvgTokenLen: Double = 3.0, maxAvgTokenLen: Double = 10.0,
      maxSymbolRatio: Double = 0.1, minStopwordHits: Int = 2,
      maxDupTokenFrac: Double = 0.6): DataFrame = {
    // the flags struct is projected once and read six times, so each
    // document is split and scored once
    val flags = let(TextAnalysis.tokens(text)) { toks =>
      val (okLen, okWordLen, okSymbol, okStopwords, okRepetition) =
        gopherFlags(text, toks, minTokens, maxTokens, minAvgTokenLen,
          maxAvgTokenLen, maxSymbolRatio, minStopwordHits, maxDupTokenFrac)
      struct(okLen.as("ok_len"), okWordLen.as("ok_word_len"),
        okSymbol.as("ok_symbol"), okStopwords.as("ok_stopwords"),
        okRepetition.as("ok_repetition"),
        (okLen && okWordLen && okSymbol && okStopwords && okRepetition)
          .as("pass"))
    }
    docs.select(col(idCol), flags.as("__flags"))
      .select(col(idCol), col("__flags.*"))
  }

  /** The five [[gopherFilter]] rule columns of `text`, whose whitespace
    * tokens `toks` the caller has bound once per row — shared by the
    * audit-table form above and the scan-local [[gopherPass]]. */
  private def gopherFlags(text: Column, toks: Column, minTokens: Int,
      maxTokens: Int, minAvgTokenLen: Double, maxAvgTokenLen: Double,
      maxSymbolRatio: Double, minStopwordHits: Int,
      maxDupTokenFrac: Double): (Column, Column, Column, Column, Column) = {
    val n = size(toks)
    val nChars = length(text)
    val okLen = n.between(minTokens, maxTokens)
    val okWordLen = (nChars.cast("double") / n)
      .between(minAvgTokenLen, maxAvgTokenLen)
    val okSymbol = (length(regexp_replace(text, "[^\\p{Punct}]", ""))
      .cast("double") / nChars) <= maxSymbolRatio
    val okStopwords =
      size(filter(toks, t => t.isin(TextAnalysis.EnStopwords: _*))) >=
        minStopwordHits
    val okRepetition = ((n - size(array_distinct(toks))).cast("double") / n) <=
      maxDupTokenFrac
    (okLen, okWordLen, okSymbol, okStopwords, okRepetition)
  }

  /** [[gopherFilter]]'s `pass` conjunction as a bare scan-local Column —
    * for pipelines that only GATE on it (`df.filter(gopherPass(text))`).
    * The audit-table form costs a second scan of the text when the
    * caller joins it back (the upstream may be an expensive decode, e.g.
    * a gzip WARC batch); a filter keeps curation one pass (guide §2.4:
    * remove the join, remove its re-scan). Same expressions, same
    * three-valued logic, identical survivors. */
  def gopherPass(text: Column,
      minTokens: Int = 50, maxTokens: Int = 100000,
      minAvgTokenLen: Double = 3.0, maxAvgTokenLen: Double = 10.0,
      maxSymbolRatio: Double = 0.1, minStopwordHits: Int = 2,
      maxDupTokenFrac: Double = 0.6): Column =
    let(TextAnalysis.tokens(text)) { toks =>
      val (okLen, okWordLen, okSymbol, okStopwords, okRepetition) =
        gopherFlags(text, toks, minTokens, maxTokens, minAvgTokenLen,
          maxAvgTokenLen, maxSymbolRatio, minStopwordHits, maxDupTokenFrac)
      okLen && okWordLen && okSymbol && okStopwords && okRepetition
    }

  /** Temperature-scaled domain mixture weights — the sampling weights a
    * multi-domain pre-training run draws with: w_g ∝ (n_g / N)^alpha,
    * normalized to sum 1. alpha = 1 is proportional sampling, alpha = 0
    * uniform; alpha ~ 0.3-0.7 is the usual "up-weight small domains"
    * middle ground. Scale shape: one hash agg over the corpus (map-side
    * partial), then two SCALAR aggregates broadcast back onto the tiny
    * per-domain relation — never a window over the corpus, never a
    * second corpus scan. */
  def mixtureWeights(docs: DataFrame, groupCol: String,
      alpha: Double = 0.5): DataFrame = {
    val counts = docs.groupBy(groupCol).agg(count(lit(1)).as("n_docs"))
    val total = counts.agg(sum("n_docs").as("__N"))
    val powed = counts.crossJoin(broadcast(total))
      .withColumn("__p",
        pow(col("n_docs").cast("double") / col("__N"), lit(alpha)))
    val z = powed.agg(sum("__p").as("__Z"))
    powed.crossJoin(broadcast(z))
      .select(col(groupCol), col("n_docs"),
        round(col("__p") / col("__Z"), 6).as("weight"))
  }

  /** PII patterns, deliberately RE2-compatible (no backrefs, no
    * lookaround) so an independent engine applies the exact same
    * regexes: emails, dotted-quad IPv4s, NANP-style phone fragments.
    * Order matters for redaction: emails first (they contain dots that
    * the IP pattern must not see), then IPs, then phones. */
  val PiiPatterns: Seq[(String, String)] = Seq(
    "email" -> "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
    "ipv4" -> "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b",
    "phone" -> "\\b\\d{3}-\\d{4}\\b")

  /** Redact every PII match with its `[KIND]` placeholder. A fold of
    * codegen'd `regexp_replace`s — scan-local, zero shuffle, linear at
    * any corpus size. */
  def redactPii(text: Column): Column =
    PiiPatterns.foldLeft(text) { case (c, (name, pat)) =>
      regexp_replace(c, pat, s"[${name.toUpperCase}]")
    }

  /** Per-kind PII hit counts as a struct (n_email, n_ipv4, n_phone) —
    * the audit side of redaction (what a compliance report aggregates).
    * Counts run on the RAW text, each pattern independently. */
  def piiCounts(text: Column): Column =
    struct(PiiPatterns.map { case (name, pat) =>
      regexp_count(text, lit(pat)).cast("long").as(s"n_$name")
    }: _*)

  /** Authority part of a URL: scheme `://` host[:port], up to the first
    * `/`, `?` or `#`. RE2-safe so an independent engine extracts the
    * identical span. */
  private val AuthorityRe = "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*"

  /** C4/RefinedWeb-style URL canonicalization — the key a web corpus
    * dedups on. One document fetched via `HTTPS://WWW.Host.COM:443/p/`
    * and another via `https://host.com/p` are the same page; without a
    * canonical key, URL-level dedup misses them. Normalization:
    * fragment dropped; scheme+host lowercased (path/query case is
    * significant and kept); leading `www.` and default ports 80/443
    * stripped; `utm_*` tracking params removed (with separator
    * fix-up); trailing path slashes collapsed.
    *
    * Scale shape: a fold of codegen'd RE2-safe `regexp_replace`s —
    * scan-local, zero shuffle, linear at any corpus size. No
    * backreferences in any replacement string, so an independent
    * engine (different backref syntax) applies the identical rewrite.
    * Deliberately NOT a full WHATWG parser: no percent-decoding, no
    * public-suffix list — the 90% canonicalization a corpus pipeline
    * runs before [[dedupByUrl]]. */
  def normalizeUrl(url: Column): Column = {
    val noFrag = regexp_replace(url, "#.*", "")
    val rawAuth = regexp_extract(noFrag, AuthorityRe, 0)
    val auth = regexp_replace(
      regexp_replace(lower(rawAuth), "://www\\.", "://"), ":(80|443)$", "")
    val rest = noFrag.substr(length(rawAuth) + 1, length(noFrag))
    // utm strip anchored to a parameter boundary in three backref-free
    // passes (so `?xutm_a=1` or a path segment `/utm_source=x/` are
    // untouched): drop non-first `&utm_...`, then a leading
    // `?utm_...&` keeps its `?`, then a lone `?utm_...` goes entirely
    val noUtm = regexp_replace(
      regexp_replace(
        regexp_replace(rest, "&utm_[a-z]+=[^&]*", ""),
        "\\?utm_[a-z]+=[^&]*&", "?"),
      "\\?utm_[a-z]+=[^&]*$", "")
    val tidy = regexp_replace(
      regexp_replace(regexp_replace(noUtm, "[?&]+$", ""), "/+\\?", "?"),
      "/+$", "")
    concat(auth, tidy)
  }

  /** Naive registered domain (last two host labels) of a NORMALIZED
    * url: `https://a.b.example.com/x` -> `example.com`. Good enough
    * for blocklist keys on common TLDs; a public-suffix-list lookup
    * (a broadcast map over suffixes) is the production upgrade and
    * slots in behind the same signature. */
  def registeredDomain(urlNorm: Column): Column =
    regexp_extract(regexp_extract(urlNorm, "://([^/:?#]*)", 1),
      "[^.]*\\.[^.]*$", 0)

  /** URL-keyed dedup: one survivor per [[normalizeUrl]] key, chosen by
    * `preference` order (typically longest text, then smallest id —
    * the C4 "keep the most complete fetch" rule). One shuffle on the
    * canonical key; the ranking window never sees more than one URL's
    * fetches per group. */
  def dedupByUrl(docs: DataFrame, url: Column,
      preference: Seq[Column]): DataFrame =
    graft.ops.RelOps.top1PerGroup(
        docs.withColumn("__url", normalizeUrl(url)), Seq("__url"), preference)
      .drop("__url")

  /** Domain blocklist filter: drop every document whose registered
    * domain appears in `blocklist` (a `domain` column). Scale shape:
    * real blocklists (UT1, adult/spam lists) are millions of rows but
    * corpus-independent and broadcast-sized, so this plans as a
    * broadcast LeftAnti — one narrow pass over the corpus, no shuffle
    * of the big side (same contract as [[decontaminate]]'s gram set). */
  def domainBlocklistFilter(docs: DataFrame, url: Column,
      blocklist: DataFrame, domCol: String = "domain"): DataFrame =
    docs.withColumn("__dom", registeredDomain(normalizeUrl(url)))
      .join(broadcast(blocklist.select(col(domCol).as("__dom")).distinct()),
        Seq("__dom"), "left_anti")
      .drop("__dom")

  /** GPT-style sequence packing: documents are concatenated in `idCol`
    * order and cut into fixed `seqLen`-token training sequences; a
    * document may straddle a boundary. Emits per document its global
    * token offset and the first/last sequence it lands in.
    *
    * Scale shape: the textbook formulation is one global running sum —
    * a single-partition window, a non-starter at 100 TB. Here the
    * running sum runs INSIDE deterministic id blocks (window partitioned
    * by `floor(id / blockSize)`, never wider than `blockSize` docs) and
    * each block is prefixed with the total of all earlier blocks — a
    * second window over the per-block aggregate, whose row count is
    * corpus/blockSize and whose cumulative sums broadcast back. Same
    * numbers as the global window, no single-partition stage over the
    * corpus. */
  def packSequences(df: DataFrame, idCol: String, tokCount: Column,
      seqLen: Int, blockSize: Long = 1024L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df.select(col(idCol), tokCount.cast("long").as("__n"),
      floor(col(idCol).cast("long") / blockSize).as("__b"))
    val wb = Window.orderBy("__b")
      .rowsBetween(Window.unboundedPreceding, -1)
    val blockOffsets = base.groupBy("__b").agg(sum("__n").as("__bn"))
      .withColumn("__boff", coalesce(sum(col("__bn")).over(wb), lit(0L)))
      .drop("__bn")
    val wi = Window.partitionBy("__b").orderBy(idCol)
      .rowsBetween(Window.unboundedPreceding, -1)
    base.join(broadcast(blockOffsets), Seq("__b"))
      .withColumn("start_tok",
        col("__boff") + coalesce(sum(col("__n")).over(wi), lit(0L)))
      .select(col(idCol), col("__n").as("n_tokens"), col("start_tok"),
        floor(col("start_tok") / seqLen).cast("long").as("seq_first"),
        floor((col("start_tok") + greatest(col("__n"), lit(1L)) - 1) / seqLen)
          .cast("long").as("seq_last"))
  }

  /** Per-slice packing manifest — the rows a training-sample writer
    * actually consumes: for every (sequence, document) overlap under
    * [[packSequences]]'s concat-and-chunk layout, which `len` tokens of
    * the document (starting at `doc_off`) fill the sequence starting at
    * `seq_off`. A document straddling k boundaries emits k+1 slices;
    * writers `GROUP BY seq_id` and copy token ranges — no global state,
    * no second pass over offsets.
    *
    * Invariants (spec-pinned): per document the slice lengths sum to
    * its token count with contiguous `doc_off`s from 0; per sequence
    * the lengths sum to exactly `seqLen` (except the final partial
    * sequence) with contiguous `seq_off`s — padding-free by
    * construction. Zero-token documents emit no slices (nothing to
    * copy); they still occupy no offset space, so their presence
    * cannot shift any other document's slices.
    *
    * Scale shape: [[packSequences]]'s block-decomposed running sum plus
    * one scan-local `explode(sequence(seq_first, seq_last))` — slice
    * arithmetic is per-row column algebra, so the whole manifest adds
    * ZERO shuffles beyond the offset computation. */
  def packSlices(df: DataFrame, idCol: String, tokCount: Column,
      seqLen: Int, blockSize: Long = 1024L): DataFrame = {
    val offs = packSequences(df, idCol, tokCount, seqLen, blockSize)
      .filter(col("n_tokens") > 0)
    val l = lit(seqLen.toLong)
    val gStart = greatest(col("start_tok"), col("seq_id") * l)
    val gEnd = least(col("start_tok") + col("n_tokens"),
      (col("seq_id") + 1) * l)
    offs
      .withColumn("seq_id",
        explode(sequence(col("seq_first"), col("seq_last"))))
      .select(col("seq_id"), col(idCol),
        (gStart - col("start_tok")).as("doc_off"),
        (gStart - col("seq_id") * l).as("seq_off"),
        (gEnd - gStart).as("len"))
  }

  /** No-split bin packing — the fine-tuning counterpart of
    * [[packSequences]]: documents must NOT straddle sequence
    * boundaries (a split example is cross-contaminated), so each
    * document lands whole in a bin of capacity `seqLen` and the
    * remainder is padding. Next-fit in `idCol` order: keep one open
    * bin, start a new one when the next document doesn't fit. A
    * document longer than `seqLen` ends up alone in its bin with no
    * special casing (it closes the open bin on entry and the next
    * document cannot fit behind it) — flagged by `n_tokens > seqLen`
    * for the caller's truncate-or-reject policy.
    *
    * Scale shape: next-fit is inherently sequential, so the walk runs
    * inside deterministic id blocks (`floor(id / blockSize)`, bins
    * never cross blocks — each block starts fresh, wasting at most one
    * bin per block) and every block packs independently: ONE keyed
    * shuffle on the block key, then a codegen'd `aggregate` fold over
    * the block's id-sorted (id, tokens) array — per-task state is
    * blockSize-bounded, nothing global, any partitioning. Bin ids
    * `block * blockSize + local` are unique and deterministic because
    * a block of k documents opens at most k bins. */
  def packBinsNextFit(df: DataFrame, idCol: String, tokCount: Column,
      seqLen: Int, blockSize: Long = 1024L): DataFrame = {
    val l = lit(seqLen.toLong)
    val blocks = df
      .select(col(idCol).cast("long").as("__id"),
        tokCount.cast("long").as("__n"))
      .groupBy(floor(col("__id") / blockSize).as("__b"))
      .agg(array_sort(collect_list(struct(col("__id"), col("__n"))))
        .as("__items"))
    // fold: fill = open-bin occupancy, bin = open-bin local id, bins =
    // the per-item assignment (index-aligned with the sorted items)
    val walked = blocks.withColumn("__walk", aggregate(
      col("__items"),
      struct(lit(0L).as("fill"), lit(0L).as("bin"),
        array().cast("array<bigint>").as("bins")),
      (acc, x) => {
        val n = x.getField("__n")
        val fill = acc.getField("fill")
        val bin = acc.getField("bin")
        val opens = fill > 0 && (fill + n) > l
        val assigned = when(opens, bin + 1).otherwise(bin)
        struct(
          when(opens, n).otherwise(fill + n).as("fill"),
          assigned.as("bin"),
          concat(acc.getField("bins"), array(assigned)).as("bins"))
      }))
    walked
      .select(col("__b"), col("__walk").getField("bins").as("__bins"),
        posexplode(col("__items")))
      .select(col("col").getField("__id").as(idCol),
        (col("__b") * blockSize +
          element_at(col("__bins"), col("pos") + 1)).as("bin_id"),
        col("col").getField("__n").as("n_tokens"))
  }

  /** Count-space best-fit-decreasing over a length histogram — the
    * driver half of [[packBinsHistogram]]. Lengths descending; each
    * placement targets the open-pack GROUP with the smallest remaining
    * capacity that still fits (ties to the earliest-created group), and
    * whole groups of identical packs move at once, so the loop runs on
    * the histogram (<= seqLen rows + distinct oversize lengths), never
    * on documents. Oversize lengths need no special casing: their
    * first placement opens a group with negative remaining, which is
    * never a candidate again — they sit alone by construction.
    *
    * Returns pack archetypes in creation order: (packCount, remaining,
    * composition length->copiesPerPack). Classic BFD guarantees apply
    * (Johnson 1973: within 11/9 of optimal + O(1)); Graphcore's
    * SPFHP/NNLSHP (Kosec et al. 2021) are the same histogram-solve
    * shape this generalizes from. */
  def bfdHistogram(hist: Seq[(Long, Long)],
      seqLen: Long): Seq[(Long, Long, Map[Long, Long])] = {
    final case class G(var remaining: Long, var count: Long,
      comp: Map[Long, Long])
    val groups = scala.collection.mutable.ArrayBuffer.empty[G]
    for ((l, total) <- hist.filter(_._2 > 0).sortBy { case (l, _) => -l }) {
      require(l >= 1, s"bfdHistogram: non-positive length $l")
      var n = total
      while (n > 0) {
        val cand = groups.zipWithIndex
          .filter { case (g, _) => g.count > 0 && g.remaining >= l }
        if (cand.isEmpty) {
          groups += G(seqLen - l, n, Map(l -> 1L)); n = 0
        } else {
          val (g, _) = cand.minBy { case (g, i) => (g.remaining, i) }
          val m = math.min(n, g.count)
          g.count -= m
          groups += G(g.remaining - l, m,
            g.comp.updated(l, g.comp.getOrElse(l, 0L) + 1L))
          n -= m
        }
      }
    }
    groups.filter(_.count > 0)
      .map(g => (g.count, g.remaining, g.comp)).toSeq
  }

  /** Global 0-based rank within `keyCol` by `idCol` order, without a
    * per-key global window: rank inside (key, id-block) plus a prefix
    * of per-(key, block) counts — the aggregate-side window partitions
    * by key over block COUNTS (corpus/blockSize rows total), so a hot
    * key never drags its documents into one partition, only its
    * per-block counters. */
  private def rankWithin(df: DataFrame, keyCol: String, idCol: String,
      blockSize: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df.withColumn("__b",
      floor(col(idCol).cast("long") / blockSize))
    val wk = Window.partitionBy(keyCol).orderBy("__b")
      .rowsBetween(Window.unboundedPreceding, -1)
    val prefixed = base.groupBy(keyCol, "__b").count()
      .withColumn("__koff", coalesce(sum("count").over(wk), lit(0L)))
      .drop("count")
    val wi = Window.partitionBy(keyCol, "__b").orderBy(idCol)
    base.join(prefixed, Seq(keyCol, "__b"))
      .withColumn("__rank",
        col("__koff") + row_number().over(wi).cast("long") - 1L)
      .drop("__b", "__koff")
  }

  /** Histogram-driven no-split packing — the quality upgrade over
    * [[packBinsNextFit]]: solve bin packing ONCE on the length
    * histogram (driver-sized: <= seqLen distinct lengths), then place
    * every document by pure arithmetic. The 100 TB shape of Graphcore's
    * sequence-packing recipe: corpus work is one histogram aggregate,
    * one decomposed rank-within-length, and one broadcast join against
    * the strategy table (one row per (pack archetype, length) — model
    * state, not corpus state); documents of length l are dealt to a
    * group's identical packs round-robin, so each pack receives exactly
    * its composition's copies. Zero-token documents pack nothing and
    * emit no row ([[packSlices]]'s contract). Unlike the blockwise
    * next-fit, the solve sees the whole corpus's histogram, so there is
    * no per-block waste. */
  def packBinsHistogram(df: DataFrame, idCol: String, tokCount: Column,
      seqLen: Int, blockSize: Long = 1024L): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val base = df.select(col(idCol), tokCount.cast("long").as("__n"))
      .filter(col("__n") >= 1L)
    val hist = base.groupBy("__n").count()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val groups = bfdHistogram(hist, seqLen.toLong)
    // strategy table: for each (group, length), which global ranks of
    // that length it consumes and where its bins start
    val rows = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, Long, Long)]
    val cursor = scala.collection.mutable.Map.empty[Long, Long]
    var off = 0L
    for ((count, _, comp) <- groups) {
      for ((l, copies) <- comp.toSeq.sortBy(_._1)) {
        val p = cursor.getOrElse(l, 0L)
        rows += ((l, p, p + copies * count, off, count))
        cursor(l) = p + copies * count
      }
      off += count
    }
    val asg = rows.toSeq.toDF("__n", "__lo", "__hi", "__boff", "__cnt")
    val ranked = rankWithin(base, "__n", idCol, blockSize)
    ranked.join(broadcast(asg), Seq("__n"))
      .filter(col("__rank") >= col("__lo") && col("__rank") < col("__hi"))
      .select(col(idCol),
        (col("__boff") + pmod(col("__rank") - col("__lo"), col("__cnt")))
          .as("bin_id"),
        col("__n").as("n_tokens"))
  }
}
