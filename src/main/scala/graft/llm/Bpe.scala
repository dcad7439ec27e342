package graft.llm

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

import graft.osm.LocalGate

/** Distributed byte-pair-encoding (BPE) vocabulary training — the
  * standard tokenizer-prep job of a training-data pipeline (Sennrich
  * et al., ACL 2016: iterated merging of the most frequent adjacent
  * symbol pair).
  *
  * Scale shape: the 100 TB part is the ONE corpus scan that builds the
  * word-frequency table ([[wordCounts]] — hash agg, corpus-sized
  * input, vocabulary-sized output). Training then iterates over that
  * unique-words table only: each merge round is ONE hash-agg shuffle
  * (adjacent-pair counting weighted by word frequency) + a driver
  * top-1, and the merged words re-cache so every round reads the
  * previous round's vocabulary-sized cache, never the corpus. Below
  * `localThreshold` unique words the whole loop runs on the driver
  * (same merges bit-for-bit — the graph operators' local fast-path
  * policy).
  *
  * Determinism contract (shared with the DuckDB oracle): pairs count
  * every adjacent occurrence (overlapping included: [a,a,a] counts
  * (a,a) twice); the winning pair is max count, ties to the
  * lexicographically smallest (left, right); a merge pass rewrites
  * non-overlapping occurrences left-to-right ([a,a,a] -> [aa,a]).
  */
object Bpe {

  /** Word-frequency table `(word, cnt)` over a text column: lowercase,
    * `[a-z]+` word extraction. The one corpus-sized job of BPE
    * training; everything after operates on its (vocabulary-sized)
    * output. */
  def wordCounts(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(
        regexp_extract_all(lower(col(textCol)), lit("[a-z]+"), lit(0)))
        .as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))

  /** All adjacent symbol pairs of one round, weighted by word count:
    * `(l, r, c)`. One hash-agg — the round's only shuffle (asserted by
    * BpeSpec's plan audit). */
  private[graft] def pairCounts(words: DataFrame): DataFrame = {
    val n = size(col("syms"))
    words
      .select(col("cnt"), explode(arrays_zip(
        slice(col("syms"), lit(1), n - 1).as("l"),
        slice(col("syms"), lit(2), n - 1).as("r"))).as("p"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum("cnt").as("c"))
  }

  /** The SEQUENCE-PRESERVING batch of merges from a sorted top-K
    * candidate window `(l, r, c)` (count desc, then (l, r) asc):
    * greedily accept a PREFIX whose pairs are pairwise symbol-disjoint
    * (merged symbols included — a later candidate naming an accepted
    * merge's output string would see new occurrences), stop at the
    * first conflicting candidate, and keep only candidates whose count
    * is STRICTLY above the first rejected/unknown candidate's count.
    *
    * Why this equals the one-merge-at-a-time sequence: merging (x, y)
    * only changes counts of pairs sharing x or y (destroyed neighbors)
    * or naming the merged symbol (created neighbors (w, xy), whose
    * count is bounded by count(w, x) — a sharing pair). Every sharing
    * pair sorts at or after the first rejected candidate, so its count
    * — and every created pair's — is <= that candidate's count, i.e.
    * strictly below every accepted candidate's. Accepted candidates'
    * own counts are exactly invariant under each other's merges, and
    * old pairs never gain count, so after applying accepted merges
    * 1..i-1 the (count desc, l, r) winner is exactly candidate i.
    * The strictness cut is what handles ties: a created pair could TIE
    * a kept candidate's count and win on lexicographic order.
    * `maxAccept` caps the batch (remaining merge budget). The head
    * candidate (the true sequential winner) is always accepted. */
  private[graft] def planBatch(top: Seq[(String, String, Long)],
      windowFull: Boolean, maxAccept: Int): Seq[(String, String)] = {
    val used = scala.collection.mutable.Set.empty[String]
    val accepted = scala.collection.mutable.ListBuffer.empty[(String, String, Long)]
    var tailCount = -1L
    var stopped = false
    top.foreach { case cand @ (l, r, c) =>
      if (!stopped) {
        if (accepted.size >= maxAccept) { tailCount = c; stopped = true }
        else if (used(l) || used(r)) { tailCount = c; stopped = true }
        else {
          accepted += cand
          used += l; used += r; used += (l + r)
        }
      }
    }
    // whole window accepted: candidates beyond it are unknown but
    // bounded by the window's last count (sorted desc)
    if (!stopped && windowFull && top.nonEmpty) tailCount = top.last._3
    accepted.toList match {
      case head :: tail =>
        (head :: tail.takeWhile(_._3 > tailCount)).map(t => (t._1, t._2))
      case Nil => Nil
    }
  }

  /** Train `numMerges` BPE merges over a `(word, cnt)` table. Returns
    * the ranked merge list — driver-sized (the model).
    *
    * Distributed loop with INCREMENTAL pair-count maintenance (the
    * fastBPE/ tokenizers-style bookkeeping, distributed): the pair
    * table is built ONCE, and each round delta-updates it from only
    * the words that CONTAIN the winning pair adjacently — subtract
    * those words' old pair multiset, add their post-merge multiset,
    * fold into the counts table. A full recount touches every word
    * every round (the r13 watch item at real vocab sizes: 4M words x
    * 50k merges = 200G word-rescans); the delta touches the affected
    * slice, which shrinks fast as merges specialize (the winning
    * pair's host words are a vanishing vocabulary fraction after the
    * first dozen rounds). Exactness: counts' = counts + delta is
    * integer arithmetic — bit-identical merges to the full recount
    * and to [[trainBpeLocal]] (spec-gated).
    *
    * Per round: one TakeOrdered window off the cached counts table,
    * one filter scan of the cached vocab, one pair hash-agg over
    * affected words only, one counts-sized merge agg. `localCheckpoint`
    * (not persist) on both rolling tables — 256+ rounds of
    * filter+union would otherwise nest the logical plan 256 deep and
    * stall the planner (the [[graft.osm.GraphCheck]] loop policy).
    *
    * BATCHED rounds: a 32k-merge production vocabulary at one shuffle
    * round per merge is hours of fixed per-round cost, so each round
    * pulls the top-`batchWindow` candidates and applies the
    * [[planBatch]] symbol-disjoint prefix — PROVABLY the same merge
    * sequence as one-at-a-time (see planBatch), just fewer shuffle
    * rounds. `batchWindow = 1` reproduces the classic loop shape. */
  def trainBpe(wordCounts: DataFrame, numMerges: Int,
      localThreshold: Long = 100000L,
      batchWindow: Int = 64,
      localSymThreshold: Long = 32000000L): Seq[(String, String)] =
    trainBpeSyms(
      wordCounts.select(split(col("word"), "").as("syms"), col("cnt")),
      numMerges, localThreshold, batchWindow, localSymThreshold)

  /** [[trainBpe]] over a pre-symbolized `(syms ARRAY<STRING>, cnt)`
    * table — the entry point byte-level training shares with the
    * character-level path (only the initial alphabet differs).
    *
    * ACTIVE-SET HAND-OFF: single-symbol words are permanently inert
    * (they can never host an adjacent pair again), so the live state
    * is the multi-symbol words' total symbol count. Whenever that
    * fits the driver (`localSymThreshold`, probed at round 0 and
    * every 8 batch rounds — one sum-agg job over the cached
    * vocabulary table), the remaining merges run in
    * [[trainBpeLocalIndexed]]: bit-identical merges (single-symbol
    * words contribute zero pairs, and the local trainer shares the
    * count/tie/rewrite contract) with zero further shuffle rounds —
    * the production-vocab economics fix (a 32k-merge vocabulary at
    * ~0.2 s/shuffle-round is hours; the indexed local loop finishes
    * the specialized tail in seconds). A 100 TB corpus starts far
    * above the threshold (hundreds of millions of unique-word
    * symbols) and crosses it as merges collapse frequent words. */
  def trainBpeSyms(symWords: DataFrame, numMerges: Int,
      localThreshold: Long = 100000L,
      batchWindow: Int = 64,
      localSymThreshold: Long = 32000000L): Seq[(String, String)] = {
    // one probe job; NULL `syms` or `cnt` stays on the distributed path
    LocalGate.rows(symWords, localThreshold).foreach { rows =>
      return trainBpeLocalIndexed(
        rows.toSeq.map(r => (r.getSeq[String](0).toIndexedSeq, r.getLong(1))),
        numMerges)
    }
    val spark = symWords.sparkSession
    import spark.implicits._
    // a NULL word or count holds no pair (pairCounts' explode and sum
    // skip it), so dropping it up front keeps the typed rewrite NULL-free
    var words = symWords
      .select(col("syms"), col("cnt"))
      .filter(col("syms").isNotNull && col("cnt").isNotNull)
      .localCheckpoint(true)
    def activeSymbols(): Long =
      words.filter(size(col("syms")) > 1)
        .agg(coalesce(sum(size(col("syms"))), lit(0L)))
        .head().getLong(0)
    def handOff(merges: Seq[(String, String)]): Seq[(String, String)] = {
      val local = words.filter(size(col("syms")) > 1)
        .as[(Seq[String], Long)].collect()
        .map { case (s, c) => (s.toIndexedSeq, c) }.toSeq
      System.err.println(s"[bpe] hand-off to indexed local loop at " +
        s"${merges.size} merges, ${local.size} active words")
      merges ++ trainBpeLocalIndexed(local, numMerges - merges.size)
    }
    if (localSymThreshold > 0 && activeSymbols() <= localSymThreshold)
      return handOff(Nil)
    // counts is pair-vocabulary sized (alphabet² at most early) — one
    // partition keeps the per-round top-K and merge-agg jobs 1-task
    var counts = pairCounts(words).coalesce(1).localCheckpoint(true)
    val merges = scala.collection.mutable.ListBuffer.empty[(String, String)]
    var continue = true
    var rounds = 0
    while (continue && merges.size < numMerges) {
      val top = counts
        .orderBy(col("c").desc, col("l"), col("r"))
        .limit(batchWindow).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
      val batch = planBatch(top, windowFull = top.size >= batchWindow,
        maxAccept = numMerges - merges.size)
      if (batch.isEmpty) continue = false
      else {
        merges ++= batch
        // ONE typed pass rewrites every word and carries the pre-merge
        // symbols of changed words for the delta (null when untouched).
        // A plain-Scala greedy pass, not the Column `aggregate` fold:
        // the fold carries a struct + array-concat per element —
        // O(len²) interpreted column ops per word, measured as the
        // round's dominant cost at 145k words. Same per-word greedy
        // semantics as [[mergeLocal]]; batch disjointness makes the
        // combined pass equal the per-pair sequential passes.
        val bm = batch.map { case (l, r) => (l, r) -> (l + r) }.toMap
        val rewritten = words.as[(Seq[String], Long)]
          .mapPartitions { it =>
            it.map { case (syms, cnt) =>
              val out = scala.collection.mutable.ArrayBuffer.empty[String]
              var changed = false
              var i = 0
              while (i < syms.length) {
                val m = if (i < syms.length - 1)
                  bm.getOrElse((syms(i), syms(i + 1)), null) else null
                if (m != null) { out += m; changed = true; i += 2 }
                else { out += syms(i); i += 1 }
              }
              (out.toSeq, if (changed) syms else null, cnt)
            }
          }
          .toDF("syms", "old_syms", "cnt")
          .localCheckpoint(true) // the round's ONE eager vocab-scan job
        words = rewritten.select("syms", "cnt")
        val changed = rewritten.filter(col("old_syms").isNotNull)
        val delta = pairCounts(
          changed.select(col("syms"), col("cnt")).unionByName(
            changed.select(col("old_syms").as("syms"), (-col("cnt")).as("cnt"))))
          .filter(col("c") =!= 0)
        // LAZY checkpoint: still truncates the plan immediately, but
        // materializes inside the next round's top-K job instead of
        // as its own blocking job — one fewer job boundary per round
        counts = counts.unionByName(delta)
          .groupBy("l", "r").agg(sum("c").as("c"))
          .filter(col("c") > 0)
          .coalesce(1)
          .localCheckpoint(false)
      }
      rounds += 1
      // active-set probe (see trainBpeSyms doc): one cheap sum-agg
      // every 8 batch rounds; crossing the threshold finishes the
      // remaining merges driver-side with zero further shuffle rounds
      if (continue && merges.size < numMerges && localSymThreshold > 0 &&
          rounds % 8 == 0 && activeSymbols() <= localSymThreshold) {
        System.err.println(s"[bpe] ${merges.size} merges in $rounds " +
          s"shuffle rounds (window $batchWindow) before hand-off")
        return handOff(merges.toList)
      }
    }
    System.err.println(s"[bpe] ${merges.size} merges in $rounds shuffle " +
      s"rounds (window $batchWindow)")
    merges.toList
  }

  /** Driver-local training loop — identical merges to the distributed
    * path by construction (same count/tie/rewrite rules). */
  private[graft] def trainBpeLocal(words: Seq[(IndexedSeq[String], Long)],
      numMerges: Int): Seq[(String, String)] = {
    var ws = words
    val merges = scala.collection.mutable.ListBuffer.empty[(String, String)]
    var continue = true
    for (_ <- 1 to numMerges if continue) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      ws.foreach { case (syms, cnt) =>
        var i = 0
        while (i < syms.length - 1) {
          val k = (syms(i), syms(i + 1))
          counts(k) = counts.getOrElse(k, 0L) + cnt
          i += 1
        }
      }
      if (counts.isEmpty) continue = false
      else {
        val best = counts.toSeq
          .minBy { case ((l, r), c) => (-c, l, r) }._1
        merges += best
        ws = ws.map { case (syms, cnt) => (mergeLocal(syms, best), cnt) }
      }
    }
    merges.toList
  }

  /** Driver-local training with INCREMENTAL pair bookkeeping (the
    * fastBPE shape): pair counts and a pair -> word-ids occurrence
    * index are built once; each merge round scans the counts map for
    * the (count desc, l, r) winner and rewrites ONLY the words in the
    * winner's occurrence list, folding each rewritten word's pair
    * delta back into the counts. Occurrence lists may go stale (a word
    * rewritten by a later merge keeps its old entries); a stale entry
    * is harmless — the rewrite is a no-op and its delta is zero.
    * Bit-identical merges to [[trainBpeLocal]] (spec-gated): same
    * overlap counting, same tie-break, same greedy rewrite — the
    * (l, r) key makes every argmax unique, so map iteration order
    * can't leak in. O(total symbols) init; each round costs the
    * counts-map scan + the touched words' lengths. */
  private[graft] def trainBpeLocalIndexed(
      words: Seq[(IndexedSeq[String], Long)],
      numMerges: Int): Seq[(String, String)] = {
    val ws = words.map(_._1).toArray
    val cnt = words.map(_._2).toArray
    val counts = scala.collection.mutable.HashMap
      .empty[(String, String), Long]
    val occ = scala.collection.mutable.HashMap
      .empty[(String, String), scala.collection.mutable.ArrayBuffer[Int]]
    def pairsOf(syms: IndexedSeq[String]): Iterator[(String, String)] =
      (0 until syms.length - 1).iterator.map(i => (syms(i), syms(i + 1)))
    ws.indices.foreach { wi =>
      pairsOf(ws(wi)).foreach { p =>
        counts(p) = counts.getOrElse(p, 0L) + cnt(wi)
        occ.getOrElseUpdate(p,
          scala.collection.mutable.ArrayBuffer.empty[Int]) += wi
      }
    }
    val merges = scala.collection.mutable.ListBuffer.empty[(String, String)]
    var continue = true
    while (continue && merges.size < numMerges) {
      if (counts.isEmpty) continue = false
      else {
        val best = counts.iterator
          .reduceLeft { (a, b) =>
            val cmp = java.lang.Long.compare(b._2, a._2)
            if (cmp != 0) { if (cmp < 0) a else b }
            else if (Ordering[(String, String)].lteq(a._1, b._1)) a else b
          }._1
        merges += best
        val touched = occ.getOrElse(best,
          scala.collection.mutable.ArrayBuffer.empty[Int])
        touched.distinct.foreach { wi =>
          val old = ws(wi)
          val merged = mergeLocal(old, best)
          if (merged.length != old.length) {
            pairsOf(old).foreach { p =>
              val c = counts(p) - cnt(wi)
              if (c == 0L) counts.remove(p) else counts(p) = c
            }
            pairsOf(merged).foreach { p =>
              counts(p) = counts.getOrElse(p, 0L) + cnt(wi)
              occ.getOrElseUpdate(p,
                scala.collection.mutable.ArrayBuffer.empty[Int]) += wi
            }
            ws(wi) = merged
          }
        }
        occ.remove(best)
      }
    }
    merges.toList
  }

  // ---- byte-level BPE (the GPT-2 tokenizer-training shape) ----------

  /** Regex pre-tokenization for byte-level BPE: space-prefixed letter
    * runs, digit runs, and punctuation runs over the lowercased text —
    * the GPT-2 pattern family, minus its lookahead clause (`\s+(?!\S)`)
    * so the SAME pattern replays in RE2 engines (the DuckDB oracle);
    * unmatched whitespace separates pre-tokens and is dropped. The
    * space prefix is what byte-level vocabularies encode word
    * boundaries with. */
  def bytePretokens(text: Column): Column =
    regexp_extract_all(lower(text),
      lit(" ?[a-z]+| ?[0-9]+| ?[^a-z0-9\\s]+"), lit(0))

  /** Pre-token frequency table for byte-level training — the same
    * one-corpus-scan contract as [[wordCounts]]. */
  def byteWordCounts(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(bytePretokens(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))

  /** A pre-token's initial byte symbols: UTF-8 bytes as two-hex-digit
    * strings ("20" = the boundary space, "61" = 'a'); merged symbols
    * concatenate hex pairs. Hex-coding plays GPT-2's byte-to-unicode
    * role — every byte (not every codepoint) is a first-class symbol
    * with a printable, SQL-portable name, so the trained vocabulary
    * has full byte fallback and the DuckDB oracle replays it with
    * `hex(encode(word))`. */
  def byteSyms(word: Column): Column =
    regexp_extract_all(hex(encode(word, "UTF-8")), lit(".."), lit(0))

  /** Train byte-level BPE merges over a [[byteWordCounts]] table:
    * the SAME training loop as [[trainBpe]] — only the initial
    * alphabet (bytes, not characters) differs. */
  def trainBpeBytes(wordCounts: DataFrame, numMerges: Int,
      localThreshold: Long = 100000L,
      batchWindow: Int = 64,
      localSymThreshold: Long = 32000000L): Seq[(String, String)] =
    trainBpeSyms(
      wordCounts.select(byteSyms(col("word")).as("syms"), col("cnt")),
      numMerges, localThreshold, batchWindow, localSymThreshold)

  /** Greedy left-to-right non-overlapping merge pass of one pair over
    * one word: the rewrite rule of the determinism contract. */
  private[graft] def mergeLocal(syms: IndexedSeq[String],
      pair: (String, String)): IndexedSeq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      if (i < syms.length - 1 && syms(i) == pair._1 && syms(i + 1) == pair._2) {
        out += pair._1 + pair._2
        i += 2
      } else {
        out += syms(i)
        i += 1
      }
    }
    out.toIndexedSeq
  }

  /** Retokenize a corpus with a trained merge list: per word, apply
    * each merge in rank order as one greedy pass (Sennrich's apply —
    * replays training exactly, so a word seen at train time tokenizes
    * to its final train-time symbols). The merge list is driver-sized
    * model state captured into the closure (broadcast by the task
    * serializer); the pass is inherently sequential per word, so this
    * is a typed mapPartitions stage (the multimodal-codec policy), not
    * an expression. Output: `(idCol, tokens ARRAY<STRING>)`, tokens in
    * document order. */
  def applyBpe(docs: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame =
    applyWith(docs, idCol, textCol, merges, "[a-z]+",
      w => w.map(_.toString).toIndexedSeq)

  /** Byte-level [[applyBpe]]: the SAME pre-tokenization regex as
    * [[bytePretokens]] and the same hex byte symbols as [[byteSyms]],
    * so a pre-token seen at train time tokenizes to its final
    * train-time symbols. Tokens stay in the hex-symbol namespace (the
    * vocabulary's canonical names, full byte fallback — decode is
    * hex -> bytes -> UTF-8 when a consumer needs text back). */
  def applyBpeBytes(docs: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame =
    applyWith(docs, idCol, textCol, merges,
      " ?[a-z]+| ?[0-9]+| ?[^a-z0-9\\s]+",
      w => w.getBytes("UTF-8").map(b => f"${b & 0xff}%02X": String)
        .toIndexedSeq)

  private def applyWith(docs: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)], pretokenRe: String,
      symbolize: String => IndexedSeq[String]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val ms = merges.toArray
    docs.select(col(idCol).cast("long"), lower(col(textCol)))
      .as[(Long, String)]
      .mapPartitions { it =>
        val wordRe = pretokenRe.r
        // per-partition memo: corpora repeat words heavily, and one
        // word's tokenization is pure
        val memo = scala.collection.mutable.Map.empty[String, Seq[String]]
        def tok(w: String): Seq[String] = memo.getOrElseUpdate(w, {
          var syms: IndexedSeq[String] = symbolize(w)
          ms.foreach { m =>
            if (syms.length > 1) syms = mergeLocal(syms, m)
          }
          syms
        })
        it.map { case (id, text) =>
          (id, wordRe.findAllIn(if (text == null) "" else text)
            .flatMap(tok).toSeq)
        }
      }
      .toDF(idCol, "tokens")
  }
}
