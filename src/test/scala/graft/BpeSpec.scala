package graft

import org.apache.spark.sql.functions._

import graft.llm.Bpe

/** Distributed BPE vocabulary training: hand-computed merges, the
  * local/distributed path agreement, greedy-rewrite semantics, apply
  * retokenization, and the one-shuffle-per-round plan audit. */
class BpeSpec extends SparkTestBase {
  import spark.implicits._

  // Sennrich's worked example: low×5 lower×2 newest×6 widest×3.
  // Hand-derived (count desc, lexicographic (l, r) ties, overlapping
  // pair counting): es(9), est(9), lo(7 — tie (l,o)/(o,w) to (l,o)),
  // low(7).
  private val fixture = Seq(
    ("low", 5L), ("lower", 2L), ("newest", 6L), ("widest", 3L))
  private val expected =
    Seq(("e", "s"), ("es", "t"), ("l", "o"), ("lo", "w"))

  test("trainBpeLocal: Sennrich worked example, hand-computed merge sequence") {
    val words = fixture.map { case (w, c) =>
      (w.map(_.toString).toIndexedSeq, c)
    }
    assert(Bpe.trainBpeLocal(words, 4) === expected)
    // asking for more merges than the fixture supports stops cleanly
    assert(Bpe.trainBpeLocal(words, 1000).length >= 4)
  }

  test("trainBpe distributed path produces the identical merge sequence") {
    val wc = fixture.toDF("word", "cnt")
    assert(Bpe.trainBpe(wc, 4, localThreshold = 0, localSymThreshold = 0) === expected)
    // and the local fast path (threshold above table size) agrees
    assert(Bpe.trainBpe(wc, 4) === expected)
  }

  test("merge pass is greedy left-to-right non-overlapping: [a,a,a] -> [aa,a]") {
    assert(Bpe.mergeLocal(IndexedSeq("a", "a", "a"), ("a", "a"))
      === IndexedSeq("aa", "a"))
    assert(Bpe.mergeLocal(IndexedSeq("a", "a", "a", "a"), ("a", "a"))
      === IndexedSeq("aa", "aa"))
  }

  test("applyBpe retokenizes with trained merges, replaying training exactly") {
    val docs = Seq((1L, "lowest newest"), (2L, "low low wider"))
      .toDF("doc_id", "text")
    val toks = Bpe.applyBpe(docs, "doc_id", "text", expected)
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toList).toMap
    // lowest: l o w e s t -> es -> est -> lo -> low => [low, est]
    // newest: -> [n, e, w, est]  (exactly its final train-time symbols)
    assert(toks(1L) === List("low", "est", "n", "e", "w", "est"))
    assert(toks(2L) === List("low", "low", "w", "i", "d", "e", "r"))
  }

  test("incremental pair maintenance: 48 distributed merges bit-match the local recount on a random corpus") {
    // deterministic pseudo-corpus wide enough that merges keep landing
    // in different words — the regime where the delta bookkeeping must
    // keep agreeing with a from-scratch recount for many rounds
    val rnd = new scala.util.Random(42)
    val alphabet = "abcdef"
    val wc = (1 to 220).map { _ =>
      val len = 3 + rnd.nextInt(8)
      (Seq.fill(len)(alphabet(rnd.nextInt(alphabet.length))).mkString,
        1L + rnd.nextInt(9))
    }.groupBy(_._1).map { case (w, g) => (w, g.map(_._2).sum) }.toSeq
    val local = Bpe.trainBpeLocal(
      wc.map { case (w, c) => (w.map(_.toString).toIndexedSeq, c) }, 48)
    val dist = Bpe.trainBpe(wc.toDF("word", "cnt"), 48,
      localThreshold = 0, localSymThreshold = 0)
    assert(dist === local)
    assert(dist.length === 48, s"fixture must support 48 merges, got ${dist.length}")
  }

  test("batched rounds reproduce the sequential merge sequence exactly (window 64 vs 1)") {
    val rnd = new scala.util.Random(7)
    val alphabet = "abcdefgh"
    val wc = (1 to 300).map { _ =>
      val len = 3 + rnd.nextInt(9)
      (Seq.fill(len)(alphabet(rnd.nextInt(alphabet.length))).mkString,
        1L + rnd.nextInt(9))
    }.groupBy(_._1).map { case (w, g) => (w, g.map(_._2).sum) }.toSeq
    val df = wc.toDF("word", "cnt")
    val seq1 = Bpe.trainBpe(df, 40, localThreshold = 0,
      batchWindow = 1, localSymThreshold = 0)
    val seq64 = Bpe.trainBpe(df, 40, localThreshold = 0,
      batchWindow = 64, localSymThreshold = 0)
    assert(seq64 === seq1, "batched != sequential")
    assert(seq1.length === 40)
  }

  test("planBatch: disjoint prefix, conflict stop, strict-count tie cut, head always kept") {
    // head accepted; (c,d) disjoint and 9 > tail 5 -> kept;
    // (a,x) shares 'a' with head -> rejected, sets tailCount = 5;
    // nothing after the stop is considered
    assert(Bpe.planBatch(Seq(("a", "b", 10L), ("c", "d", 9L),
      ("a", "x", 5L), ("e", "f", 4L)), windowFull = false, maxAccept = 10)
      === Seq(("a", "b"), ("c", "d")))
    // tie with the rejected candidate: (c,d)=5 NOT > 5 -> cut; head kept
    assert(Bpe.planBatch(Seq(("a", "b", 10L), ("c", "d", 5L),
      ("a", "x", 5L)), windowFull = false, maxAccept = 10)
      === Seq(("a", "b")))
    // merged-symbol conflict: ("ab","z") names head's output -> stop
    assert(Bpe.planBatch(Seq(("a", "b", 10L), ("ab", "z", 9L),
      ("c", "d", 8L)), windowFull = false, maxAccept = 10)
      === Seq(("a", "b")))
    // full window, all disjoint: unknown tail bounds at last count ->
    // last (tied at 6) is cut, head + strictly-above survive
    assert(Bpe.planBatch(Seq(("a", "b", 10L), ("c", "d", 8L), ("e", "f", 6L)),
      windowFull = true, maxAccept = 10)
      === Seq(("a", "b"), ("c", "d")))
    // same window NOT full (no unknown tail): everything accepted
    assert(Bpe.planBatch(Seq(("a", "b", 10L), ("c", "d", 8L), ("e", "f", 6L)),
      windowFull = false, maxAccept = 10)
      === Seq(("a", "b"), ("c", "d"), ("e", "f")))
    // maxAccept caps the batch
    assert(Bpe.planBatch(Seq(("a", "b", 10L), ("c", "d", 8L), ("e", "f", 6L)),
      windowFull = false, maxAccept = 1) === Seq(("a", "b")))
    assert(Bpe.planBatch(Nil, windowFull = false, maxAccept = 5) === Nil)
  }

  test("trainBpeSyms: a NULL syms row leaves the local gate and counts no pair") {
    val words = (fixture.map { case (w, c) => (Option(w.map(_.toString)), c) } :+
      (Option.empty[Seq[String]], 4L)).toDF("syms", "cnt")
    assert(Bpe.trainBpeSyms(words, 4) === expected)
    assert(Bpe.trainBpeSyms(words, 4, localThreshold = 0,
      localSymThreshold = 0) === expected)
  }

  test("plan audit: one merge round costs exactly one shuffle") {
    val words = fixture.toDF("word", "cnt")
      .select(split(col("word"), "").as("syms"), col("cnt"))
    val round = Bpe.pairCounts(words)
      .orderBy(col("c").desc, col("l"), col("r")).limit(1)
    val plan = round.queryExecution.executedPlan.toString
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length +
      "Exchange rangepartitioning".r.findAllIn(plan).length
    assert(shuffles === 1, s"expected 1 shuffle per round, plan:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      "top-1 must be TakeOrdered, not a global sort")
    assert(plan.contains("partial_sum") || plan.contains("partial"),
      "pair counting must map-side combine before the shuffle")
  }

  test("trainBpeLocalIndexed bit-matches the naive local recount (128 merges, random corpus)") {
    val rnd = new scala.util.Random(19)
    val alphabet = "abcdefg"
    val words = (1 to 400).map { _ =>
      val len = 3 + rnd.nextInt(9)
      (Seq.fill(len)(alphabet(rnd.nextInt(alphabet.length))).mkString,
        1L + rnd.nextInt(9))
    }.groupBy(_._1).map { case (w, g) => (w, g.map(_._2).sum) }.toSeq
      .map { case (w, c) => (w.map(_.toString).toIndexedSeq, c) }
    val naive = Bpe.trainBpeLocal(words, 128)
    val indexed = Bpe.trainBpeLocalIndexed(words, 128)
    assert(indexed === naive)
    assert(naive.length === 128,
      s"fixture must support 128 merges, got ${naive.length}")
    // Sennrich worked example too (hand-derived, not just self-agreement)
    assert(Bpe.trainBpeLocalIndexed(fixture.map { case (w, c) =>
      (w.map(_.toString).toIndexedSeq, c) }, 4) === expected)
  }

  test("active-set hand-off: mid-loop switch to the indexed local loop keeps the merge sequence") {
    val rnd = new scala.util.Random(23)
    val alphabet = "abcdef"
    val wc = (1 to 260).map { _ =>
      val len = 3 + rnd.nextInt(8)
      (Seq.fill(len)(alphabet(rnd.nextInt(alphabet.length))).mkString,
        1L + rnd.nextInt(9))
    }.groupBy(_._1).map { case (w, g) => (w, g.map(_._2).sum) }.toSeq
    val df = wc.toDF("word", "cnt")
    val pure = Bpe.trainBpe(df, 40, localThreshold = 0,
      localSymThreshold = 0)
    // threshold below the fixture's initial symbol count -> the probe
    // fires only after merges shrink the active set (mid-loop); the
    // probe runs every 8 rounds, so with batchWindow=1 the first 8+
    // merges are distributed before the switch
    val initialSyms = wc.map { case (w, c) => w.length }.sum
    val mid = Bpe.trainBpe(df, 40, localThreshold = 0,
      batchWindow = 1, localSymThreshold = initialSyms - 50L)
    assert(mid === pure, "hand-off changed the merge sequence")
    // threshold at/above the initial count -> immediate hand-off
    val immediate = Bpe.trainBpe(df, 40, localThreshold = 0,
      localSymThreshold = initialSyms + 10L)
    assert(immediate === pure)
  }

  test("byte-level BPE: pre-tokens, hex byte symbols, hand-checked merges") {
    // bytePretokens: space-prefix convention, letter/digit/punct runs
    val pre = Seq(("Low cost, 24x!"))
      .toDF("text")
      .select(Bpe.bytePretokens(col("text")).as("p"))
      .head().getSeq[String](0).toList
    assert(pre === List("low", " cost", ",", " 24", "x", "!"))
    // byteSyms: UTF-8 bytes as 2-hex-digit symbols (space = 20)
    val syms = Seq((" ab"))
      .toDF("w").select(Bpe.byteSyms(col("w")).as("s"))
      .head().getSeq[String](0).toList
    assert(syms === List("20", "61", "62"))
    // trained byte merges on a fixture where " l"(0x20 0x6C) dominates:
    // "low"x5 + " low"x9 -> pairs: (6C,6F)=14, (6F,77)=14, (20,6C)=9 ...
    // winner by count then lex: (6C,6F); then (6C6F,77)=14 wins; then
    // (20,6C6F77)=9
    val merges = Bpe.trainBpeBytes(
      Seq(("low", 5L), (" low", 9L)).toDF("word", "cnt"), 3)
    assert(merges === Seq(("6C", "6F"), ("6C6F", "77"), ("20", "6C6F77")))
    // byte-level apply replays training: " low" -> its final
    // train-time symbol ["206C6F77"], leading "low" (no space
    // prefix) -> ["6C6F77"]
    val toks = Bpe.applyBpeBytes(
        Seq((1L, "low low!")).toDF("doc_id", "text"),
        "doc_id", "text", merges)
      .head().getSeq[String](1).toList
    assert(toks === List("6C6F77", "206C6F77", "21"))
  }
}
