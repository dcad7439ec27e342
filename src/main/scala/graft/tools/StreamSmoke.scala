package graft.tools

import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.streaming.EventStream
import graft.streaming.EventStream.Event

/** Scale-headroom smoke for the stateful Structured Streaming operators
  * (`EventStream.dedupStream` / `intervalJoin`): feeds a synthetic,
  * closed-form event stream through real `MemoryStream` micro-batches at
  * a base scale and `factor` times it, self-asserts the EXACT emitted
  * row counts (so a degenerate run can't read as a fast one), and
  * reports the empirical time exponent log(t_hi/t_lo)/log(factor) per
  * probe. Three probes:
  *
  *   - `dedup` — cross-batch exact dedup with an effectively-unbounded
  *     watermark: batch 1 covers every fingerprint, batch 2 (plus a
  *     1000-row at-least-once replay slice) must emit NOTHING. State
  *     rows must equal the distinct-key count — state tracks KEYS, not
  *     events.
  *   - `window_dedup` — the production configuration: a 1-hour
  *     watermark over a multi-hour, chronologically-fed stream (8
  *     batches). Emitted count is still exactly distinct-keys (each
  *     key's duplicates arrive adjacently, inside the watermark), and
  *     the FINAL state row count must be a small fraction of the total
  *     key count: the witness that eviction keeps streaming state
  *     bounded by the window, not the corpus — the property that lets
  *     this run forever at 100 TB/day.
  *   - `interval_join` — stream-stream join where matches must form
  *     ACROSS batches out of retained state, with n-proportional
  *     unmatched left rows held in state (the realistic shape: most
  *     events never match). Output is exactly 3 per user by
  *     construction.
  *
  * Timing is min-of-2 per probe per scale (fresh query + checkpoint
  * each run; only code warmth carries over — same steady-state protocol
  * as [[LlmScaleSmoke]]). Prints one JSON line.
  * `runMain graft.tools.StreamSmoke [baseEventsK] [factor]`
  * (defaults 200 and 10).
  */
object StreamSmoke {

  /** Deterministic event layout, 100 ids per user occupying a 2-hour
    * block: offset 0 is a click at +0; offsets 1-3 are views at
    * +10/20/30 min (each matches the user's click within a 1 h
    * horizon); offsets >= 4 are noise in the block's SECOND hour, after
    * every view, so they can never match anything (r_ts >= l_ts fails
    * both ways) but still load the join state. */
  private def mkEvent(id: Long): Event = {
    val u = id / 100
    val o = (id % 100).toInt
    // wrap the per-user 2 h blocks so total event-time span stays
    // FIXED (~83 days) as n grows: the 365 d join watermark must keep
    // every batch-2 row on-time at any scale, or the engine correctly
    // drops them as late and the closed-form count breaks (observed at
    // 2M events: 20k users = 4.5 years of span, 78% of matches lost).
    // Users sharing a time window is irrelevant — the join is per-user.
    val base = 1700000000000L + (u % 1000L) * 7200000L
    val (tpe, ts) =
      if (o == 0) ("click", base)
      else if (o <= 3) ("view", base + o * 600000L)
      else ("other", base + 3600000L + o * 1000L)
    Event(id, new Timestamp(ts), u, tpe, (id % 1000).toDouble)
  }

  /** Chronology-preserving events for the dedup probes: ts advances
    * 100 ms per id, so `id div 10` keys are 1-second runs and an
    * 8-batch chronological feed spans hours of event time. */
  private def mkChronoEvent(id: Long): Event =
    Event(id, new Timestamp(1700000000000L + id * 100L), id / 100,
      "e" + (id % 5), (id % 1000).toDouble)

  private def runDedup(spark: SparkSession, events: IndexedSeq[Event],
      fingerprint: org.apache.spark.sql.Column, watermark: String,
      batches: Seq[IndexedSeq[Event]]): (Double, Long, Long) = {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val stream = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[Event]
    val emitted = new AtomicLong(0)
    val q = EventStream.dedupStream(stream.toDF(), fingerprint, watermark)
      .writeStream
      .foreachBatch { (df: DataFrame, _: Long) =>
        emitted.addAndGet(df.count()); ()
      }
      .start()
    val t0 = System.nanoTime()
    try {
      batches.foreach { b => stream.addData(b); q.processAllAvailable() }
      val sec = (System.nanoTime() - t0) / 1e9
      val stateRows = q.recentProgress.reverse
        .find(_.stateOperators.nonEmpty)
        .map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(-1L)
      (sec, emitted.get(), stateRows)
    } finally q.stop()
  }

  private def runIntervalJoin(spark: SparkSession,
      lb: Seq[IndexedSeq[Event]], rb: Seq[IndexedSeq[Event]]): (Double, Long) = {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val ls = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[Event]
    val rs = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[Event]
    val emitted = new AtomicLong(0)
    val q = EventStream.intervalJoin(ls.toDF(), rs.toDF(), "user_id",
        horizon = "1 hour", watermark = "365 days")
      .writeStream
      .foreachBatch { (df: DataFrame, _: Long) =>
        emitted.addAndGet(df.count()); ()
      }
      .start()
    val t0 = System.nanoTime()
    try {
      lb.zip(rb).foreach { case (l, r) =>
        ls.addData(l); rs.addData(r); q.processAllAvailable()
      }
      ((System.nanoTime() - t0) / 1e9, emitted.get())
    } finally q.stop()
  }

  /** Streaming MinHash-LSH candidate probe (EventStream.
    * nearDupCandidates, the r18 driver-checked operator at scale):
    * docs with a synthetic chronology (1 doc/second), every 100-block
    * carrying a 10-doc identical-text run (so each run emits exactly
    * (10-1) x 4-band candidate pairs within its own second, far inside
    * the horizon) and 90 token-disjoint unique docs (disjoint shingle
    * sets -> band collisions only by 4-consecutive-minhash agreement,
    * negligible). Returns (sec, emitted, stateRows): emitted has the
    * closed form 36 x (n/100) (small positive slack tolerated), state
    * is bounded by ONE HORIZON of band buckets — 4 x docs-per-hour —
    * not the corpus (the operator's whole point). */
  private def runNearDup(spark: SparkSession,
      batches: Seq[IndexedSeq[(Long, Timestamp, String)]])
      : (Double, Long, Long, Long) = {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    implicit val sp: SparkSession = spark
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, expr}
    val stream = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Timestamp, String)]
    val emitted = new AtomicLong(0)
    val dupExact = new AtomicLong(0)
    // the closed-form pairs: both ids in the SAME identical-text run,
    // id_a its first member (min id — batches are chronological and
    // the operator processes event-time order, so first arrival = g*100)
    val isDup = col("id_a") % 100 === 0 && col("id_b") % 100 < 10 &&
      expr("id_a div 100") === expr("id_b div 100")
    val q = EventStream.nearDupCandidates(
        stream.toDF().toDF("doc_id", "ts", "text"), "doc_id",
        org.apache.spark.sql.functions.col("text"), watermark = "1 hour")
      .toDF()
      .writeStream
      .foreachBatch { (df: DataFrame, _: Long) =>
        val cached = df.cache()
        emitted.addAndGet(cached.count())
        dupExact.addAndGet(cached.filter(isDup).count())
        cached.unpersist(); ()
      }
      .start()
    val t0 = System.nanoTime()
    try {
      batches.foreach { b => stream.addData(b); q.processAllAvailable() }
      val sec = (System.nanoTime() - t0) / 1e9
      val stateRows = q.recentProgress.reverse
        .find(_.stateOperators.nonEmpty)
        .map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(-1L)
      (sec, emitted.get(), dupExact.get(), stateRows)
    } finally q.stop()
  }

  /** Hashed hex token — docs built from these are shingle-RANDOM:
    * structured schemes (numeric tokens like `q${i*7}`, or a phrase
    * template differing only in a number) share digit-prefix 5-grams
    * between numerically-near docs, giving Jaccard high enough that
    * 4-minhash band keys agree for ~7% of the planted closed form and
    * even STEAL bucket-firsts from the planted runs (measured: 5814 of
    * 7200 expected exact pairs at 20k docs). Random hex tokens drop
    * cross-doc Jaccard to ~1 shared shingle per million pairs —
    * band agreement P ~ J^4 vanishes. */
  private def hexTok(key: String): String =
    java.lang.Long.toHexString(
      (scala.util.hashing.MurmurHash3.stringHash(key).toLong
        & 0xffffffffL) | 0x100000000L)

  private def mkDoc(i: Long): (Long, Timestamp, String) = {
    // dup runs: identical text within the 10-doc run, keyed tokens
    // distinct across runs; unique docs: per-doc keyed tokens
    val key = if (i % 100 < 10) s"g${i / 100}" else s"u$i"
    val text = (1 to 6).map(s => hexTok(s"$key:$s")).mkString(" ")
    (i, new Timestamp(1700000000000L + i * 1000L), text)
  }

  private def exp(lo: Double, hi: Double, factor: Double): Double =
    math.log(hi / lo) / math.log(factor)

  def main(args: Array[String]): Unit = {
    val hostBefore = HostRegime.loadavg()
    val baseK = if (args.nonEmpty) args(0).toLong else 200L
    val factor = if (args.length > 1) args(1).toLong else 10L
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // State-store backend (guide §5 memory-at-scale): the default
    // HDFSBacked provider keeps EVERY state row on-heap per partition
    // (plus per-batch snapshot copies) — at 100 TB/day horizons the
    // state outgrows executor heaps and the GC churn shows up as a
    // superlinear time exponent (the r20 dedup_exp 1.16 weak).
    // SPARK_GRAFT_STATE_PROVIDER=rocksdb re-witnesses on the production
    // answer — RocksDB keeps state off-heap/on-disk with bounded block
    // cache. Default stays hdfs so the exponent series is comparable
    // round-over-round; the JSON line records which backend ran.
    val provider = sys.env.getOrElse("SPARK_GRAFT_STATE_PROVIDER", "hdfs")
      .toLowerCase
    val providerClass = provider match {
      case "rocksdb" => "org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider"
      case _ => "org.apache.spark.sql.execution.streaming.state." +
        "HDFSBackedStateStoreProvider"
    }
    val spark = graft.GraftSession.local(cpus.toInt)
    // state-partition count is the knob a cluster sizes to key
    // cardinality x throughput; fixed across both scales here so the
    // exponent isolates the per-event cost
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", providerClass)

    def probe(n: Long): (Double, Double, Double, Long, Double, Long) = {
      require(n % 200 == 0, "n must be a multiple of 200")
      // ---- dedup, unbounded watermark: key = id mod n/10; ids < n/2
      // already cover every key, so batch 2 + replay emit nothing
      val chrono = (0L until n).map(mkChronoEvent)
      val half = (n / 2).toInt
      val dedupBatches = Seq(chrono.slice(0, half),
        chrono.slice(half, n.toInt) ++ chrono.take(1000))
      def dedupOnce(): Double = {
        val (sec, emitted, stateRows) = runDedup(spark, chrono,
          (col("event_id") % (n / 10)).cast("string"), "365 days",
          dedupBatches)
        require(emitted == n / 10,
          s"dedup: emitted $emitted, expected ${n / 10}")
        require(stateRows == n / 10,
          s"dedup: state rows $stateRows != distinct keys ${n / 10}")
        sec
      }
      // ---- dedup, 1-hour watermark, 8 chronological batches; each
      // key's 10 duplicates are a 1-second run so dedup still exact
      val nb = 8
      val winBatches = (0 until nb).map { i =>
        chrono.slice(i * (n / nb).toInt, ((i + 1) * (n / nb)).toInt)
      }
      var winStateRows = -1L
      def winDedupOnce(): Double = {
        val (sec, emitted, stateRows) = runDedup(spark, chrono,
          expr("event_id div 10").cast("string"), "1 hour", winBatches)
        require(emitted == n / 10,
          s"window_dedup: emitted $emitted, expected ${n / 10}")
        // bound: keys of the final batch (watermark only advances at
        // batch boundaries) + an hour's worth of tail keys + slack
        val bound = n / (10 * nb) + 36000 / 10 + 2000
        require(stateRows >= 0 && stateRows <= bound,
          s"window_dedup: final state $stateRows exceeds bound $bound")
        winStateRows = stateRows
        sec
      }
      // ---- interval join: evens' left + odds' right first, then the
      // complement — every match crosses a batch boundary or state
      val ev = (0L until n).map(mkEvent)
      val left = ev.filter(e => e.event_type != "view")
      val right = ev.filter(e => e.event_type == "view")
      val lb = Seq(left.filter(_.user_id % 2 == 0),
        left.filter(_.user_id % 2 == 1))
      val rb = Seq(right.filter(_.user_id % 2 == 1),
        right.filter(_.user_id % 2 == 0))
      def ijOnce(): Double = {
        val (sec, emitted) = runIntervalJoin(spark, lb, rb)
        require(emitted == 3 * (n / 100),
          s"interval_join: emitted $emitted, expected ${3 * (n / 100)}")
        sec
      }
      // ---- streaming LSH candidates: docs at n/10 (per-doc minhash
      // work is ~10x an event's), 8 chronological batches, 1-hour
      // horizon. Candidates exact by closed form (1% slack for
      // negligible random band agreement); state bounded by the
      // horizon's band buckets, NOT the corpus.
      val docsN = n / 10
      // batch slicing below feeds nb*(docsN/nb) docs; the closed-form
      // expect uses docsN, so the gate is only sound when nothing is
      // dropped — pin that invariant instead of relying on current
      // baseK/nb values happening to divide evenly
      require(docsN % nb == 0,
        s"stream_smoke: docsN=$docsN must be a multiple of nb=$nb " +
          "(tail docs would be silently dropped under the closed-form gate)")
      val docs = (0L until docsN).map(mkDoc)
      val docBatches = (0 until nb).map { i =>
        docs.slice(i * (docsN / nb).toInt, ((i + 1) * (docsN / nb)).toInt)
      }
      var ndStateRows = -1L
      def ndOnce(): Double = {
        val (sec, emitted, dupExact, stateRows) = runNearDup(spark, docBatches)
        val expect = 36L * (docsN / 100)
        // every planted run collides in all 4 bands with its own first
        // (min id, chronological arrival) — 36 pairs per run; hashed-
        // hex tokens make cross-doc band agreement vanishingly rare,
        // but allow 1% for a stray collision stealing a bucket-first
        require(dupExact >= expect - expect / 100 && dupExact <= expect,
          s"neardup: exact dup pairs $dupExact, expected $expect")
        require(emitted - dupExact <= expect / 20,
          s"neardup: strays ${emitted - dupExact} exceed 5% of $expect")
        // bound: one horizon (3600 docs) x 4 band buckets + the final
        // batch's buckets (watermark advances at batch boundaries) + slack
        val bound = 4 * (3600 + docsN / nb) + 4000
        require(stateRows >= 0 && stateRows <= bound,
          s"neardup: final state $stateRows exceeds bound $bound")
        ndStateRows = stateRows
        sec
      }
      // steady-state protocol: min-of-2, fresh query + checkpoint each
      val d = math.min(dedupOnce(), dedupOnce())
      val w = math.min(winDedupOnce(), winDedupOnce())
      val j = math.min(ijOnce(), ijOnce())
      val nd = math.min(ndOnce(), ndOnce())
      (d, w, j, winStateRows, nd, ndStateRows)
    }

    val nLo = baseK * 1000
    val nHi = nLo * factor
    val (dLo, wLo, jLo, _, ndLo, _) = probe(nLo)
    val (dHi, wHi, jHi, winStateHi, ndHi, ndStateHi) = probe(nHi)
    println(s"""{"metric":"stream_smoke","state_provider":"$provider","n_lo":$nLo,"n_hi":$nHi,""" +
      s""""dedup_lo_sec":$dLo,"dedup_hi_sec":$dHi,""" +
      s""""dedup_exp":${exp(dLo, dHi, factor.toDouble)},""" +
      s""""window_dedup_lo_sec":$wLo,"window_dedup_hi_sec":$wHi,""" +
      s""""window_dedup_exp":${exp(wLo, wHi, factor.toDouble)},""" +
      s""""window_state_rows_hi":$winStateHi,""" +
      s""""window_keys_hi":${nHi / 10},""" +
      s""""interval_join_lo_sec":$jLo,"interval_join_hi_sec":$jHi,""" +
      s""""interval_join_exp":${exp(jLo, jHi, factor.toDouble)},""" +
      s""""neardup_docs_lo":${nLo / 10},"neardup_docs_hi":${nHi / 10},""" +
      s""""neardup_lo_sec":$ndLo,"neardup_hi_sec":$ndHi,""" +
      s""""neardup_exp":${exp(ndLo, ndHi, factor.toDouble)},""" +
      s""""neardup_state_rows_hi":$ndStateHi,""" +
      HostRegime.json(hostBefore) + "}")
    spark.stop()
  }
}
