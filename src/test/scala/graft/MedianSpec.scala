package graft

import org.apache.spark.sql.functions._

import graft.functions.{GraftFunctions => GF, MedianAggregator, WeightedMedian}

/** FIXTURES.md §1 — the reference's own median fixtures
  * (general-functions.sql:109-129), ported verbatim, plus the
  * median == percentile(0.5) identity as a property and the exact
  * built-in == aggregator identity on integers.
  */
class MedianSpec extends SparkTestBase {
  import spark.implicits._

  private def tempTable =
    Seq((0.0, Some(325)), (1.0, Some(-100)), (5.0, Some(50)),
      (3.0, None), (2.7, Some(1153)), (2.0, Some(98))).toDF("k", "v")

  private def tempTable2 =
    Seq((0.0, 0), (1.0, 0), (5.0, 0), (3.0, 0), (2.7, 0), (2.0, 0)).toDF("k", "v")

  test("median(k) = 2.35 on both fixture tables (even count -> mean of middle two)") {
    assert(tempTable.agg(GF.medianExact($"k")).head.getDouble(0) === 2.35)
    assert(tempTable2.agg(GF.medianExact($"k")).head.getDouble(0) === 2.35)
  }

  test("median equals built-in percentile(0.5) on the fixture") {
    val r = tempTable.agg(GF.medianExact($"k"), percentile($"k", lit(0.5))).head
    assert(r.getDouble(0) === r.getDouble(1))
  }

  test("median skips NULL inputs and returns null on empty/all-null groups") {
    val withNulls = Seq(Some(1.0), None, Some(3.0), None).toDF("x")
    assert(withNulls.agg(GF.medianExact($"x")).head.getDouble(0) === 2.0)
    val allNull = Seq[Option[Double]](None, None).toDF("x")
    assert(allNull.agg(GF.medianExact($"x")).head.isNullAt(0))
  }

  test("weightedMedian on the reference fixture (NULL weight coalesced to 0)") {
    // sorted by k: weights 325,-100,98,1153,0(NULL),50; total=1526, half=763
    // falls inside the k=2.7 row's [prevsum,runsum] band -> 2.7
    assert(WeightedMedian.weightedMedian(tempTable, "k", "v") === Some(2.7))
  }

  test("weightedMedian with all-zero weights (total/2 = 0 boundary)") {
    // total=0: every row with prevsum=0<=0<=runsum=0 qualifies except the
    // first (prevsum NULL under PG BETWEEN) -> avg of {1,5,3,2.7,2} = 2.74
    val r = WeightedMedian.weightedMedian(tempTable2, "k", "v")
    assert(r.isDefined && math.abs(r.get - 2.74) < 1e-9)
  }

  test("weightedMedianByGroup matches scalar semantics per group") {
    val df = Seq(
      ("a", 0.0, 325), ("a", 1.0, -100), ("a", 5.0, 50),
      ("a", 2.7, 1153), ("a", 2.0, 98),
      ("b", 10.0, 1), ("b", 20.0, 1), ("b", 30.0, 1)).toDF("g", "k", "v")
    val r = WeightedMedian.weightedMedianByGroup(df, "k", "v", "g")
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    // group a: total=1526, half=763 -> only k=2.7 qualifies; count 5 odd -> 2.7
    assert(r("a") === 2.7)
    // group b: total=3, half=1.5 -> k=20 row (prevsum 1 <= 1.5 <= runsum 2); odd -> 20
    assert(r("b") === 20.0)
    // BIGINT near 2^62, even count: total=4, half=2 -> the 5.1e18 and
    // 5.2e18 rows qualify, max 5.2e18; the even branch's __mx + __mx
    // must not overflow (ARITHMETIC_OVERFLOW under ANSI)
    val big = Seq(5000000000000000000L, 5100000000000000000L,
        5200000000000000000L, 5300000000000000000L)
      .map(x => ("c", x, 1)).toDF("g", "x", "v")
    assert(WeightedMedian.weightedMedianByGroup(big, "x", "v", "g")
      .head.getDouble(1) === 5.2e18)
  }

  test("property: aggregator median == percentile(0.5) on random vectors (seeded)") {
    val rnd = new scala.util.Random(42)
    (1 to 10).foreach { _ =>
      val xs = List.fill(1 + rnd.nextInt(40))(rnd.nextDouble() * 2e6 - 1e6)
      val df = xs.toDF("x")
      val r = df.agg(GF.medianExact($"x"), percentile($"x", lit(0.5))).head
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-9, s"on $xs")
    }
  }

  test("merge-path correctness: result independent of partitioning") {
    val xs = (1 to 1001).map(_.toDouble)
    val df = spark.sparkContext.parallelize(xs, 7).toDF("x")
    assert(df.agg(GF.medianExact($"x")).head.getDouble(0) === 501.0)
  }

  test("median_any on numeric input == built-in median") {
    val r = tempTable.agg(GF.medianAny($"k"), median($"k")).head
    assert(r.getDouble(0) === 2.35)
    assert(r.getDouble(0) === r.getDouble(1))
    // integral input across partitions, and decimal input
    val big = spark.sparkContext.parallelize((1L to 1000L), 9).toDF("x")
    val b = big.agg(GF.medianAny($"x"), median($"x")).head
    assert(b.getDouble(0) === 500.5 && b.getDouble(0) === b.getDouble(1))
    val dec = Seq(BigDecimal("1.25"), BigDecimal("2.5")).toDF("d")
    val d = dec.agg(GF.medianAny($"d"), median($"d")).head
    assert(d.getDouble(0) === 1.875 && d.getDouble(0) === d.getDouble(1))
    // NULLs dropped; all-NULL -> NULL
    val allNull = Seq[Option[Int]](None, None).toDF("x")
    assert(allNull.agg(GF.medianAny($"x")).head.isNullAt(0))
    // numbers resolve to the built-in, not to the MedianAny aggregate
    assert(!big.agg(GF.medianAny($"x")).queryExecution.optimizedPlan
      .toString.contains("median_any"))
  }

  test("property: built-in median == aggregator exactly on integers") {
    // The speed-limit imputation and q_a10b rest on this: percentile
    // interpolates a + (b - a) * 0.5, the aggregator takes (a + b) / 2;
    // on integers both are exact, so the doubles are EQUAL (no epsilon).
    val rnd = new scala.util.Random(11)
    val rows = (0 until 200).flatMap { g =>
      val bound = if (g % 2 == 0) 200 else Int.MaxValue
      Seq.fill(1 + rnd.nextInt(40))((g, rnd.nextInt(bound) - bound / 2))
    }
    val r = rows.toDF("g", "x").repartition(5).groupBy("g")
      .agg(median($"x"), GF.medianExact($"x")).collect()
    assert(r.length === 200)
    r.foreach(x => assert(x.getDouble(1) === x.getDouble(2), s"group ${x.getInt(0)}"))
  }

  test("median_any: polymorphic semantics per type (text lower-middle, timestamp midpoint, numeric mean)") {
    // text, even count: LOWER middle in UTF-8 order
    val t = Seq("delta", "alpha", "charlie", "bravo").toDF("s")
    assert(t.agg(GF.medianAny($"s")).head.getString(0) === "bravo")
    // text, odd count: exact middle
    val t3 = Seq("c", "a", "b").toDF("s")
    assert(t3.agg(GF.medianAny($"s")).head.getString(0) === "b")
    // timestamp, even count: midpoint of the two middle instants
    val ts = Seq("2020-01-01 00:00:00", "2020-01-03 00:00:00",
        "2020-09-09 00:00:00", "2019-01-01 00:00:00")
      .toDF("raw").select(to_timestamp($"raw").as("ts"))
    assert(ts.agg(GF.medianAny($"ts")).head.getTimestamp(0).toString
      === "2020-01-02 00:00:00.0")
    // numeric: mean of middles as double (matches the numeric medians)
    val n = Seq(1L, 2L, 3L, 10L).toDF("x")
    assert(n.agg(GF.medianAny($"x")).head.getDouble(0) === 2.5)
    assert(tempTable.agg(GF.medianAny($"k")).head.getDouble(0) === 2.35)
    // NULLs dropped; empty group -> null
    val withNull = Seq(Some("b"), None, Some("a"), Some("c")).toDF("s")
    assert(withNull.agg(GF.medianAny($"s")).head.getString(0) === "b")
    assert(withNull.filter($"s".isNull).agg(GF.medianAny($"s")).head.isNullAt(0))
    // date: lower middle, type preserved (documented DuckDB deviation)
    val d = Seq("2020-01-01", "2020-01-04").toDF("raw")
      .select(to_date($"raw").as("d"))
    assert(d.agg(GF.medianAny($"d")).head.getDate(0).toString === "2020-01-01")
    // merge-path independence: same result at any partitioning
    val big = spark.range(101).select(
      concat(lit("w"), lpad($"id".cast("string"), 3, "0")).as("s"))
    val one = big.coalesce(1).agg(GF.medianAny($"s")).head.getString(0)
    val many = big.repartition(17).agg(GF.medianAny($"s")).head.getString(0)
    assert(one === "w050" && many === one)
  }

  test("finish semantics match _final_median directly") {
    import graft.functions.MedianBuf
    assert(MedianAggregator.finish(MedianBuf(List(0, 1, 5, 3, 2.7, 2))) === 2.35)
    assert(MedianAggregator.finish(MedianBuf(List(7.0))) === 7.0)
    assert(MedianAggregator.finish(MedianBuf(Nil)) === null)
  }
}
