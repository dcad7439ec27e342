package graft

import org.apache.spark.sql.functions._

import graft.osm.{ExploreIVM, GraphCheck, OsmModel, PoisExtract, RoadGraph, TagExplore}

/** End-to-end pipeline assertions on the micro-OSM fixture with
  * hand-computed expectations (FIXTURES.md §2): way splitting at shared
  * interior nodes, median imputation, direction expansion, POI pivot.
  */
class RoadGraphSpec extends SparkTestBase {

  private lazy val t = OsmModel.microFixture(spark)
  private lazy val net = RoadGraph.imputeSpeedLimits(
    RoadGraph.excludeModes(RoadGraph.carNetwork(t.ways))).cache()
  private lazy val merged = RoadGraph.buildMergedNetwork(t).cache()

  test("carNetwork filters by highway class under 3VL (no-tags ways drop)") {
    val ids = RoadGraph.carNetwork(t.ways).select("edge_id")
      .collect().map(_.getLong(0)).toSet
    // footway (105) and the untagged POI way (108) are out; access=private
    // (107) survives until excludeModes
    assert(ids === Set(101L, 102L, 103L, 104L, 106L, 107L, 109L))
  }

  test("excludeModes deletes access=private but keeps NULL-tag rows (3VL)") {
    val ids = RoadGraph.excludeModes(RoadGraph.carNetwork(t.ways))
      .select("edge_id").collect().map(_.getLong(0)).toSet
    assert(ids === Set(101L, 102L, 103L, 104L, 106L, 109L))
  }

  test("speed limits: parsed from text ('80 km/h' -> 80) and imputed from class median") {
    val sl = net.select("edge_id", "speed_limit")
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(sl(101L) === Some(50))
    assert(sl(103L) === Some(80)) // text with unit via get_ints_from_text
    assert(sl(109L) === Some(60))
    assert(sl(102L) === Some(60)) // imputed: tertiary median = 60
    assert(sl(104L) === None)     // motorway median is NULL -> stays NULL
    assert(sl(106L) === None)
  }

  test("sharedNodes finds exactly the multi-way nodes") {
    val shared = RoadGraph.sharedNodes(t.wayNodes, net)
      .collect().map(_.getLong(0)).toSet
    assert(shared === Set(3L, 8L, 9L, 10L))
  }

  test("merged network: W1 split at n3 into [1,2,3]+[3,4], W2 into [5,3]+[3,6]; 2-node ways untouched") {
    val segs = merged.select("edge_id", "nodes").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toList)).toSet
    assert(segs === Set(
      (101L, List(1L, 2L, 3L)), (101L, List(3L, 4L)),
      (102L, List(5L, 3L)), (102L, List(3L, 6L)),
      (103L, List(7L, 8L)), (104L, List(9L, 10L)),
      (106L, List(10L, 9L)), (109L, List(8L, 12L))))
  }

  test("merged segment attributes: endpoints from node arrays, attrs copied, geodesic length") {
    val r = merged.filter(col("edge_id") === 101 && size(col("nodes")) === 3).head()
    assert(r.getAs[Long]("start_node") === 1L)
    assert(r.getAs[Long]("end_node") === 3L)
    assert(r.getAs[String]("highway") === "residential")
    assert(r.getAs[Int]("speed_limit") === 50)
    // 0.02 deg of longitude at the equator ~ 2224 m
    assert(math.abs(r.getAs[Double]("length") - 2223.9) < 1.0)
    // length of the split parts sums to the original way length
    val partSum = merged.filter(col("edge_id") === 101)
      .agg(sum("length")).head.getDouble(0)
    val orig = net.filter(col("edge_id") === 101).head.getAs[Double]("length")
    assert(math.abs(partSum - orig) < 1e-6)
  }

  test("directed strict: NULL-oneway motorway vanishes (reference trap); 12 edges") {
    val d = RoadGraph.directed(merged, strictOsmSemantics = true)
    assert(d.count() === 12)
    assert(d.filter(col("edge_id") === 106).count() === 0) // the trap
    // reverse-drawn motorway W4 appears exactly once, reversed
    val w4 = d.filter(col("edge_id") === 104).collect()
    assert(w4.length === 1)
    assert(w4.head.getAs[Long]("start_node") === 10L)
    assert(w4.head.getSeq[Long](4).toList === List(10L, 9L))
    // forward oneway W3 exactly once, not reversed
    val w3 = d.filter(col("edge_id") === 103).collect()
    assert(w3.length === 1 && w3.head.getAs[Long]("start_node") === 7L)
    // two-way segments appear in both directions
    assert(d.filter(col("edge_id") === 101).count() === 4)
  }

  test("directed non-strict: NULL-oneway motorway restored as forward edge") {
    val d = RoadGraph.directed(merged, strictOsmSemantics = false)
    assert(d.count() === 13)
    assert(d.filter(col("edge_id") === 106).count() === 1)
  }

  test("minimal graph projects the igraph hand-off shape") {
    val g = RoadGraph.minimalDirectedGraph(merged)
    assert(g.columns.toSeq === Seq("start_node", "end_node", "length", "speed_limit"))
    assert(g.count() === 12)
  }

  test("networkNodes: endpoints of the unsplit network with WKT coords") {
    val nn = RoadGraph.networkNodes(t.nodes, net).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(nn.keySet === Set(1L, 4L, 5L, 6L, 7L, 8L, 9L, 10L, 12L))
    assert(nn(1L) === "POINT(0.0 0.0)")
  }

  test("tag explore: highway value frequencies on the fixture") {
    val freq = TagExplore.tagValueCounts(t.ways, "highway")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(freq === Map("residential" -> 2L, "motorway" -> 2L,
      "tertiary" -> 2L, "primary" -> 1L, "footway" -> 1L))
  }

  test("connected components: fixture network splits into 3 fragments") {
    val (nComp, largest) = osm.GraphCheck.componentSummary(merged)
    // endpoint graph: {1,3,4,5,6} via W1+W2 (n2 is interior, not an
    // endpoint), {7,8,12} via W3+W9, {9,10} via W4/W6
    assert(nComp === 3L)
    assert(largest === 5L)
    val comp = osm.GraphCheck.connectedComponents(merged)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp(1L) === comp(6L)) // same fragment through shared node n3
    assert(comp(7L) === comp(12L))
    assert(comp(1L) !== comp(9L))
  }

  test("buildMergedNetwork plans each reuse point once (plan-size bound)") {
    def size(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collect { case p => p }.size
    // Left lazy, the chain inlines the network ~22 times and the
    // optimized plan of the directed edge list has ~1,380 nodes; with
    // the network and split-chain stages materialized it has ~160 ...
    val staged = size(RoadGraph.minimalDirectedGraph(RoadGraph.stagedMergedNetwork(t)))
    assert(staged < 300, s"staged plan has $staged nodes")
    // ... and with the merged output materialized too, a handful
    val built = size(RoadGraph.minimalDirectedGraph(RoadGraph.buildMergedNetwork(t)))
    assert(built < 30, s"built plan has $built nodes")
  }

  test("buildMergedNetwork == lazy composition of the public stage functions") {
    val n = RoadGraph.imputeSpeedLimits(
      RoadGraph.excludeModes(RoadGraph.carNetwork(t.ways)))
    val shared = RoadGraph.sharedNodes(t.wayNodes, n)
    val lengths = RoadGraph.waysLength(t.wayNodes, n)
    val splits = RoadGraph.splitNodes(t.wayNodes, n, shared, lengths)
    val limits = RoadGraph.mergeLimits(t.wayNodes, splits, shared, lengths)
    val lazyMerged = RoadGraph.mergedNetwork(
      RoadGraph.nodesToMerge(t.wayNodes, n, limits), t.nodes, n)
    def bag(df: org.apache.spark.sql.DataFrame) =
      df.collect().toSeq.groupBy(identity).view.mapValues(_.size).toMap
    val staged = RoadGraph.buildMergedNetwork(t)
    assert(staged.columns.toSeq === lazyMerged.columns.toSeq)
    assert(bag(staged) === bag(lazyMerged))
    assert(staged.count() === 8)
  }

  test("ways without a linestring get one from their node coordinates") {
    import spark.implicits._
    val ts = java.sql.Timestamp.valueOf("2020-05-08 12:00:00")
    def node(id: Long, lon: Double, lat: Double) =
      osm.OsmNode(id, 1, 1, ts, 1L, Map.empty, osm.Point(lon, lat))
    def way(id: Long, nodes: Seq[Long], line: Seq[osm.Point]) =
      osm.OsmWay(id, 1, 1, ts, 1L, Map("highway" -> "residential"), nodes, line)
    val nodes = Seq(node(1, 0.0, 0.0), node(2, 0.01, 0.0), node(3, 0.01, 0.01),
      node(4, 0.05, 0.0), node(5, 0.06, 0.0)).toDF()
    // way 1 arrives like a PBF way, with a NULL linestring; way 2 carries
    // its own (with a vertex no node has), which must be kept as is
    val given = Seq(osm.Point(0.05, 0.0), osm.Point(0.055, 0.0), osm.Point(0.06, 0.0))
    val ways = Seq(way(1, Seq(1L, 2L, 3L), null), way(2, Seq(4L, 5L), given)).toDF()
    val tt = osm.OsmTables(nodes, ways, OsmModel.wayNodesOf(spark, ways))
    val rows = RoadGraph.buildMergedNetwork(tt).collect()
      .map(r => r.getAs[Long]("edge_id") -> r).toMap
    assert(rows.keySet === Set(1L, 2L)) // no shared node: both kept whole
    def pts(r: org.apache.spark.sql.Row) =
      r.getSeq[org.apache.spark.sql.Row](r.fieldIndex("geom"))
        .map(p => (p.getDouble(0), p.getDouble(1)))
    assert(pts(rows(1L)) === Seq((0.0, 0.0), (0.01, 0.0), (0.01, 0.01)))
    // 0.01 deg along the equator, then 0.01 deg along a meridian: each
    // haversine leg is R * 0.01 * pi / 180 with R = 6371008.8 m, so
    // 2 * 1111.9508... = 2223.9016... m
    assert(math.abs(rows(1L).getAs[Double]("length") - 2223.9016) < 1e-3)
    assert(pts(rows(2L)) === given.map(p => (p.lon, p.lat)))
    assert(math.abs(rows(2L).getAs[Double]("length") - 1111.9508) < 1e-3)
  }

  test("array-form split == relational chain on the micro fixture") {
    val wn = t.wayNodes.join(net.select("edge_id"),
      t.wayNodes("way_id") === col("edge_id"), "left_semi")
    val segs = RoadGraph.splitSegments(wn, "way_id", "node_id",
        col("sequence_id"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toList)).toSet
    assert(segs === Set(
      (101L, List(1L, 2L, 3L)), (101L, List(3L, 4L)),
      (102L, List(5L, 3L)), (102L, List(3L, 6L)),
      (103L, List(7L, 8L)), (104L, List(9L, 10L)),
      (106L, List(10L, 9L)), (109L, List(8L, 12L))))
  }

  test("array-form split == relational chain at sf0.001 (row-identical)") {
    val sf = "/root/testdata/sf0.001"
    val chain = SparkEntry.queries("q_osm_split_scale")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted
    val arr = SparkEntry.queries("q_osm_split_array")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted
    assert(arr.length === chain.length)
    assert(arr === chain)
  }

  test("connected components: empty edge set converges without NPE") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("start_node", "end_node")
    assert(osm.GraphCheck.connectedComponents(empty).count() === 0L)
  }

  test("triangle counts + clustering: hand-computed graph, dup/reversed/self edges canonicalized") {
    import spark.implicits._
    // triangle {1,2,3}; square {4,5,6,7} (cycle, no triangle); K4 on
    // {10,11,12,13} (every node in 3 triangles, clustering 1); pendant
    // 8-1; plus noise: duplicate, reversed, and self-loop edges
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 1L),
      (4L, 5L), (5L, 6L), (6L, 7L), (7L, 4L),
      (10L, 11L), (10L, 12L), (10L, 13L), (11L, 12L), (11L, 13L), (12L, 13L),
      (8L, 1L),
      (2L, 1L), (1L, 2L), (9L, 9L) // reversed dup, dup, self-loop
    ).toDF("start_node", "end_node")
    val got = osm.GraphCheck.triangleCounts(edges).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got(1L) === ((3L, 1L, 1.0 / 3)))  // deg 3 (2,3,8), one triangle
    assert(got(2L) === ((2L, 1L, 1.0)))
    assert(got(3L) === ((2L, 1L, 1.0)))
    Seq(4L, 5L, 6L, 7L).foreach(n => assert(got(n) === ((2L, 0L, 0.0)), s"node $n"))
    Seq(10L, 11L, 12L, 13L).foreach(n => assert(got(n) === ((3L, 3L, 1.0)), s"node $n"))
    assert(got(8L) === ((1L, 0L, 0.0)))      // degree < 2 -> clustering 0
    assert(!got.contains(9L))                // self-loop-only node drops
    // total triangle incidences = 3 per triangle: 1 (tri) + 4 (K4) = 5 triangles
    assert(got.values.map(_._2).sum === 15L)
  }

  test("label propagation: distributed rounds == local synchronous replay; cliques converge, bridge keeps them apart") {
    import spark.implicits._
    val cliqueA = for (i <- 1L to 4L; j <- (i + 1) to 4L) yield (i, j)
    val cliqueB = for (i <- 11L to 14L; j <- (i + 1) to 14L) yield (i, j)
    val es = cliqueA ++ cliqueB ++ Seq((4L, 11L))
    val got = osm.GraphCheck.labelPropagation(
        es.toDF("start_node", "end_node"), rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // reference: plain-Scala synchronous replay of the same contract
    def replay(rounds: Int): Map[Long, Long] = {
      val sym = es.flatMap { case (a, b) => Seq((a, b), (b, a)) }
        .filter(t => t._1 != t._2).distinct
      val adj = sym.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      var lab = adj.keys.map(n => n -> n).toMap
      for (_ <- 1 to rounds)
        lab = adj.map { case (n, nbrs) =>
          val cnt = nbrs.map(lab).groupBy(identity).view.mapValues(_.size)
          n -> cnt.toSeq.minBy { case (l, c) => (-c, l) }._1
        }
      lab
    }
    assert(got === replay(4))
    assert(Set(1L, 2L, 3L, 4L).map(got).size === 1, "clique A homogeneous")
    assert(Set(11L, 12L, 13L, 14L).map(got).size === 1, "clique B homogeneous")
    assert(got(1L) !== got(12L), "bridge must not merge the cliques")
  }

  test("degree assortativity: star is -1, regular graph is 0 by convention, random graph matches local Pearson") {
    import spark.implicits._
    def r(es: Seq[(Long, Long)]): Double =
      osm.GraphCheck.degreeAssortativity(es.toDF("start_node", "end_node"))
        .head().getDouble(1)
    // star K1,5: perfectly disassortative
    assert(math.abs(r((1L to 5L).map(i => (0L, i))) - (-1.0)) < 1e-12)
    // cycle (2-regular): zero degree variance -> 0.0 by convention
    assert(r((0L until 6L).map(i => (i, (i + 1) % 6))) === 0.0)
    // random graph vs a plain-Scala Pearson over symmetrized pairs
    val rnd = new scala.util.Random(5L)
    val es = (0 until 60).map(_ =>
      (rnd.nextInt(12).toLong, rnd.nextInt(12).toLong))
      .filter(t => t._1 != t._2).distinct
    val canon = es.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .distinct
    val sym = canon ++ canon.map(_.swap)
    val deg = sym.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val xs = sym.map { case (a, _) => deg(a) }
    val ys = sym.map { case (_, b) => deg(b) }
    val n = xs.length.toDouble
    val sx = xs.sum.toDouble; val sxx = xs.map(x => x * x).sum.toDouble
    val sxy = xs.zip(ys).map { case (x, y) => x * y }.sum.toDouble
    val want = (n * sxy - sx * sx) / (n * sxx - sx * sx)
    assert(math.abs(r(es) - want) < 1e-9, s"got ${r(es)} want $want")
  }

  test("coreness: H-index rounds match the sequential peel reference and stabilize") {
    import spark.implicits._
    // K4 {10..13} core 3; triangle {1,2,3} core 2; pendant 20-10 and
    // tail 3-30-31 core 1; bridge 4-11 links a core-1 node into K4's shell
    val es = (for (i <- 10L to 13L; j <- (i + 1) to 13L) yield (i, j)) ++
      Seq((1L, 2L), (2L, 3L), (3L, 1L), (20L, 10L), (3L, 30L), (30L, 31L),
        (4L, 11L))
    val df = es.toDF("start_node", "end_node")
    def run(r: Int) = osm.GraphCheck.coreness(df, r)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    val got = run(8)
    assert(got === run(9), "H-iteration must have stabilized by round 8")
    // sequential peeling reference (the textbook k-core algorithm)
    def peel(): Map[Long, Long] = {
      val adj = scala.collection.mutable.Map.empty[Long, scala.collection.mutable.Set[Long]]
      es.foreach { case (a, b) =>
        if (a != b) {
          adj.getOrElseUpdate(a, scala.collection.mutable.Set.empty) += b
          adj.getOrElseUpdate(b, scala.collection.mutable.Set.empty) += a
        }
      }
      val core = scala.collection.mutable.Map.empty[Long, Long]
      val live = scala.collection.mutable.Set.empty[Long] ++ adj.keys
      var k = 0L
      while (live.nonEmpty) {
        val v = live.minBy(n => (adj(n).count(live), n))
        k = math.max(k, adj(v).count(live).toLong)
        core(v) = k
        live -= v
      }
      core.toMap
    }
    assert(got === peel())
    assert(got(10L) === 3L && got(1L) === 2L && got(30L) === 1L &&
      got(4L) === 1L && got(20L) === 1L)
  }

  test("connected components: 256-chain converges in O(log n) rounds") {
    import spark.implicits._
    // a path graph is the adversarial case: naive min-label propagation
    // needs diameter (255) rounds; pointer jumping must land well under
    val chain = (1L until 256L).map(k => (k, k + 1)).toDF("start_node", "end_node")
    // localThreshold = 0 forces the distributed loop: the rounds bound
    // is a property OF that loop (the broadcast-local path reports 0)
    val (labels, rounds) =
      osm.GraphCheck.connectedComponentsWithRounds(chain, maxIter = 20,
        localThreshold = 0L)
    assert(rounds <= 12, s"took $rounds rounds — pointer jumping broken?")
    val comp = labels.collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(comp.length === 256)
    assert(comp.forall(_._2 === 1L), "all labels must reach the chain min")
  }

  test("connected components: NULL node ids keep their labels (dirty input)") {
    import spark.implicits._
    // a NULL id joins no label but takes its neighbours' least label:
    // the round's NULL-label filter and null-safe pointer jump must
    // leave (NULL, 1) in place and 3 in its own component
    val e = Seq[(Option[Long], Option[Long])]((Some(1L), Some(2L)),
      (None, Some(2L)), (Some(3L), None), (None, None), (Some(4L), Some(5L)))
      .toDF("start_node", "end_node")
    val (labels, rounds) = GraphCheck.connectedComponentsWithRounds(e,
      localThreshold = 0L)
    assert(rounds > 0, "NULL ids must take the distributed loop")
    assert(labels.collect().map(r => (Option(r.get(0)), Option(r.get(1))))
      .toSet === Set[(Option[Any], Option[Any])](
        (Some(1L), Some(1L)), (Some(2L), Some(1L)), (Some(3L), Some(3L)),
        (Some(4L), Some(4L)), (Some(5L), Some(4L)), (None, Some(1L))))
  }

  test("connected components: a round shuffles its neighbour-min aggregate once") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    // an 8x8 grid, node r*8+c, with nullable ids as read from parquet.
    // The round's pointer jump joins the aggregate with itself; when
    // the two sides plan differently the scan, broadcast, partial
    // aggregate and shuffle all run twice
    val k = 8L
    val es = for (r <- 0L until k; c <- 0L until k;
        (dr, dc) <- Seq((0L, 1L), (1L, 0L)) if r + dr < k && c + dc < k)
      yield (r * k + c, (r + dr) * k + c + dc)
    val sym = (es ++ es.map(_.swap)).map { case (a, b) => (Option(a), Option(b)) }
      .toDF("a", "b").localCheckpoint(true)
    val labels = sym.select(col("a").as("node_id")).distinct()
      .withColumn("component", col("node_id")).localCheckpoint(true)
    val round = GraphCheck.ccRound(sym, labels)
    // one round from identity labels: the least id of the closed
    // neighbourhood, then that node's own least id
    val nbrMin = (es ++ es.map(_.swap)).groupBy(_._1)
      .map { case (v, ns) => v -> (v +: ns.map(_._2)).min }
    assert(round.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ===
      nbrMin.map { case (v, m) => v -> nbrMin(m) })
    val plan = round.queryExecution.executedPlan
    val helper = new AdaptiveSparkPlanHelper {}
    val partials = helper.collect(plan) {
      case a: HashAggregateExec if a.aggregateExpressions.exists(_.mode == Partial) => a
    }
    val reused = helper.collect(plan) { case r: ReusedExchangeExec => r }
    assert(partials.size === 1 && reused.size === 1,
      s"the aggregate should run once and be reused once:\n$plan")
  }

  /** Spark jobs `body` starts, counted by a listener on a job group of
    * its own. A marker job in a second group drains the listener bus:
    * events arrive in order, so once the marker's start is seen every
    * job of `body` has been counted. */
  private def jobsOf(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = s"jobs-${java.util.UUID.randomUUID()}"
    val marker = s"$group-marker"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.incrementAndGet()
          case Some(`marker`) => drained.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
      sc.setJobGroup(marker, marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally sc.removeSparkListener(listener)
    jobs.get()
  }

  test("distributed graph loops: each extra round costs a fixed few jobs") {
    import spark.implicits._
    // a 64-node chain: no loop converges within the rounds run here, so
    // k + 1 rounds cost exactly one round more than k. Each round is one
    // union-aggregate plus one checkpoint whose job also yields the
    // convergence value; a second action per round (a count, an
    // agg().head()) would add a job and fail these bounds. The loops
    // that ran those actions took 5, 9, 6 and 5 jobs per round here.
    val e = (1L until 64L).map(k => (k, k + 1, 1L))
      .toDF("start_node", "end_node", "w").localCheckpoint(true)
    val pairs = e.select("start_node", "end_node")
    def perRound(run: Int => Unit): Int = {
      run(2) // plans the loop's shapes once before counting
      jobsOf(run(4)) - jobsOf(run(3))
    }
    val pr = perRound(k => GraphCheck.pageRank(pairs, iters = k,
      localThreshold = 0L))
    val sssp = perRound { k =>
      val (_, r) = GraphCheck.multiSourceShortestPaths(e, Seq(1L),
        maxIter = k, localThreshold = 0L)
      assert(r === k)
    }
    val cc = perRound { k =>
      val (_, r) = GraphCheck.connectedComponentsWithRounds(pairs,
        maxIter = k, localThreshold = 0L)
      assert(r === k)
    }
    // node 64 is not reached within 4 rounds: the path reconstruction
    // is one lookup whatever the rounds
    val path = perRound { k =>
      assert(GraphCheck.shortestPathTo(e, 1L, 64L, maxIter = k,
        localThreshold = 0L).isEmpty)
    }
    info(s"jobs per round: pagerank $pr, sssp $sssp, cc $cc, " +
      s"shortestPathTo $path")
    assert(pr > 0 && pr <= 3, s"pagerank: $pr jobs per round")
    assert(sssp > 0 && sssp <= 3, s"sssp: $sssp jobs per round")
    assert(cc > 0 && cc <= 4, s"cc: $cc jobs per round")
    assert(path > 0 && path <= 3, s"shortestPathTo: $path jobs per round")
  }

  /** `(start_node, end_node, w)` of an n-cycle in both directions,
    * unit weights. */
  private def twoWayCycle(n: Long): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    (1L to n).flatMap(k => Seq((k, k % n + 1, 1L), (k % n + 1, k, 1L)))
      .toDF("start_node", "end_node", "w").localCheckpoint(true)
  }

  test("sampled-source operators: 4 sources cost the jobs of 1 plus a few") {
    // a two-way 12-cycle: every source is 6 hops from its farthest node,
    // so 4 sources relaxing in one wave run the rounds of 1. One loop
    // per source paid about 4x here (85-89 jobs against 22-23).
    val e = twoWayCycle(12L)
    val ops = Seq[(String, Seq[Long] => org.apache.spark.sql.DataFrame)](
      "closeness" -> (s => GraphCheck.closenessFromSources(e, s,
        localThreshold = 0L)),
      "harmonic" -> (s => GraphCheck.harmonicFromSources(e, s,
        localThreshold = 0L)),
      "eccentricity" -> (s => GraphCheck.eccentricityFromSources(e, s,
        localThreshold = 0L)),
      "costMatrix" -> (s => GraphCheck.costMatrix(e, s, Seq(6L, 7L),
        localThreshold = 0L)))
    ops.foreach { case (name, op) =>
      op(Seq(1L)).collect() // plans the shapes once before counting
      val one = jobsOf(op(Seq(1L)).collect())
      val four = jobsOf(op(Seq(1L, 4L, 7L, 10L)).collect())
      info(s"$name: $one jobs for 1 source, $four for 4")
      assert(four <= one + 4, s"$name: $four jobs for 4 sources, $one for 1")
    }
  }

  test("SCC and betweenness: pinned job totals of one distributed call") {
    import spark.implicits._
    // the core-plus-pockets graph of the SCC stats test, and betweenness
    // from 2 sources on a two-way 12-cycle
    val tree = Seq((1L, 2L), (1L, 3L), (2L, 4L), (2L, 5L), (3L, 6L), (3L, 7L))
    val scc = (tree ++ tree.map(_.swap) ++ Seq((2L, 20L), (20L, 21L),
      (21L, 22L), (3L, 30L), (30L, 31L), (31L, 3L)))
      .toDF("start_node", "end_node").localCheckpoint(true)
    val cyc = twoWayCycle(12L)
    def sccRun() = GraphCheck.stronglyConnectedComponents(scc,
      localThreshold = 0L).collect()
    def bcRun() = GraphCheck.betweennessFromSources(cyc, Seq(1L, 2L),
      localThreshold = 0L).collect()
    sccRun(); bcRun() // plans the shapes once before counting
    val (sccJobs, bcJobs) = (jobsOf(sccRun()), jobsOf(bcRun()))
    info(s"jobs: scc $sccJobs, betweenness $bcJobs")
    // measured 92-96 and 108-109 over repeated calls (adaptive stage
    // timing moves a few jobs); the loops that read each round's
    // convergence value with a second job took 135 and 163-169
    assert(sccJobs <= 100, s"scc: $sccJobs jobs")
    assert(bcJobs <= 112, s"betweenness: $bcJobs jobs")
  }

  test("connected components: broadcast-local path == distributed loop (r21)") {
    import spark.implicits._
    // adversarial mix: chain, star, cycle, self-loop, duplicate and
    // reversed edges, two isolated-by-self-loop nodes
    val rnd = new scala.util.Random(7)
    val edges = ((1L until 64L).map(k => (k, k + 1)) ++
      (100L to 120L).map(k => (200L, k)) ++
      (300L to 309L).map(k => (k, if (k == 309L) 300L else k + 1)) ++
      Seq((400L, 400L), (5L, 4L), (2L, 3L)) ++
      Seq.fill(50)((rnd.nextInt(40).toLong + 1L, rnd.nextInt(40).toLong + 1L)))
      .toDF("start_node", "end_node")
    val local = osm.GraphCheck.connectedComponents(edges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val dist = osm.GraphCheck.connectedComponents(edges, localThreshold = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(local === dist)
  }

  test("explore parity: all 22 summary tables build (incl. relations); spot-check values") {
    val (rels, _) = osm.OsmModel.microRelations(spark)
    val all = osm.ExploreParity.buildAll(t.nodes, t.ways, Some(rels)).toMap
    assert(all.size === 22)
    val relLeisure = all("leisure_relations_values").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(relLeisure === Map("park" -> 1L, "pitch" -> 1L))
    val relAmenity = all("amenity_relations_values").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(relAmenity === Map("parking" -> 1L))
    val amenity = all("amenity_nodes_values").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(amenity === Map("cafe" -> 1L, "bench" -> 1L))
    val oneway = all("highway_oneway_values").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(oneway === Map(("primary", "yes") -> 1L, ("motorway", "-1") -> 1L))
    val coTags = all("highway_other_tags").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // every car-relevant way carries 'highway'; counts include all 8 tagged ways
    assert(coTags("highway") === 8L)
    assert(coTags("maxspeed") === 3L)
  }

  test("explore IVM: delta-folded summary == full recompute after a changeset") {
    import spark.implicits._
    val before = TagExplore.tagValueCounts(t.ways, "highway")
    // changeset: 105 footway -> residential (modify), 104 deleted,
    // new way 110 highway=service (create)
    val removed = t.ways.filter($"id".isin(105L, 104L))
    val afterWays = t.ways.filter($"id" =!= 104L)
      .withColumn("tags", when($"id" === 105,
        map(lit("highway"), lit("residential"))).otherwise($"tags"))
    val added = afterWays.filter($"id" === 105L)
      .unionByName(afterWays.limit(0)) // plus the created way below
    val created = Seq((110L, Map("highway" -> "service"))).toDF("id", "tags")
      .select($"id", lit(1).as("version"), lit(1).as("user_id"),
        lit(null).cast("timestamp").as("tstamp"), lit(1L).as("changeset_id"),
        $"tags", lit(null).cast("array<bigint>").as("nodes"),
        lit(null).cast("array<struct<lon:double,lat:double>>").as("linestring"))
    val fullAfter = TagExplore.tagValueCounts(
      afterWays.unionByName(created), "highway")
    val incremental = ExploreIVM.applyDelta(before, "highway",
      removed, added.unionByName(created))
    val a = fullAfter.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val b = incremental.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(a === b)
    assert(!b.contains("footway"))       // value count dropped to zero
    assert(b("service") === 1L)          // new value appeared
    assert(b("residential") === 3L)      // 2 existing + modified 105
    assert(b("motorway") === 1L)         // one of two deleted
  }

  test("POI pivot: nodes and ways long format") {
    val pn = PoisExtract.poisNodes(t.nodes)
      .select("node_id", "key", "values").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(pn === Set(
      (5L, "amenity", "cafe"), (11L, "amenity", "bench"), (6L, "shop", "bakery")))
    val pw = PoisExtract.poisWays(t.ways)
      .select("way_id", "key", "values", "name").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3))).toSet
    assert(pw === Set((108L, "leisure", "park", "Central Park")))
  }

  test("shortestPaths: SSSP distances on the strict directed micro graph") {
    val e = RoadGraph.directed(merged)
      .select(col("start_node"), col("end_node"),
        round(col("length") * 100).cast("long").as("w"))
    // force the DISTRIBUTED loop (localThreshold 0); the broadcast-
    // local fast path is checked for parity below
    val (dist, rounds) =
      GraphCheck.multiSourceShortestPaths(e, Seq(1L), localThreshold = 0L)
    val d = dist.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // reachable set: node 1's side of the network only — the oneways
    // and the NULL-oneway motorway trap keep 7..12 unreachable
    assert(d.keySet === Set(1L, 3L, 4L, 5L, 6L))
    assert(d(1L) === 0L)
    // distances are sums of the merged edges' cm lengths
    val len = merged.collect().map(r => (r.getAs[Long]("edge_id"),
      r.getAs[Seq[Long]]("nodes").head, r.getAs[Seq[Long]]("nodes").last) ->
      math.round(r.getAs[Double]("length") * 100)).toMap
    assert(d(3L) === len((101L, 1L, 3L)))
    assert(d(4L) === d(3L) + len((101L, 3L, 4L)))
    assert(d(5L) === d(3L) + len((102L, 5L, 3L)))
    assert(d(6L) === d(3L) + len((102L, 3L, 6L)))
    // rounds = hop depth (2) + the empty-frontier confirm round
    assert(rounds <= 5, s"took $rounds rounds")
    // broadcast-local Dijkstra (default threshold) returns the same
    // relation, rounds 0 marking the fast path
    val (dLocal, r0) = GraphCheck.shortestPathsWithRounds(e, source = 1L)
    assert(r0 === 0)
    assert(dLocal.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap === d)
    // double weights converge too (fractional improvements visible to
    // the decimal(38,6) detector)
    import spark.implicits._
    val frac = Seq((1L, 2L, 0.25), (2L, 3L, 0.25), (1L, 3L, 0.75))
      .toDF("start_node", "end_node", "w")
    val fd = GraphCheck.shortestPaths(frac, 1L).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(fd === Map(1L -> 0.0, 2L -> 0.25, 3L -> 0.5))
  }

  test("stronglyConnectedComponents: coloring == mutual reachability") {
    // micro fixture, strict semantics: endpoint vertices {1,3,4,5,6}
    // mutually reachable (two-way residential/tertiary; n2 is interior
    // to the 1..3 segment, not a vertex), 7→8 oneway, 8↔12 two-way,
    // 10→9 via the reversed motorway, 106 dropped by strict 3VL
    val e = RoadGraph.directed(merged)
      .select(col("start_node"), col("end_node"))
    val scc = GraphCheck.stronglyConnectedComponents(e)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(scc === Map(
      1L -> 6L, 3L -> 6L, 4L -> 6L, 5L -> 6L, 6L -> 6L,
      7L -> 7L, 8L -> 12L, 9L -> 9L, 10L -> 10L, 12L -> 12L))

    // hand-built digraph: cycle {1,2,3}, tail 3→4, two-cycle {4,5},
    // entry 6→1 — peeling must separate all four SCCs
    import spark.implicits._
    val g = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L),
        (5L, 4L), (6L, 1L))
      .toDF("start_node", "end_node")
    val s2 = GraphCheck.stronglyConnectedComponents(g)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(s2 === Map(1L -> 3L, 2L -> 3L, 3L -> 3L,
      4L -> 5L, 5L -> 5L, 6L -> 6L))

    // brute-force property check on random digraphs: SCC label must be
    // the max mutually-reachable node under transitive closure
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 3) {
      val n = 12
      val edges = (for (a <- 1 to n; b <- 1 to n
        if a != b && rnd.nextDouble() < 0.12) yield (a.toLong, b.toLong))
      if (edges.nonEmpty) {
        val reach = Array.fill(n + 1, n + 1)(false)
        edges.foreach { case (a, b) => reach(a.toInt)(b.toInt) = true }
        for (k <- 1 to n; i <- 1 to n; j <- 1 to n)
          if (reach(i)(k) && reach(k)(j)) reach(i)(j) = true
        val nodes = edges.flatMap(p => Seq(p._1, p._2)).distinct
        val expect = nodes.map { v =>
          val mutual = nodes.filter(u => u == v ||
            (reach(v.toInt)(u.toInt) && reach(u.toInt)(v.toInt)))
          v -> mutual.max
        }.toMap
        val got = GraphCheck.stronglyConnectedComponents(
            edges.toDF("start_node", "end_node"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got === expect)
      }
    }
  }

  test("routeEdgeRows: pgRouting shape, parallel-edge min-(w,id) tie, terminal -1") {
    import spark.implicits._
    // parallel edges 1->2: the cheaper one (w=5) must be reported, and
    // among equal-weight parallels (2->3, w=7) the smaller edge id wins
    val e = Seq(
      (1L, 2L, 100L, 5.0), (1L, 2L, 101L, 9.0),
      (2L, 3L, 103L, 7.0), (2L, 3L, 102L, 7.0))
      .toDF("start_node", "end_node", "edge_id", "w")
    val rows = osm.GraphCheck.routeEdgeRows(e,
        Seq((2L, Seq(1L, 2L, 3L)), (1L, Seq(1L, 2L))))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5), r.getDouble(6)))
    // paths emit in path_id order; seq is global and 1-based
    assert(rows.toSeq === Seq(
      (1L, 1L, 1L, 1L, 100L, 5.0, 0.0),
      (2L, 1L, 2L, 2L, -1L, 0.0, 5.0),
      (3L, 2L, 1L, 1L, 100L, 5.0, 0.0),
      (4L, 2L, 2L, 2L, 102L, 7.0, 5.0),
      (5L, 2L, 3L, 3L, -1L, 0.0, 12.0)))
  }

  test("aStarPathTo: identical path+total to Dijkstra, fewer settled nodes") {
    import spark.implicits._
    val e = RoadGraph.directed(merged)
      .select(col("start_node"), col("end_node"),
        round(col("length") * 100).cast("long").as("w"))
    val coords = t.nodes.select(col("id").as("node_id"),
      col("geom.lon").as("lon"), col("geom.lat").as("lat"))
    val Some((dp, dt)) = GraphCheck.shortestPathTo(e, 1L, 4L)
    val Some((ap, at, settled)) = GraphCheck.aStarPathTo(e, coords, 1L, 4L)
    assert(ap === dp && at === dt)
    // the heuristic must prune: Dijkstra settles all 5 reachable
    // endpoint vertices {1,3,4,5,6}; A* stops at the target
    assert(settled <= 4, s"A* settled $settled nodes")
    // unreachable target -> None (7 is in the oneway island)
    assert(GraphCheck.aStarPathTo(e, coords, 1L, 7L).isEmpty)
    // distributed goal-directed loop: identical result, and the
    // settled relation is the pruned ellipse, not the full distance
    // ball (Dijkstra reaches {1,3,4,5,6}; pruning at bestKnown drops
    // the beyond-target nodes)
    val Some((ap2, at2, s2)) =
      GraphCheck.aStarPathTo(e, coords, 1L, 4L, localThreshold = 0L)
    assert(ap2 === ap && at2 === at)
    assert(s2 > 0 && s2 < 5, s"distributed A* settled $s2 nodes")
  }

  test("drivingDistanceRows: multi-source service area, cutoff, pred-edge tie") {
    import spark.implicits._
    // two seeds {1, 10}; node 3 is nearer seed 10 (cost 4) than via
    // 1→2→3 (5+... no: 1→2=5, 2→3=2 → 7); cutoff 6 keeps {1,2,10,3}
    // and drops 4 (agg 9 via 3); parallel edges 1→2 tie on w=5 → the
    // smaller edge id 200 must be reported
    val e = Seq(
      (1L, 2L, 201L, 5.0), (1L, 2L, 200L, 5.0),
      (2L, 3L, 210L, 2.0), (10L, 3L, 220L, 4.0),
      (3L, 4L, 230L, 5.0), (7L, 8L, 240L, 1.0)) // 7→8 unreachable
      .toDF("start_node", "end_node", "edge_id", "w")
    val rows = osm.GraphCheck.drivingDistanceRows(e, Seq(1L, 10L), cutoff = 6.0)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(rows === Map(
      1L -> (-1L, 0.0, 0.0),
      10L -> (-1L, 0.0, 0.0),
      2L -> (200L, 5.0, 5.0),
      3L -> (220L, 4.0, 4.0)))
  }

  test("KSP ellipse prune returns exactly the unpruned Yen ranking") {
    // random weighted digraphs: maxEscalations = 0 short-circuits the
    // prune wrapper into the full-relation Yen loop, so equality here
    // proves the ellipse (bounded dS/dT + edge filter + within-bound
    // prefix rule + slack escalation) loses no path. Distinct powers
    // of 2 + a tiny id perturbation make all path costs unique, so the
    // ranking has no ties to hide behind. Also force a TIGHT first
    // bound (pruneSlack = 0): alternatives usually cost > best, so the
    // escalation path itself is exercised, not just the happy prune.
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    for (trial <- 1 to 4) {
      val n = 10
      val edges = (for (a <- 1 to n; b <- 1 to n
        if a != b && rnd.nextDouble() < 0.25)
        yield (a.toLong, b.toLong,
          math.pow(2.0, rnd.nextInt(8)) + a * 0.001 + b * 0.0001))
      if (edges.nonEmpty) {
        val df = edges.toDF("start_node", "end_node", "w")
        // localYen = false: this witness is about the PRUNE WRAPPER —
        // the whole-graph local path (r21) would short-circuit both
        // sides into the same in-memory Yen and prove nothing
        val full = GraphCheck.kShortestPaths(df, 1L, n.toLong, k = 3,
          maxEscalations = 0, localYen = false)
        for (slack <- Seq(0.0, 0.5)) {
          val pruned = GraphCheck.kShortestPaths(df, 1L, n.toLong, k = 3,
            pruneSlack = slack, localYen = false)
          assert(pruned === full, s"trial $trial slack $slack")
        }
        // and the r21 in-memory Yen must return the identical ranking
        val local = GraphCheck.kShortestPaths(df, 1L, n.toLong, k = 3)
        assert(local === full, s"trial $trial local-Yen mismatch")
      }
    }
  }

  test("SCC stats: core-plus-pockets peel count is topology-, not size-bound") {
    // miniature of the ScaleSmoke road topology: a two-way binary-ish
    // core {1..7} (tree edges both ways -> one giant SCC), a dead-end
    // oneway 3-chain 2→20→21→22 (three singletons), a re-entrant loop
    // 3→30→31→3 (giant members). Peel 1 settles the giant (root = the
    // max id 31, whose color floods everything it reaches — including
    // the dead chain, which is why the chain can NOT settle in the same
    // pass); peel 2 settles the now-isolated chain singletons. The peel
    // count tracks pocket DEPTH (here: 2 classes), never pocket count
    // or node count — the witness the 2M-node smoke asserts at scale.
    import spark.implicits._
    val tree = Seq((1L, 2L), (1L, 3L), (2L, 4L), (2L, 5L), (3L, 6L), (3L, 7L))
    val core = tree ++ tree.map(_.swap)
    val dead = Seq((2L, 20L), (20L, 21L), (21L, 22L))
    val reent = Seq((3L, 30L), (30L, 31L), (31L, 3L))
    val (labels, peels, fwdRounds) =
      GraphCheck.stronglyConnectedComponentsWithStats(
        (core ++ dead ++ reent).toDF("start_node", "end_node"))
    val m = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val giant = Set(1L, 2L, 3L, 4L, 5L, 6L, 7L, 30L, 31L)
    giant.foreach(v => assert(m(v) === 31L))
    assert(m(20L) === 20L && m(21L) === 21L && m(22L) === 22L)
    assert(peels === 2, s"expected giant-then-chains = 2 peels, got $peels")
    // diameter of core+pockets ~ 7 hops; fixpoint detection adds one
    assert(fwdRounds <= 10, s"forward rounds $fwdRounds not diameter-bound")
  }

  test("shortestPathTo: node sequence, unreachable None, tie to smaller pred") {
    val e = RoadGraph.directed(merged)
      .select(col("start_node"), col("end_node"),
        round(col("length") * 100).cast("long").as("w"))
    val Some((path, total)) = GraphCheck.shortestPathTo(e, 1L, 4L)
    assert(path === Seq(1L, 3L, 4L))
    // distributed loop produces the identical path and total
    assert(GraphCheck.shortestPathTo(e, 1L, 4L, localThreshold = 0L)
      === Some((path, total)))
    // 3 x 0.01-deg equator segments: 0.01 deg x R(6371008.8 m) in
    // radians = 1111.95 m each -> 333585 cm
    assert(math.abs(total - 333585.0) < 10.0, s"total $total")
    assert(GraphCheck.shortestPathTo(e, 1L, 7L).isEmpty) // oneway island
    // equal-cost diamond: 1->2->4 and 1->3->4 both cost 2; pred min
    // keeps 2, so the path is deterministic
    import spark.implicits._
    val dia = Seq((1L, 2L, 1L), (1L, 3L, 1L), (2L, 4L, 1L), (3L, 4L, 1L))
      .toDF("start_node", "end_node", "w")
    val Some((p2, t2)) = GraphCheck.shortestPathTo(dia, 1L, 4L)
    assert(p2 === Seq(1L, 2L, 4L) && t2 === 2.0)
    assert(GraphCheck.shortestPathTo(dia, 1L, 4L, localThreshold = 0L)
      === Some((Seq(1L, 2L, 4L), 2.0)))
  }

  test("reconstructPath: O(log path) jobs on a long chain, guards") {
    // settled chain 0 -> 1 -> ... -> L (pred(i) = i-1, source
    // self-loop) fed directly, so the assertion isolates the
    // reconstruction from the SSSP that normally produces it
    val L = 200L
    val settled = spark.range(0L, L + 1).select(
      col("id").as("node_id"), col("id").cast("double").as("dist"),
      greatest(col("id") - 1, lit(0L)).as("pred"))
    val jobs = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    val res = GraphCheck.reconstructPath(settled, 0L, L, maxHops = 1000)
    Thread.sleep(500) // async listener bus drain
    spark.sparkContext.removeSparkListener(listener)
    assert(res.map(_._1) === Some((0L to L).toList))
    assert(res.map(_._2) === Some(L.toDouble))
    // ceil(log2 200) = 8 doubling rounds of a few jobs each — a
    // per-hop walk-back would need 200+
    assert(jobs.get() < 60, s"reconstruction used ${jobs.get()} jobs")
    assert(GraphCheck.reconstructPath(settled, 0L, 999L, 1000).isEmpty)
    assert(GraphCheck.reconstructPath(settled, 0L, L, maxHops = 10).isEmpty)
    assert(GraphCheck.reconstructPath(settled, 0L, 0L, 10)
      === Some((Seq(0L), 0.0)))
  }

  test("snapPois: edge-interior projection, not nearest vertex") {
    val pois = PoisExtract.poisNodes(t.nodes)
    val got = RoadGraph.snapPois(pois, merged).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    // cafe n5 and bakery n6 are W2 segment endpoints: exact snaps
    assert(got(5L)._1 === 102L && got(5L)._2 === 0.0 &&
      got(5L)._3 === 0.02 && got(5L)._4 === -0.01)
    assert(got(6L)._1 === 102L && got(6L)._2 === 0.0)
    // bench n11 (0.30, 0) lies on the INTERIOR of W9's (0.12,0)-(0.31,0)
    // chord: the edge snap is exact where a nearest-VERTEX lookup would
    // report 0.01 deg to node 12 — the reason stop matching projects
    // onto edges
    // d2 carries a ~1e-33 projection-arithmetic residue (t=0.18/0.19 is
    // inexact); that's still 15 orders under any real snap distance
    assert(got(11L)._1 === 109L && got(11L)._2 < 1e-30 &&
      math.abs(got(11L)._3 - 0.30) < 1e-15 && math.abs(got(11L)._4) < 1e-16)
    assert(got.keySet === Set(5L, 6L, 11L))
  }

  test("broadcast-local fast paths == distributed loops (pageRank, SCC, closeness)") {
    val e = RoadGraph.directed(merged)
      .select(col("start_node"), col("end_node"))
    // pageRank: ranks agree to the 8-place contract the oracle uses
    def pr(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> BigDecimal(r.getDouble(1))
        .setScale(8, BigDecimal.RoundingMode.HALF_UP)).toMap
    assert(pr(GraphCheck.pageRank(e)) ===
      pr(GraphCheck.pageRank(e, localThreshold = 0)))

    // SCC: labels (max node id of the SCC) are bit-identical
    def scc(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(scc(GraphCheck.stronglyConnectedComponents(e)) ===
      scc(GraphCheck.stronglyConnectedComponents(e, localThreshold = 0)))

    // closeness: integer-centimeter sums and reach counts bit-identical
    val ew = RoadGraph.directed(merged)
      .select(col("start_node"), col("end_node"),
        round(col("length") * 100).cast("long").as("w"))
    def cl(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val srcs = Seq(1L, 3L, 4L, 5L, 6L)
    assert(cl(GraphCheck.closenessFromSources(ew, srcs)) ===
      cl(GraphCheck.closenessFromSources(ew, srcs, localThreshold = 0)))
  }

  test("betweennessFromSources: local == distributed; brute-force pair dependencies") {
    val ew = RoadGraph.directed(merged)
      .select(col("start_node"), col("end_node"),
        round(col("length") * 100).cast("long").as("w"))
    val srcs = Seq(1L, 3L, 4L, 5L, 6L)
    def bcMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val loc = bcMap(GraphCheck.betweennessFromSources(ew, srcs))
    val dist = bcMap(GraphCheck.betweennessFromSources(ew, srcs,
      localThreshold = 0))
    assert(loc.keySet === dist.keySet)
    loc.foreach { case (n, v) =>
      assert(math.abs(v - dist(n)) < 1e-9, s"node $n: $v vs ${dist(n)}") }

    // brute force on a random weighted digraph: enumerate every simple
    // path, per (s,t) keep the cheapest, and sum pass-through ratios
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val n = 7
    val es = (for (a <- 1 to n; b <- 1 to n
      if a != b && rnd.nextDouble() < 0.3)
      yield (a.toLong, b.toLong, (1 + rnd.nextInt(4)).toLong))
    val adj = es.groupBy(_._1).view
      .mapValues(_.map(t => (t._2, t._3))).toMap
    def paths(s: Long): Seq[(Long, Long, Seq[Long])] = {
      val out = scala.collection.mutable.ArrayBuffer[(Long, Long, Seq[Long])]()
      def dfs(u: Long, cost: Long, path: Seq[Long]): Unit = {
        if (u != s) out += ((u, cost, path))
        adj.getOrElse(u, Nil).foreach { case (v, w) =>
          if (!path.contains(v)) dfs(v, cost + w, path :+ v)
        }
      }
      dfs(s, 0L, Seq(s))
      out.toSeq
    }
    val seeds = Seq(1L, 2L, 3L)
    val expect = scala.collection.mutable.Map[Long, Double]()
    seeds.foreach { s0 =>
      val all = paths(s0)
      all.groupBy(_._1).foreach { case (t, ps) =>
        val best = ps.map(_._2).min
        val shortest = ps.filter(_._2 == best).map(_._3)
        val sig = shortest.size.toDouble
        shortest.flatMap(_.drop(1).dropRight(1)).groupBy(identity)
          .foreach { case (v, hits) =>
            expect(v) = expect.getOrElse(v, 0.0) + hits.size / sig }
      }
    }
    val got = bcMap(GraphCheck.betweennessFromSources(
      es.toDF("start_node", "end_node", "w"), seeds))
    val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct
    nodes.foreach { v =>
      assert(math.abs(got(v) - expect.getOrElse(v, 0.0)) < 1e-9,
        s"node $v: ${got(v)} vs ${expect.getOrElse(v, 0.0)}")
    }
  }

  test("modularity: closed-form two-triangles+bridge; refinement fixes a planted mislabel and never lowers Q on cliques") {
    import spark.implicits._
    // two triangles joined by one bridge, labels = triangle membership:
    // m=7, L=3 each, D=7 each -> Q = 2*(3/7 - (7/14)^2) = 5/14
    val tri = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 5L), (5L, 6L),
      (6L, 4L), (3L, 4L)).toDF("start_node", "end_node")
    val triLab = Seq((1L, 10L), (2L, 10L), (3L, 10L), (4L, 20L),
      (5L, 20L), (6L, 20L)).toDF("node_id", "label")
    val q0 = GraphCheck.modularity(tri, triLab).head()
    assert(q0.getLong(0) === 7L && q0.getLong(1) === 2L)
    assert(math.abs(q0.getDouble(2) - 5.0 / 14) < 1e-6)
    // two disjoint K4s, node 4 planted into the wrong community:
    // refinement must move exactly node 4 back, raising Q to the
    // perfect-partition 0.5
    val k4s = (for (g <- Seq(0L, 4L); i <- 1L to 4L; j <- (i + 1) to 4L)
      yield (g + i, g + j)).toDF("start_node", "end_node")
    val planted = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 5L), (5L, 5L),
      (6L, 5L), (7L, 5L), (8L, 5L)).toDF("node_id", "label")
    val qBefore = GraphCheck.modularity(k4s, planted).head().getDouble(2)
    val refined = GraphCheck.refineCommunities(k4s, planted)
    val got = refined.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 5L, 6L -> 5L, 7L -> 5L, 8L -> 5L))
    val qAfter = GraphCheck.modularity(k4s, refined).head().getDouble(2)
    assert(qAfter > qBefore, s"$qAfter should beat $qBefore")
    assert(math.abs(qAfter - 0.5) < 1e-6)
    // already-perfect clique labels: a refinement round is a no-op and
    // modularity is non-decreasing (trivially equal)
    val perfect = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L), (5L, 5L),
      (6L, 5L), (7L, 5L), (8L, 5L)).toDF("node_id", "label")
    val stayDf = GraphCheck.refineCommunities(k4s, perfect)
    val stay = stayDf.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(stay === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 5L, 6L -> 5L, 7L -> 5L, 8L -> 5L))
    val qStay = GraphCheck.modularity(k4s, perfect).head().getDouble(2)
    assert(GraphCheck.modularity(k4s, stayDf).head().getDouble(2) >= qStay)
    // multi-round loop: the planted-mislabel fixture reaches its fixed
    // point in round 1 and STAYS there (no oscillation) — 3 chained
    // rounds return the same perfect partition, Q still 0.5
    val multi = GraphCheck.refineCommunitiesRounds(k4s, planted, rounds = 3)
    assert(multi.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      === got)
    assert(math.abs(GraphCheck.modularity(k4s, multi).head().getDouble(2)
      - 0.5) < 1e-6)
  }

  test("louvain phase 2: coarsen invariance, parity-gated weighted refine merges what node moves cannot") {
    import spark.implicits._
    // coarsen exactness on two-triangles+bridge: self-loops carry the
    // 3 internal edges each, the bridge is the one cross edge
    val tri = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 5L), (5L, 6L),
      (6L, 4L), (3L, 4L)).toDF("start_node", "end_node")
    val triLab = Seq((1L, 10L), (2L, 10L), (3L, 10L), (4L, 20L),
      (5L, 20L), (6L, 20L)).toDF("node_id", "label")
    val coarse = GraphCheck.coarsenGraph(tri, triLab)
    assert(coarse.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      === Set((10L, 10L, 3L), (20L, 20L, 3L), (10L, 20L, 1L)))
    // THE multi-level invariant: weighted Q of the coarse graph under
    // identity labels == Q of the original graph under the labeling
    val ident = Seq((10L, 10L), (20L, 20L)).toDF("node_id", "label")
    val qw = GraphCheck.modularityWeighted(coarse, ident).head()
    val q = GraphCheck.modularity(tri, triLab).head()
    assert(qw.getLong(0) === q.getLong(0)) // W == m
    assert(qw.getLong(1) === q.getLong(1))
    assert(qw.getDouble(2) === q.getDouble(2))
    // split K4: no single-NODE move is Q-positive enough under
    // synchronous semantics (both halves move at once and just swap
    // labels — the documented pathology), but the parity-gated
    // COMMUNITY move merges the halves
    val k4 = (for (i <- 1L to 4L; j <- (i + 1) to 4L) yield (i, j))
      .toDF("start_node", "end_node")
    val halves = Seq((1L, 1L), (2L, 1L), (3L, 2L), (4L, 2L))
      .toDF("node_id", "label")
    val ck4 = GraphCheck.coarsenGraph(k4, halves)
    val cl0 = Seq((1L, 1L), (2L, 2L)).toDF("node_id", "label")
    val swap = GraphCheck.refineCommunitiesWeighted(ck4, cl0, parity = None)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(swap === Map(1L -> 2L, 2L -> 1L), "ungated round swaps forever")
    val merged = GraphCheck.louvainTwoLevel(k4, halves,
      level1Rounds = 0, level2Rounds = 2)
    assert(merged.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
    assert(math.abs(GraphCheck.modularity(k4, halves).head().getDouble(2)
      - (-1.0 / 6)) < 1e-6)
    assert(math.abs(GraphCheck.modularity(k4, merged).head().getDouble(2))
      < 1e-9)
    // SAME-PARITY community ids {1, 3}: a parity-only gate can never
    // merge these (both gated together, the odd round just swaps) —
    // the down-only move rule merges them regardless of parity
    val halvesOdd = Seq((1L, 1L), (2L, 1L), (3L, 3L), (4L, 3L))
      .toDF("node_id", "label")
    val mergedOdd = GraphCheck.louvainTwoLevel(k4, halvesOdd,
      level1Rounds = 0, level2Rounds = 2)
    assert(mergedOdd.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L),
      "same-parity communities must still merge")
    // ring of 8 two-node communities (pair i = nodes 100+i / 200+i,
    // community id i): merging adjacent pairs is Q-positive only
    // because n > 4; two gated rounds land the hand-derived pairing
    // {1,8}{2,3}{4,5}{6,7} — every merge adjacent, Q 0.375 -> 0.5
    val ring = ((1 to 8).map(i => (100L + i, 200L + i)) ++
      (1 to 8).map(i => (200L + i, 100L + (i % 8) + 1)))
      .toDF("start_node", "end_node")
    val pairLab = (1 to 8).flatMap(i =>
      Seq((100L + i, i.toLong), (200L + i, i.toLong)))
      .toDF("node_id", "label")
    val q1 = GraphCheck.modularity(ring, pairLab).head().getDouble(2)
    assert(math.abs(q1 - 0.375) < 1e-6)
    val two = GraphCheck.louvainTwoLevel(ring, pairLab,
      level1Rounds = 0, level2Rounds = 2)
    val byPair = two.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairCommunity = (1 to 8).map(i => byPair(100L + i))
    assert(pairCommunity === Seq(1L, 2L, 2L, 4L, 4L, 6L, 6L, 1L))
    val q2 = GraphCheck.modularity(ring, two).head().getDouble(2)
    assert(math.abs(q2 - 0.5) < 1e-6)
    assert(q2 > q1)
  }

  test("louvain family: broadcast-local paths == distributed loops (r22)") {
    import spark.implicits._
    // adversarial mix (the r21 CC-pinning graph, denser): chain, star,
    // cycle, self-loop, duplicate and reversed edges, random multi-edges
    val rnd = new scala.util.Random(13)
    val edges = ((1L until 64L).map(k => (k, k + 1)) ++
      (100L to 120L).map(k => (200L, k)) ++
      (300L to 309L).map(k => (k, if (k == 309L) 300L else k + 1)) ++
      Seq((400L, 400L), (5L, 4L), (2L, 3L)) ++
      Seq.fill(120)((rnd.nextInt(48).toLong + 1L, rnd.nextInt(48).toLong + 1L)))
      .toDF("start_node", "end_node")
    def rows2(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    def rows3(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    assert(rows2(GraphCheck.labelPropagation(edges, rounds = 3)) ===
      rows2(GraphCheck.labelPropagation(edges, rounds = 3,
        localThreshold = 0L)), "lpa local != distributed")
    val labels = GraphCheck.labelPropagation(edges, rounds = 3)
      // drop one hub label: coarsen/refine must agree on the
      // unlabeled-endpoint (inner-join) semantics too
      .filter(col("node_id") =!= 200L)
      .localCheckpoint(true)
    assert(rows2(GraphCheck.refineCommunitiesRounds(edges, labels,
        rounds = 3)) ===
      rows2(GraphCheck.refineCommunitiesRounds(edges, labels, rounds = 3,
        localThreshold = 0L)), "refine rounds local != distributed")
    assert(rows3(GraphCheck.coarsenGraph(edges, labels)) ===
      rows3(GraphCheck.coarsenGraph(edges, labels, localThreshold = 0L)),
      "coarsen local != distributed")
    // level2Rounds = 2 covers BOTH gated parities of the local twin
    assert(rows2(GraphCheck.louvainTwoLevel(edges, labels,
        level1Rounds = 3, level2Rounds = 2)) ===
      rows2(GraphCheck.louvainTwoLevel(edges, labels, level1Rounds = 3,
        level2Rounds = 2, localThreshold = 0L)),
      "two-level louvain local != distributed")
    assert(rows2(GraphCheck.coreness(edges, rounds = 8)) ===
      rows2(GraphCheck.coreness(edges, rounds = 8, localThreshold = 0L)),
      "coreness local != distributed")
  }

  test("turn restrictions: extractor drops decoys/malformed; no_ and only_ reroute the diamond") {
    import spark.implicits._
    val (rels, mems) = OsmModel.restrictionRelations(spark)
    val restr = RoadGraph.turnRestrictions(rels, mems)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    // decoy route relation (303) and the via-less restriction (304) gone
    assert(restr === Set((201L, 2L, 202L, "no"), (205L, 3L, 204L, "only")))
    val edges = Seq(
      (1L, 1L, 2L, 1L, 201L), (2L, 2L, 4L, 1L, 202L),
      (3L, 1L, 3L, 3L, 203L), (4L, 3L, 4L, 2L, 204L),
      (5L, 2L, 3L, 1L, 205L), (6L, 3L, 5L, 1L, 206L)
    ).toDF("edge_id", "start_node", "end_node", "w", "way_id")
    def dists(restrictions: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      GraphCheck.restrictedShortestPaths(edges, restrictions, source = 1L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // no restrictions: plain dijkstra distances
    val none = Seq.empty[(Long, Long, Long, String)]
      .toDF("from_way", "via_node", "to_way", "kind")
    assert(dists(none) === Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 2L, 5L -> 3L))
    // restricted: straight-on ban forces 1-2-3-4 (4); only_right at 3
    // closes 2-3-5, so 5 rides the long branch 1-3-5 (4)
    val got = dists(RoadGraph.turnRestrictions(rels, mems))
    assert(got === Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 4L, 5L -> 4L))
    // point-to-point with path: unrestricted rides the direct 1-2-4;
    // the straight-on ban reroutes through 3
    val restrDf = RoadGraph.turnRestrictions(rels, mems)
    assert(GraphCheck.restrictedRoute(edges, none, 1L, 4L)
      === Some((Seq(1L, 2L), Seq(1L, 2L, 4L), 2.0)))
    assert(GraphCheck.restrictedRoute(edges, restrDf, 1L, 4L)
      === Some((Seq(1L, 5L, 4L), Seq(1L, 2L, 3L, 4L), 4.0)))
    assert(GraphCheck.restrictedRoute(edges, restrDf, 4L, 1L) === None,
      "no reverse edges -> unreachable")
    assert(GraphCheck.restrictedRoute(edges, restrDf, 1L, 1L)
      === Some((Seq.empty, Seq(1L), 0.0)))
  }

  test("hits / harmonic / eccentricity / pseudo-diameter: closed forms, local == distributed") {
    import spark.implicits._
    // HITS co-citation star: 1 and 2 both point at 3 — pure hubs
    // (0.5 each after sum-norm) and one pure authority; fixpoint from
    // round 1 so 10 rounds stay put
    val star = Seq((1L, 3L), (2L, 3L)).toDF("start_node", "end_node")
    def hitsMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        r.getLong(0) -> (math.rint(r.getDouble(1) * 1e10) / 1e10,
          math.rint(r.getDouble(2) * 1e10) / 1e10)).toMap
    val hLocal = hitsMap(GraphCheck.hits(star, iters = 10))
    assert(hLocal === Map(1L -> (0.5, 0.0), 2L -> (0.5, 0.0),
      3L -> (0.0, 1.0)))
    assert(hitsMap(GraphCheck.hits(star, iters = 10, localThreshold = 0))
      === hLocal, "distributed HITS must match the local path")
    // harmonic on the weighted path 1 -(1)-> 2 -(2)-> 3, sources 1,2:
    // node 2 gets 1/1 from source 1; node 3 gets 1/3 + 1/2
    val path = Seq((1L, 2L, 1L), (2L, 3L, 2L))
      .toDF("start_node", "end_node", "w")
    val hm = GraphCheck.harmonicFromSources(path, Seq(1L, 2L))
      .collect().map(r => r.getLong(0) ->
        (math.rint(r.getDouble(1) * 1e9) / 1e9, r.getLong(2))).toMap
    assert(hm === Map(2L -> (1.0, 1L),
      3L -> (math.rint((1.0 / 3 + 1.0 / 2) * 1e9) / 1e9, 2L)))
    val hmD = GraphCheck.harmonicFromSources(path, Seq(1L, 2L),
      localThreshold = 0)
      .collect().map(r => r.getLong(0) ->
        (math.rint(r.getDouble(1) * 1e9) / 1e9, r.getLong(2))).toMap
    assert(hmD === hm, "distributed harmonic must match local")
    // eccentricity per source on the same path (source row counts in
    // `reached`: the SSSP relation includes the seed at 0)
    val ec = GraphCheck.eccentricityFromSources(path, Seq(1L, 2L))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(ec === Map(1L -> (3L, 3L), 2L -> (2L, 2L)))
    // pseudo-diameter double sweep on the undirected 5-path, seeded
    // mid-chain: first sweep ties at distance 2 (nodes 1 and 5) ->
    // smallest id 1; second sweep lands 5 at 4 hops
    val p5 = (1L to 4L).flatMap(i => Seq((i, i + 1), (i + 1, i)))
      .toDF("start_node", "end_node")
    val pd = GraphCheck.pseudoDiameter(p5, seed = 3L).head()
    assert((pd.getLong(0), pd.getLong(1), pd.getLong(2)) === ((1L, 5L, 4L)))
    // personalized PageRank, seed {1} on the out-star 1->{2,3}: at the
    // fixpoint rank(1) = teleport 0.15, leaves get 0.85 * 0.15 / 2
    val ppStar = Seq((1L, 2L), (1L, 3L)).toDF("start_node", "end_node")
    val pp = GraphCheck.personalizedPageRank(ppStar, Seq(1L), iters = 20)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(pp(1L) - 0.15) < 1e-9)
    assert(math.abs(pp(2L) - 0.85 * 0.15 / 2) < 1e-9)
    assert(math.abs(pp(3L) - 0.85 * 0.15 / 2) < 1e-9)
    val ppD = GraphCheck.personalizedPageRank(ppStar, Seq(1L),
      iters = 20, localThreshold = 0)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    pp.foreach { case (n, r) =>
      assert(math.abs(ppD(n) - r) < 1e-12, s"node $n local vs dist") }
    // duplicate seeds are deduped identically on BOTH paths: a repeated
    // seed must not halve its restart share (documented contract)
    Seq(100000L, 0L).foreach { thr =>
      val ppDup = GraphCheck.personalizedPageRank(ppStar, Seq(1L, 1L),
        iters = 20, localThreshold = thr)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      pp.foreach { case (n, r) =>
        assert(math.abs(ppDup(n) - r) < 1e-12,
          s"node $n dup-seed drift at threshold $thr") }
    }
    // empty source lists fail fast with a named contract, not a bare
    // reduce() UnsupportedOperationException
    Seq[(String, () => Any)](
      "costMatrix" -> (() => GraphCheck.costMatrix(path, Seq.empty, Seq(2L))),
      "closenessFromSources" -> (() => GraphCheck.closenessFromSources(path, Seq.empty)),
      "harmonicFromSources" -> (() => GraphCheck.harmonicFromSources(path, Seq.empty)),
      "eccentricityFromSources" -> (() => GraphCheck.eccentricityFromSources(path, Seq.empty))
    ).foreach { case (name, thunk) =>
      val ex = intercept[IllegalArgumentException](thunk())
      assert(ex.getMessage.contains(name), s"$name guard message")
    }
    // cost matrix on the weighted path: no self rows, unreachable
    // pairs absent
    val cm = GraphCheck.costMatrix(path, Seq(1L, 2L), Seq(2L, 3L))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(cm === Set((1L, 2L, 1L), (1L, 3L, 3L), (2L, 3L, 2L)))
  }

  test("via-way restrictions: shadow states ban the full F-V-T sequence but keep partial uses of V legal") {
    import spark.implicits._
    // F = way 101 (edge 1), V = way 102 (edge 2), T = way 103 (edge 3);
    // alternates: 2-5-4 (slow), V-exit 3-6-4, side entry 0-2 (way 108)
    val edges = Seq(
      (1L, 1L, 2L, 1L, 101L), (2L, 2L, 3L, 1L, 102L),
      (3L, 3L, 4L, 1L, 103L), (4L, 2L, 5L, 5L, 104L),
      (5L, 5L, 4L, 5L, 105L), (6L, 3L, 6L, 1L, 106L),
      (7L, 6L, 4L, 4L, 107L), (8L, 0L, 2L, 1L, 108L)
    ).toDF("edge_id", "start_node", "end_node", "w", "way_id")
    val (rels, mems) = OsmModel.viaWayRestrictionRelations(spark)
    val restr = RoadGraph.turnRestrictionsVia(rels, mems)
    // extractor: 401 no-via-way, 402 only-via-way, 403 dropped (2-way
    // via sequence), 404 keeps the NODE interpretation
    val got = restr.collect().map(r => (r.getLong(0),
      Option(r.get(1)).map(_.asInstanceOf[Long]),
      Option(r.get(2)).map(_.asInstanceOf[Long]),
      r.getLong(3), r.getString(4))).toSet
    assert(got === Set(
      (101L, None, Some(102L), 103L, "no"),
      (101L, None, Some(102L), 106L, "only"),
      (108L, Some(2L), None, 104L, "no")))
    // unrestricted baseline rides the banned sequence
    val none = restr.filter(lit(false))
    assert(GraphCheck.restrictedRoute(edges, none, 1L, 4L)
      === Some((Seq(1L, 2L, 3L), Seq(1L, 2L, 3L, 4L), 3.0)))
    // banned F-V-T: reroute EXITS V mid-way (1-2-3-6-4) — a pairwise
    // F->V or V->T ban could not leave this path legal
    assert(GraphCheck.restrictedRoute(edges, restr, 1L, 4L)
      === Some((Seq(1L, 2L, 6L, 7L), Seq(1L, 2L, 3L, 6L, 4L), 7.0)))
    // entering V from the side (way 108) keeps V->T legal: the
    // discriminator against banning V->T outright
    assert(GraphCheck.restrictedRoute(edges, restr, 0L, 4L)
      === Some((Seq(8L, 2L, 3L), Seq(0L, 2L, 3L, 4L), 3.0)))
    // only_ enforces BOTH legs: off way 101 you must ENTER the via
    // way, so node 5 (reachable from 1 only through edge 4 off way
    // 104) goes dark while the unrestricted graph rides 1-2-5
    assert(GraphCheck.restrictedRoute(edges, none, 1L, 5L)
      === Some((Seq(1L, 4L), Seq(1L, 2L, 5L), 6.0)))
    assert(GraphCheck.restrictedRoute(edges, restr, 1L, 5L) === None,
      "only_ must ban the non-via FIRST leg too")
    // node-distance surface agrees (min over real + shadow states;
    // node 5 unreachable under the first-leg ban)
    val d = GraphCheck.restrictedShortestPaths(edges, restr, 1L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d === Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 6L -> 3L, 4L -> 7L))
    // a via way split into TWO edges resolves to zero triples — the
    // documented limitation must surface through the audit, never
    // silently under-restrict
    val edges2 = edges.unionByName(Seq(
      (9L, 2L, 7L, 1L, 110L), (10L, 7L, 3L, 1L, 110L)
    ).toDF("edge_id", "start_node", "end_node", "w", "way_id"))
    val multiVia = Seq(
      (101L, Option.empty[Long], Option(110L), 103L, "no"))
      .toDF("from_way", "via_node", "via_way", "to_way", "kind")
    assert(GraphCheck.unresolvedViaWayRestrictions(edges2, multiVia)
      .count() === 1L)
    assert(GraphCheck.unresolvedViaWayRestrictions(edges, restr)
      .count() === 0L, "fixture restrictions all resolve")
  }

  test("cellUnionRings: L-shape concave ring, hole ring, saddle split") {
    import graft.osm.ServiceArea
    // L-shape (the q_osm_isochrone_poly fixture): one concave CCW ring
    val l = ServiceArea.cellUnionRings(
      Seq((0L, 0L), (1L, 0L), (1L, -1L)), 1.0)
    assert(l.map(r => (r._3, r._4)) === Seq(
      (0.0, 0.0), (1.0, 0.0), (1.0, -1.0), (2.0, -1.0), (2.0, 1.0),
      (0.0, 1.0)))
    // 3x3 ring of cells with the center missing: outer CCW ring (4
    // corners after collinear merge) + inner CW hole ring
    val donutCells = for {
      x <- 0L to 2L; y <- 0L to 2L if (x, y) != ((1L, 1L))
    } yield (x, y)
    val donut = ServiceArea.cellUnionRings(donutCells, 1.0)
    val byRing = donut.groupBy(_._1).view.mapValues(
      _.sortBy(_._2).map(r => (r._3, r._4))).toMap
    assert(byRing(0) === Seq((0.0, 0.0), (3.0, 0.0), (3.0, 3.0),
      (0.0, 3.0)), "outer ring CCW from min vertex")
    assert(byRing(1) === Seq((1.0, 1.0), (1.0, 2.0), (2.0, 2.0),
      (2.0, 1.0)), "hole ring CW (interior-left convention)")
    // corner-touching cells (saddle at (1,1)): two separate 4-vertex
    // rings, not one figure-eight — the per-edge left-turn walk
    val saddle = ServiceArea.cellUnionRings(Seq((0L, 0L), (1L, 1L)), 1.0)
    val rings = saddle.groupBy(_._1)
    assert(rings.size === 2 && rings.values.forall(_.size === 4))
    // degenerate: single cell -> unit square CCW
    assert(ServiceArea.cellUnionRings(Seq((5L, 7L)), 0.5)
      .map(r => (r._3, r._4)) ===
      Seq((2.5, 3.5), (3.0, 3.5), (3.0, 4.0), (2.5, 4.0)))
  }
}
