package graft.tools

import org.apache.spark.sql.functions._

/** Scale-headroom smoke: synthesizes inputs 10-100x beyond the sf0.1
  * test data straight from `spark.range` (no files, so the cost
  * measured is the operators', not the scan's) and runs the engine's
  * two newest scale paths end to end:
  *
  *   - `RoadGraph.splitSegments` over `ways x nodesPerWay` way-nodes
  *     with forced node sharing (every way shares boundary nodes with
  *     its neighbor) — the 3-shuffle array-form split at data scale;
  *   - `GraphCheck.connectedComponents` over a `chains x chainLen`
  *     path graph — the adversarial topology where pointer jumping is
  *     the difference between log2(chainLen) and chainLen rounds;
  *   - `GeometricSplit.createTopology` over the split output's edges —
  *     dense vertex-id assignment at data scale, the exact path the r6
  *     review flagged when it was a partition-less window (planet road
  *     graphs carry ~10^8 distinct vertices; the range-partition +
  *     zipWithIndex two-phase scheme must hold there).
  *
  * Prints one JSON line with row counts, run times, and the component
  * round count. `runMain graft.tools.ScaleSmoke [waysMillions]
  * [chainsThousands]` (defaults 2 and 200: 16M way-node rows, 12.8M
  * graph edges, ~2M topology edges with ~2M distinct snapped vertices).
  */
object ScaleSmoke {
  def main(args: Array[String]): Unit = {
    val hostBefore = HostRegime.loadavg()
    val waysM = if (args.nonEmpty) args(0).toDouble else 2.0
    val chainsK = if (args.length > 1) args(1).toDouble else 200.0
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.local(cpus.toInt)

    val nWays = (waysM * 1e6).toLong
    val perWay = 8
    // way w owns nodes [7w, 7w+7]: consecutive ways SHARE their
    // boundary node (endpoints -> no split), and every 10th way repeats
    // its own node at positions 3 and 4 (interior shared -> splits into
    // 3 segments). Expected segments = nWays + 2 * (nWays / 10).
    val wn = spark.range(nWays * perWay).select(
      (col("id") / perWay).cast("long").as("way_id"),
      (col("id") % perWay).cast("int").as("sequence_id"))
      .withColumn("node_id",
        col("way_id") * (perWay - 1) +
          when(col("way_id") % 10 === 0 && col("sequence_id") === 4, 3)
            .otherwise(col("sequence_id")))
      .select("way_id", "node_id", "sequence_id")

    val t0 = System.nanoTime()
    val segs = graft.osm.RoadGraph.splitSegments(wn, "way_id", "node_id",
        col("sequence_id"))
      .select(col("way_id"), size(col("nodes")).as("n"))
      .agg(count(lit(1)).as("segments"), sum(col("n")).as("nodes_total"))
      .head()
    val splitSec = (System.nanoTime() - t0) / 1e9

    val nChains = (chainsK * 1e3).toLong
    val chainLen = 64
    val edges = spark.range(nChains * (chainLen - 1)).select(
      (col("id") / (chainLen - 1)).cast("long").as("__c"),
      (col("id") % (chainLen - 1)).as("__i"))
      .select(
        (col("__c") * chainLen + col("__i")).as("start_node"),
        (col("__c") * chainLen + col("__i") + 1).as("end_node"))
    val t1 = System.nanoTime()
    // localThreshold = 0: this smoke witnesses the DISTRIBUTED loop's
    // scaling exponent — the broadcast-local path must not absorb the
    // smaller probe sizes (r21)
    val (labels, rounds) =
      graft.osm.GraphCheck.connectedComponentsWithRounds(edges,
        localThreshold = 0L)
    val comp = labels.agg(count(lit(1)).as("nodes"),
      countDistinct(col("component")).as("components")).head()
    val ccSec = (System.nanoTime() - t1) / 1e9

    // dense vertex ids over nWays edges: each edge's endpoints snap to
    // distinct grid cells (ids spread on a 100k x N grid), so the
    // distinct-vertex relation is edge-count-sized — the volume the
    // old global-window formulation funneled through ONE task
    val topoEdges = spark.range(nWays).select(col("id").as("edge_id"),
      array(
        struct((col("id") % 100000).cast("double") * 0.001 as "lon",
          (col("id") / 100000).cast("double") * 0.001 as "lat"),
        struct(((col("id") + 1) % 100000).cast("double") * 0.001 as "lon",
          ((col("id") + 1) / 100000).cast("double") * 0.001 as "lat"))
        .as("geom"))
    val t2 = System.nanoTime()
    val topo = graft.osm.GeometricSplit.createTopology(topoEdges)
      .agg(count(lit(1)).as("edges"),
        countDistinct(col("source")).as("src_ids"),
        max(col("target")).as("max_id")).head()
    val topoSec = (System.nanoTime() - t2) / 1e9

    // ST_DWithin distance join at constant spatial DENSITY: points on a
    // ~111 m lattice whose side grows with sqrt(n), radius 300 m, so
    // per-point neighbor count is constant and output pairs are O(n) —
    // the fixture under which a correctly bucketed join is linear and
    // an all-pairs (or under-bucketed) one is quadratic. Measured at n
    // and 4n; exponent = log(t_hi/t_lo)/log(4).
    def dwithin(n: Long): (Double, Long) = {
      val side = math.max(math.sqrt(n.toDouble).toLong, 1L)
      def pts(shift: Double) = spark.range(n).select(col("id"),
        struct(((col("id") % side).cast("double") * 0.001 + shift).as("lon"),
          ((col("id") / side).cast("double") * 0.001 + shift).as("lat")).as("p"))
      val l = pts(0.0).withColumnRenamed("id", "lid")
      val r = pts(0.0004).withColumnRenamed("id", "rid")
      val t = System.nanoTime()
      val pairs = graft.functions.Geo.distanceJoin(
        l, "lid", col("p"), r, "rid", col("p"),
        maxMeters = 300.0, cellDeg = 0.003).count()
      ((System.nanoTime() - t) / 1e9, pairs)
    }
    val nGeo = math.max(nWays, 1000000L)
    dwithin(nGeo / 10) // warm codegen
    val (dwLoSec, dwLoPairs) = dwithin(nGeo)
    val (dwHiSec, dwHiPairs) = dwithin(nGeo * 4)
    val dwExp = math.log(dwHiSec / dwLoSec) / math.log(4.0)

    // Points-in-polygons join at constant density: the same lattice,
    // tiled by 0.05-deg rects (each covers ~36 cells at cellDeg 0.01
    // and contains ~2.4k points), so output pairs are O(n) and
    // per-task candidates bounded — linear iff the bucketing works.
    def pip(n: Long): (Double, Long) = {
      val side = math.max(math.sqrt(n.toDouble).toLong, 1L)
      val pts = spark.range(n).select(col("id").as("pid"),
        struct(((col("id") % side).cast("double") * 0.001).as("lon"),
          ((col("id") / side).cast("double") * 0.001).as("lat")).as("p"))
      val m = (side * 0.001 / 0.05).toLong + 1
      val polys = spark.range(m * m).select(col("id").as("gid"),
        ((col("id") % m).cast("double") * 0.05).as("x0"),
        ((col("id") / m).cast("double") * 0.05).as("y0"))
        .select(col("gid"), array(
          struct((col("x0") + 0.0001).as("lon"), (col("y0") + 0.0001).as("lat")),
          struct((col("x0") + 0.0499).as("lon"), (col("y0") + 0.0001).as("lat")),
          struct((col("x0") + 0.0499).as("lon"), (col("y0") + 0.0499).as("lat")),
          struct((col("x0") + 0.0001).as("lon"), (col("y0") + 0.0499).as("lat")))
          .as("ring"))
      val t = System.nanoTime()
      val pairs = graft.functions.Geo.containsJoin(pts, "pid", col("p"),
        polys, "gid", col("ring"), cellDeg = 0.01).count()
      ((System.nanoTime() - t) / 1e9, pairs)
    }
    pip(nGeo / 10) // warm
    val (pipLoSec, pipLoPairs) = pip(nGeo)
    val (pipHiSec, pipHiPairs) = pip(nGeo * 4)
    val pipExp = math.log(pipHiSec / pipLoSec) / math.log(4.0)

    // Nearest-edge snap at constant density: the same point lattice
    // against short 2-segment edges tiled every 0.01 deg — each query
    // meets O(1) padded-bbox candidates, so the join is linear iff the
    // padded publish + home-cell probe works; every point finds a snap
    // (output rows == points).
    def snap(n: Long): (Double, Long) = {
      val side = math.max(math.sqrt(n.toDouble).toLong, 1L)
      val pts = spark.range(n).select(col("id").as("qid"),
        struct(((col("id") % side).cast("double") * 0.001).as("lon"),
          ((col("id") / side).cast("double") * 0.001).as("lat")).as("p"))
      val m = (side * 0.001 / 0.01).toLong + 1
      val edges = spark.range(m * m).select(col("id").as("eid"),
        ((col("id") % m).cast("double") * 0.01).as("x0"),
        ((col("id") / m).cast("double") * 0.01).as("y0"))
        .select(col("eid"), array(
          struct(col("x0").as("lon"), col("y0").as("lat")),
          struct((col("x0") + 0.004).as("lon"), col("y0").as("lat")),
          struct((col("x0") + 0.004).as("lon"), (col("y0") + 0.004).as("lat")))
          .as("g"))
      val t = System.nanoTime()
      val rows = graft.functions.Geo.nearestEdgeJoin(pts, "qid", col("p"),
        edges, "eid", col("g"), maxDist = 0.01, cellDeg = 0.01).count()
      ((System.nanoTime() - t) / 1e9, rows)
    }
    snap(nGeo / 10) // warm
    val (snLoSec, snLoRows) = snap(nGeo)
    val (snHiSec, snHiRows) = snap(nGeo * 4)
    val snExp = math.log(snHiSec / snLoSec) / math.log(4.0)

    // SSSP over a 10-ary tree: depth stays 7 across both sizes (2M and
    // 8M nodes), so ROUND COUNT is the scale witness — a relaxation
    // loop that didn't converge by hop depth would show rounds growing
    // with n. Wall time at these sizes is per-round job-launch
    // overhead (~9 rounds of join+agg+checkpoint), so 4x the data
    // moves the clock very little — the reached count (exactly n) and
    // the constant rounds are the evidence, not a time exponent.
    def sssp(n: Long): (Double, Long, Int) = {
      val edges = spark.range(1, n).select(
        ((col("id") - 1) / 10).cast("long").as("start_node"),
        col("id").as("end_node"),
        lit(1L).as("w"))
      val t = System.nanoTime()
      val (dist, rounds) =
        graft.osm.GraphCheck.shortestPathsWithRounds(edges, 0L, maxIter = 20)
      val reached = dist.count()
      ((System.nanoTime() - t) / 1e9, reached, rounds)
    }
    sssp(nGeo / 10) // warm
    val (ssLoSec, ssLoReach, ssLoRounds) = sssp(nGeo)
    val (ssHiSec, ssHiReach, ssHiRounds) = sssp(nGeo * 4)

    // Convex hull over 32 pseudo-random point groups: the compacted
    // partial state means cost is one scan plus O(hull) merges —
    // linear in n with a tiny constant, the property that lets a
    // billion-point group aggregate without collecting it.
    def hullSmoke(n: Long): (Double, Long) = {
      val pts = spark.range(n).select(pmod(col("id"), lit(32)).as("g"),
        struct(pmod(hash(col("id")), lit(100000)).cast("double").as("lon"),
          pmod(hash(col("id") * 7 + 1), lit(100000)).cast("double").as("lat"))
          .as("p"))
      val t = System.nanoTime()
      val vs = pts.groupBy("g")
        .agg(graft.functions.GraftFunctions.convexHull(col("p")).as("h"))
        .agg(sum(size(col("h")))).head().getLong(0)
      ((System.nanoTime() - t) / 1e9, vs)
    }
    // 4x the other smokes' sizes: per-point hull cost is so small that
    // anything less is job-launch overhead, not operator time
    hullSmoke(nGeo) // warm
    val (huLoSec, huLoVerts) = hullSmoke(nGeo * 4)
    val (huHiSec, huHiVerts) = hullSmoke(nGeo * 16)
    val huExp = math.log(huHiSec / huLoSec) / math.log(4.0)

    // SCC peel on a synthetic directed ROAD topology: a two-way 10-ary
    // tree core (one giant SCC, diameter 2*depth ~ 14 at 2M nodes) plus
    // oneway pockets hanging off every 100th core node — half dead-end
    // 3-chains (singleton SCCs: the oneway-tag-error shape routing must
    // not enter), half re-entrant 2-loops (members of the giant SCC).
    // The witnesses are the LOOP COUNTS, not wall time: the giant core
    // settles in peel 1, the dead chains (flooded by the giant's larger
    // color, so unable to root in the same pass) in peel 2 — peel count
    // tracks pocket DEPTH, and forward rounds track the tree diameter.
    // A peel count growing with pocket COUNT, or rounds growing with n,
    // is the scale bug this smoke exists to catch (RoadGraphSpec "SCC
    // stats" proves the same 2-peel contract on a 13-node miniature).
    val nScc = math.max(nGeo, 1000000L)
    val treeE = spark.range(1, nScc).select(
      ((col("id") - 1) / 10).cast("long").as("start_node"),
      col("id").as("end_node"))
    val core = treeE.unionByName(treeE.select(
      col("end_node").as("start_node"), col("start_node").as("end_node")))
    val deadBase = nScc
    val dead = spark.range(nScc / 100).select(col("id").as("k"),
        (col("id") * 100).as("c"))
      .select(explode(array(
        struct(col("c").as("start_node"), (lit(deadBase) + col("k") * 3).as("end_node")),
        struct((lit(deadBase) + col("k") * 3).as("start_node"),
          (lit(deadBase) + col("k") * 3 + 1).as("end_node")),
        struct((lit(deadBase) + col("k") * 3 + 1).as("start_node"),
          (lit(deadBase) + col("k") * 3 + 2).as("end_node")))).as("e"))
      .select(col("e.start_node"), col("e.end_node"))
    val reBase = nScc + 3L * (nScc / 100)
    val reent = spark.range(nScc / 100).select(col("id").as("k"),
        (col("id") * 100 + 50).as("c"))
      .filter(col("c") < nScc)
      .select(explode(array(
        struct(col("c").as("start_node"), (lit(reBase) + col("k") * 2).as("end_node")),
        struct((lit(reBase) + col("k") * 2).as("start_node"),
          (lit(reBase) + col("k") * 2 + 1).as("end_node")),
        struct((lit(reBase) + col("k") * 2 + 1).as("start_node"),
          col("c").as("end_node")))).as("e"))
      .select(col("e.start_node"), col("e.end_node"))
    val sccEdges = core.unionByName(dead).unionByName(reent)
    val t3 = System.nanoTime()
    val (sccLabels, sccPeels, sccFwdRounds) =
      graft.osm.GraphCheck.stronglyConnectedComponentsWithStats(sccEdges)
    val sccStats = sccLabels.groupBy("scc").agg(count(lit(1)).as("sz"))
      .agg(count(lit(1)).as("n_scc"), max(col("sz")).as("giant"),
        sum(when(col("sz") === 1, 1L).otherwise(0L)).as("singletons"))
      .head()
    val sccSec = (System.nanoTime() - t3) / 1e9

    // KSP ellipse prune: bidirectional 10-ary tree (low diameter — the
    // road-network regime) ABOVE the broadcast-local threshold, so the
    // first best-path search runs the distributed loop; after it, the
    // bounded dS/dT searches and every Yen spur search live inside the
    // ellipse around the (adjacent-leaf) route. Three leaf-to-leaf
    // shortcut edges near the route give the neighborhood >= 3 simple
    // src->tgt paths (2.0, 2.4, 3.0 — all within the first bound
    // best*1.5 = 3.0), so the prune RETURNS EARLY instead of
    // exhausting escalations into the unpruned fallback — the witness
    // measures the prune, not the fallback. Witness = Spark JOB COUNT
    // at n and 4n: without the prune, spur searches sweep the full
    // relation and job count scales with graph size; with it, 4n adds
    // only the handful of SSSP rounds of one deeper tree level.
    def kspSmoke(n: Long): (Double, Long, Int) = {
      import spark.implicits._
      val tree = spark.range(1, n).select(
        ((col("id") - 1) / 10).cast("long").as("start_node"),
        col("id").as("end_node"), lit(1.0).as("w"))
      val src = n - 1
      val parent = (src - 1) / 10
      val c1 = parent * 10 + 1
      val tgt = if (c1 != src && c1 < n) c1 else parent * 10 + 2
      val sib2 = if (parent * 10 + 3 != src) parent * 10 + 3
                 else parent * 10 + 4
      val extras = Seq(
        (src, tgt, 3.0), (tgt, src, 3.0),
        (src, sib2, 1.2), (sib2, src, 1.2),
        (sib2, tgt, 1.2), (tgt, sib2, 1.2))
        .toDF("start_node", "end_node", "w")
      val e = tree.unionByName(tree.select(
        col("end_node").as("start_node"), col("start_node").as("end_node"),
        col("w"))).unionByName(extras)
      val jobs = new java.util.concurrent.atomic.AtomicLong(0)
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      }
      spark.sparkContext.addSparkListener(listener)
      val t = System.nanoTime()
      val res = graft.osm.GraphCheck.kShortestPaths(e, src, tgt, k = 3)
      val sec = (System.nanoTime() - t) / 1e9
      Thread.sleep(500) // let the async listener bus drain
      spark.sparkContext.removeSparkListener(listener)
      require(res.map(_._2) == Seq(2.0, 2.4, 3.0),
        s"ksp smoke: unexpected ranking ${res.map(_._2)}")
      (sec, jobs.get(), res.size)
    }
    val (kspLoSec, kspLoJobs, _) = kspSmoke(1000000L)
    val (kspHiSec, kspHiJobs, _) = kspSmoke(4000000L)
    // the prune holds job count nearly flat for 4x graph growth: the
    // delta is one deeper tree level's worth of SSSP rounds, not a
    // full-relation spur-search sweep
    require(kspHiJobs - kspLoJobs < 250,
      s"ksp ellipse prune lost: jobs $kspLoJobs -> $kspHiJobs")

    // Path reconstruction from a settled SSSP relation: a synthetic
    // 4k/16k-hop predecessor CHAIN fed straight to reconstructPath
    // isolates the witness from the SSSP producing it. Binary lifting
    // makes job count O(log hops) — 4x the hops adds ~2 doubling
    // rounds' worth of jobs; the old per-hop driver walk-back would
    // show 4x the jobs (4096 -> 16384).
    def pathSmoke(hops: Long): (Double, Long) = {
      val settled = spark.range(0L, hops + 1).select(
        col("id").as("node_id"), col("id").cast("double").as("dist"),
        greatest(col("id") - 1, lit(0L)).as("pred"))
      val jobs = new java.util.concurrent.atomic.AtomicLong(0)
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      }
      spark.sparkContext.addSparkListener(listener)
      val t = System.nanoTime()
      val res = graft.osm.GraphCheck.reconstructPath(settled, 0L, hops,
        maxHops = hops.toInt + 8)
      val sec = (System.nanoTime() - t) / 1e9
      Thread.sleep(500) // let the async listener bus drain
      spark.sparkContext.removeSparkListener(listener)
      require(res.exists(r => r._1.size == hops + 1 && r._1.head == 0L &&
        r._1.last == hops && r._2 == hops.toDouble),
        s"path smoke: bad reconstruction ${res.map(r => (r._1.size, r._2))}")
      (sec, jobs.get())
    }
    val (pathLoSec, pathLoJobs) = pathSmoke(4096L)
    val (pathHiSec, pathHiJobs) = pathSmoke(16384L)
    // +2 doubling rounds of ~6 jobs each for 4x the hops (74 -> 86
    // measured); the per-hop walk-back this replaced would be 4096 ->
    // 16384 jobs
    require(pathHiJobs <= pathLoJobs + 16,
      s"path reconstruction not O(log hops): jobs $pathLoJobs -> $pathHiJobs")

    // Distributed A*: g x g lattice (0.001-deg spacing, haversine-cm
    // weights = the exact-heuristic regime), route west edge -> east
    // edge through the middle, localThreshold=0 so the goal-directed
    // DISTRIBUTED loop runs. Witness: A* settles the ellipse corridor
    // around the route while plain SSSP settles the whole lattice —
    // settled count must drop by >2x — and total distance matches the
    // unpruned SSSP exactly (identical-result contract).
    val astarG = 50L
    val (astarSettled, astarTotalNodes) = {
      val g = astarG
      val base = spark.range(g * g).select(
        (col("id") / g).cast("long").as("i"), (col("id") % g).as("j"))
      val right = base.filter(col("i") < g - 1)
        .select((col("i") * g + col("j")).as("a"),
          ((col("i") + 1) * g + col("j")).as("b"))
      val upE = base.filter(col("j") < g - 1)
        .select((col("i") * g + col("j")).as("a"),
          (col("i") * g + col("j") + 1).as("b"))
      val und = right.unionByName(upE)
      def lonOf(c: org.apache.spark.sql.Column) =
        (c / g).cast("long").cast("double") * 0.001
      def latOf(c: org.apache.spark.sql.Column) =
        (c % g).cast("double") * 0.001
      def hav(lon1: org.apache.spark.sql.Column, lat1: org.apache.spark.sql.Column,
          lon2: org.apache.spark.sql.Column, lat2: org.apache.spark.sql.Column) = {
        val aa = pow(sin(radians(lat2 - lat1) / 2), 2) +
          cos(radians(lat1)) * cos(radians(lat2)) *
            pow(sin(radians(lon2 - lon1) / 2), 2)
        lit(2.0 * 6371008.8 * 100.0) * asin(sqrt(aa))
      }
      val dirE = und.unionByName(und.select(col("b").as("a"), col("a").as("b")))
        .select(col("a").as("start_node"), col("b").as("end_node"),
          hav(lonOf(col("a")), latOf(col("a")),
            lonOf(col("b")), latOf(col("b"))).as("w"))
      val coords = spark.range(g * g).select(col("id").as("node_id"),
        lonOf(col("id")).as("lon"), latOf(col("id")).as("lat"))
      val src = g / 2
      val tgt = (g - 1) * g + g / 2
      val res = graft.osm.GraphCheck.aStarPathTo(dirE, coords, src, tgt,
        maxIter = 2 * g.toInt, localThreshold = 0L)
      require(res.nonEmpty, "astar smoke: no path")
      val (dist, _) = graft.osm.GraphCheck.shortestPathsWithRounds(
        dirE.select(col("start_node"), col("end_node"), col("w")),
        src, maxIter = 2 * g.toInt)
      val dTotal = dist.filter(col("node_id") === tgt)
        .select(col("dist").cast("double")).head().getDouble(0)
      require(math.abs(res.get._2 - dTotal) < 1e-6,
        s"astar smoke: total ${res.get._2} != sssp $dTotal")
      (res.get._3, dist.count())
    }
    require(astarSettled * 2 < astarTotalNodes,
      s"astar prune weak: settled $astarSettled of $astarTotalNodes")

    // triangle counting + H-index coreness at constant average degree
    // (hash-random endpoints, 4 edges/node): bounded degrees keep the
    // degree-ordered wedge join linear-ish; measured at n and 4n,
    // exponent = log(t_hi/t_lo)/log(4)
    def cohesionSmoke(n: Long): (Double, Double, Long, Long) = {
      val edges = spark.range(n * 4).select(
        pmod(hash(col("id"), lit(1)), lit(n)).cast("long").as("start_node"),
        pmod(hash(col("id"), lit(2)), lit(n)).cast("long").as("end_node"))
      val t = System.nanoTime()
      val tri = graft.osm.GraphCheck.triangleCounts(edges)
        .agg(coalesce(sum(col("triangles")), lit(0L))).head().getLong(0)
      val triSec = (System.nanoTime() - t) / 1e9
      val t2 = System.nanoTime()
      val maxCore = graft.osm.GraphCheck.coreness(edges, rounds = 6)
        .agg(max(col("coreness"))).head().getLong(0)
      val coreSec = (System.nanoTime() - t2) / 1e9
      (triSec, coreSec, tri / 3, maxCore)
    }
    cohesionSmoke(60000L) // warm codegen off the measured path
    val (triLoSec, coreLoSec, triLoCnt, coreLoMax) = cohesionSmoke(250000L)
    val (triHiSec, coreHiSec, triHiCnt, coreHiMax) = cohesionSmoke(1000000L)
    val triExp = math.log(triHiSec / triLoSec) / math.log(4.0)
    val coreExp = math.log(coreHiSec / coreLoSec) / math.log(4.0)

    // celebrity-hub coreness: ONE node of degree 1M. The old sorted-window
    // H-index path funneled all 1M neighbor rows into a single window
    // partition (straggler); the histogram fold reduces them map-side to
    // <= distinct-values x partitions rows, so wall time here should sit
    // near the uniform-graph time per edge, not blow up on the one key.
    def coreHubSmoke(spokes: Long): (Double, Long) = {
      val star = spark.range(1L, spokes + 1).select(
        lit(0L).as("start_node"), col("id").as("end_node"))
      // a K8 welded on spokes 1..8 so the answer isn't all-ones
      val k8 = spark.range(8L * 8).select(
        (col("id") / 8 + 1).cast("long").as("start_node"),
        (col("id") % 8 + 1).cast("long").as("end_node"))
        .filter(col("start_node") < col("end_node"))
      val t = System.nanoTime()
      val maxCore = graft.osm.GraphCheck
        .coreness(star.unionByName(k8), rounds = 4)
        .agg(max(col("coreness"))).head().getLong(0)
      ((System.nanoTime() - t) / 1e9, maxCore)
    }
    val (coreHubSec, coreHubMax) = coreHubSmoke(1000000L)

    // two-level Louvain at data scale: n K4-cliques in a chain (7n
    // edges). Phase 2 must merge adjacent cliques PAIRWISE and exactly
    // (the PlanAuditSpec closed form: final label = (node div 8) * 2),
    // so the smoke self-asserts correctness while timing the
    // coarsen + 2 parity-gated weighted sweeps + projection pipeline.
    def louvainSmoke(n: Long): (Double, Long) = {
      val (edges, labels) = graft.osm.GraphFixtures.cliqueChain(spark, n)
      val t = System.nanoTime()
      val two = graft.osm.GraphCheck.louvainTwoLevel(
        edges, labels, level1Rounds = 0, level2Rounds = 2)
      val bad = two
        .filter(col("label") =!= floor(col("node_id") / 8) * 2).count()
      require(bad == 0L, s"louvain smoke: $bad nodes off the exact merge")
      ((System.nanoTime() - t) / 1e9, n / 2)
    }
    val (louLoSec, louLoComms) = louvainSmoke(50000L)
    val (louHiSec, louHiComms) = louvainSmoke(200000L)
    val louExp = math.log(louHiSec / louLoSec) / math.log(4.0)

    // Turn-restricted routing (pgr_trsp via-way shadow states) at
    // scale: a depth-10 4-ary out-tree — 1,398,100 edges, node v's
    // children are 4v+1..4v+4, edge/way id = child id — with 1000
    // via-way 'no' restrictions at DISTINCT (F, V) prefixes:
    // (from_way (c-1)/4, via_way c, to_way 4c+1) for c in 341..1340
    // (c at heap depth 5, banned grandchild g = 4c+1 at depth 6). In a
    // tree the banned triple is the ONLY route into g, so each
    // restriction prunes exactly g's subtree of (4^5-1)/3 = 341 nodes
    // — an exact closed-form witness. Gates: the shadow-state count is
    // |restrictions| (state graph stays |E| + |restrictions|-sized),
    // the reached sets match the closed forms, and the restricted run's
    // job count stays within a constant factor of the unrestricted SAME
    // machinery (SSSP rounds track the depth, no per-restriction jobs).
    val trspDepth = 10
    val trspNodes = (math.pow(4.0, trspDepth + 1).toLong - 1) / 3
    val trspEdges = spark.range(1L, trspNodes).select(
        col("id").as("edge_id"),
        ((col("id") - 1) / 4).cast("long").as("start_node"),
        col("id").as("end_node"),
        lit(1L).as("w"),
        col("id").as("way_id"))
      .localCheckpoint(true)
    val trspR = spark.range(341L, 1341L).select(
      ((col("id") - 1) / 4).cast("long").as("from_way"),
      lit(null).cast("long").as("via_node"),
      col("id").as("via_way"),
      (col("id") * 4 + 1).as("to_way"),
      lit("no").as("kind"))
    val (_, trspSmap) =
      graft.osm.GraphCheck.restrictedStateGraph(trspEdges, trspR)
    val trspShadows = trspSmap.count() - (trspNodes - 1)
    def trspRun(r: org.apache.spark.sql.DataFrame): (Double, Long, Long) = {
      val jobs = new java.util.concurrent.atomic.AtomicLong(0)
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      }
      spark.sparkContext.addSparkListener(l)
      val t = System.nanoTime()
      val reached = graft.osm.GraphCheck
        .restrictedShortestPaths(trspEdges, r, source = 0L).count()
      val sec = (System.nanoTime() - t) / 1e9
      // the listener bus is asynchronous — onJobStart events may still
      // be in flight when the action returns. Quiesce: poll until the
      // counter is stable across two consecutive reads (bounded 5 s)
      // BEFORE removing the listener and reading the job count.
      val deadline = System.nanoTime() + 5000000000L
      var prev = -1L
      while (prev != jobs.get() && System.nanoTime() < deadline) {
        prev = jobs.get()
        Thread.sleep(100)
      }
      spark.sparkContext.removeSparkListener(l)
      (sec, jobs.get(), reached)
    }
    val (trspPlainSec, trspPlainJobs, trspPlainReached) =
      trspRun(trspR.filter(lit(false)))
    val (trspSec, trspJobs, trspReached) = trspRun(trspR)
    require(trspShadows == 1000L,
      s"trsp smoke: expected 1000 shadow states, got $trspShadows")
    require(trspPlainReached == trspNodes,
      s"trsp smoke: plain SSSP reached $trspPlainReached of $trspNodes")
    require(trspReached == trspNodes - 1000L * 341,
      s"trsp smoke: restricted reached $trspReached, " +
        s"expected ${trspNodes - 341000L}")
    require(trspJobs <= trspPlainJobs * 2 + 30,
      s"trsp smoke: restricted jobs $trspJobs vs plain $trspPlainJobs — " +
        "per-restriction job blowup")

    // ---- pgr_contraction analog at data scale (VERDICT r19 item 5
    //      scale witness): a hub-spoked ring — J junctions, each pair
    //      linked by an L-vertex degree-2 chain, each junction carrying
    //      a depth-D dead-end path and a spoke to one celebrity hub
    //      (degree J, the skew case). Expected: exactly J shortcuts of
    //      cost L+1 (every ring chain), J absorption rows of D vertices
    //      each, hub + junctions + spokes survive. Peel rounds = D
    //      (tree LEVELS, not vertices); chain discovery rides the
    //      O(log) CC. Exponent over 4x junctions ~1.0 = keyed-shuffle
    //      economics hold.
    def contractionFixture(j: Long, l: Long, d: Long) = {
      val hub = -1L
      val ring = spark.range(j * (l + 1)).select(
        (col("id") / (l + 1)).cast("long").as("__j"),
        (col("id") % (l + 1)).cast("long").as("__i"))
        .select(
          lit(1000L).as("edge_id"),
          when(col("__i") === 0, col("__j"))
            .otherwise(lit(1000000L) + col("__j") * l + col("__i") - 1)
            .as("source"),
          when(col("__i") === l, (col("__j") + 1) % j)
            .otherwise(lit(1000000L) + col("__j") * l + col("__i"))
            .as("target"),
          lit(1.0).as("cost"))
      val trees = spark.range(j * d).select(
        (col("id") / d).cast("long").as("__j"),
        (col("id") % d).cast("long").as("__i"))
        .select(lit(2000L).as("edge_id"),
          when(col("__i") === 0, col("__j"))
            .otherwise(lit(100000000L) + col("__j") * d + col("__i") - 1)
            .as("source"),
          (lit(100000000L) + col("__j") * d + col("__i")).as("target"),
          lit(1.0).as("cost"))
      // expensive spokes: in the route check the ring chains must WIN
      // (junction distances = 51 * ring hops, not a 2-hop hub bypass),
      // or the invariant would never exercise the shortcuts
      val spokes = spark.range(j).select(lit(3000L).as("edge_id"),
        col("id").as("source"), lit(hub).as("target"), lit(1000.0).as("cost"))
      ring.unionByName(trees).unionByName(spokes)
        .withColumn("edge_id",
          org.apache.spark.sql.functions.monotonically_increasing_id())
        .localCheckpoint(true)
    }
    def contractionRun(j: Long, l: Long, d: Long): Double = {
      val fix = contractionFixture(j, l, d)
      val t = System.nanoTime()
      val r = graft.osm.Contraction.contractGraph(fix, maxPeelRounds = 128)
      val sc = r.edges.filter(size(col("contracted")) > 0)
        .agg(count(lit(1)), min(col("cost")), max(col("cost")),
          sum(size(col("contracted")))).head()
      val vm = r.vertexAbsorptions
        .agg(count(lit(1)), sum(size(col("contracted")))).head()
      val sec = (System.nanoTime() - t) / 1e9
      require(sc.getLong(0) == j && sc.getDouble(1) == (l + 1).toDouble &&
          sc.getDouble(2) == (l + 1).toDouble && sc.getLong(3) == j * l,
        s"contraction smoke: expected $j shortcuts of cost ${l + 1} " +
          s"covering ${j * l} vertices, got $sc")
      require(vm.getLong(0) == j && vm.getLong(1) == j * d,
        s"contraction smoke: expected $j absorption rows / ${j * d} " +
          s"vertices, got $vm")
      sec
    }
    val conJ = 2000L
    contractionRun(conJ / 4, 30L, 6L) // warm codegen
    val conLoSec = contractionRun(conJ, 30L, 6L)
    val conHiSec = contractionRun(conJ * 4, 30L, 6L)
    val conExp = math.log(conHiSec / conLoSec) / math.log(4.0)

    // route invariant at the local-Dijkstra slice: junction-to-junction
    // distances identical on the contracted graph (the property a
    // routing consumer contracts FOR)
    val routeFix = contractionFixture(32L, 50L, 4L)
    val routeCon = graft.osm.Contraction.contractGraph(routeFix).edges
    def symE(e: org.apache.spark.sql.DataFrame) =
      e.select(col("source").as("start_node"), col("target").as("end_node"),
          col("cost").as("w"))
        .unionByName(e.select(col("target").as("start_node"),
          col("source").as("end_node"), col("cost").as("w")))
    val distBefore = graft.osm.GraphCheck.shortestPaths(symE(routeFix), 0L)
      .filter(col("node_id") >= 0 && col("node_id") < 32)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    val distAfter = graft.osm.GraphCheck.shortestPaths(symE(routeCon), 0L)
      .filter(col("node_id") >= 0 && col("node_id") < 32)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    require(distBefore.size == 32 && distBefore == distAfter,
      s"contraction changed junction distances: $distBefore vs $distAfter")

    println(s"""{"metric":"scale_smoke","way_node_rows":${nWays * perWay},""" +
      s""""split_segments":${segs.getLong(0)},"split_sec":$splitSec,""" +
      s""""edges":${nChains * (chainLen - 1)},"cc_nodes":${comp.getLong(0)},""" +
      s""""cc_components":${comp.getLong(1)},"cc_rounds":$rounds,""" +
      s""""cc_sec":$ccSec,"topo_edges":${topo.getLong(0)},""" +
      s""""topo_src_ids":${topo.getLong(1)},"topo_max_id":${topo.getLong(2)},""" +
      s""""topo_sec":$topoSec,""" +
      s""""dwithin_points_lo":$nGeo,"dwithin_pairs_lo":$dwLoPairs,""" +
      f""""dwithin_sec_lo":$dwLoSec%.2f,"dwithin_points_hi":${nGeo * 4},""" +
      s""""dwithin_pairs_hi":$dwHiPairs,""" +
      f""""dwithin_sec_hi":$dwHiSec%.2f,"dwithin_exponent":$dwExp%.3f,""" +
      s""""pip_pairs_lo":$pipLoPairs,"pip_pairs_hi":$pipHiPairs,""" +
      f""""pip_sec_lo":$pipLoSec%.2f,"pip_sec_hi":$pipHiSec%.2f,""" +
      f""""pip_exponent":$pipExp%.3f,""" +
      s""""snap_rows_lo":$snLoRows,"snap_rows_hi":$snHiRows,""" +
      f""""snap_sec_lo":$snLoSec%.2f,"snap_sec_hi":$snHiSec%.2f,""" +
      f""""snap_exponent":$snExp%.3f,""" +
      s""""sssp_reached_lo":$ssLoReach,"sssp_reached_hi":$ssHiReach,""" +
      f""""sssp_sec_lo":$ssLoSec%.2f,"sssp_sec_hi":$ssHiSec%.2f,""" +
      s""""sssp_rounds_lo":$ssLoRounds,"sssp_rounds_hi":$ssHiRounds,""" +
      s""""hull_points_lo":${nGeo * 4},"hull_points_hi":${nGeo * 16},""" +
      s""""hull_verts_lo":$huLoVerts,"hull_verts_hi":$huHiVerts,""" +
      f""""hull_sec_lo":$huLoSec%.2f,"hull_sec_hi":$huHiSec%.2f,""" +
      f""""hull_exponent":$huExp%.3f,""" +
      s""""scc_nodes":${sccLabels.count()},"scc_count":${sccStats.getLong(0)},""" +
      s""""scc_giant":${sccStats.getLong(1)},"scc_singletons":${sccStats.getLong(2)},""" +
      s""""scc_peels":$sccPeels,"scc_fwd_rounds":$sccFwdRounds,""" +
      f""""scc_sec":$sccSec%.2f,""" +
      s""""ksp_jobs_lo":$kspLoJobs,"ksp_jobs_hi":$kspHiJobs,""" +
      f""""ksp_sec_lo":$kspLoSec%.2f,"ksp_sec_hi":$kspHiSec%.2f,""" +
      s""""path_hops_lo":4096,"path_hops_hi":16384,""" +
      s""""path_jobs_lo":$pathLoJobs,"path_jobs_hi":$pathHiJobs,""" +
      f""""path_sec_lo":$pathLoSec%.2f,"path_sec_hi":$pathHiSec%.2f,""" +
      s""""astar_lattice_nodes":${astarG * astarG},""" +
      s""""astar_settled":$astarSettled,""" +
      s""""astar_sssp_settled":$astarTotalNodes,""" +
      s""""tri_count_lo":$triLoCnt,"tri_count_hi":$triHiCnt,""" +
      f""""tri_sec_lo":$triLoSec%.2f,"tri_sec_hi":$triHiSec%.2f,""" +
      f""""tri_exponent":$triExp%.3f,""" +
      s""""core_max_lo":$coreLoMax,"core_max_hi":$coreHiMax,""" +
      f""""core_sec_lo":$coreLoSec%.2f,"core_sec_hi":$coreHiSec%.2f,""" +
      f""""core_exponent":$coreExp%.3f,""" +
      s""""core_hub_degree":1000000,"core_hub_max":$coreHubMax,""" +
      f""""core_hub_sec":$coreHubSec%.2f,""" +
      s""""louvain_comms_lo":$louLoComms,"louvain_comms_hi":$louHiComms,""" +
      f""""louvain_sec_lo":$louLoSec%.2f,"louvain_sec_hi":$louHiSec%.2f,""" +
      f""""louvain_exponent":$louExp%.3f,""" +
      s""""trsp_nodes":$trspNodes,"trsp_restrictions":1000,""" +
      s""""trsp_shadow_states":$trspShadows,""" +
      s""""trsp_reached_plain":$trspPlainReached,""" +
      s""""trsp_reached_restricted":$trspReached,""" +
      s""""trsp_jobs_plain":$trspPlainJobs,"trsp_jobs_restricted":$trspJobs,""" +
      f""""trsp_sec_plain":$trspPlainSec%.2f,"trsp_sec_restricted":$trspSec%.2f,""" +
      s""""contraction_junctions_lo":$conJ,"contraction_junctions_hi":${conJ * 4},""" +
      f""""contraction_sec_lo":$conLoSec%.2f,"contraction_sec_hi":$conHiSec%.2f,""" +
      f""""contraction_exponent":$conExp%.3f,""" +
      s""""contraction_route_equal":true,""" +
      HostRegime.json(hostBefore) + "}")
    spark.stop()
  }
}
