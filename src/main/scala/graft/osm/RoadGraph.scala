package graft.osm

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

import graft.functions.{Geo, GraftFunctions => GF}
import graft.ops.RelOps

/** The flagship road-network graph pipeline (osm-road-graphs.sql,
  * EP3 in SURVEY §3), re-expressed as DataFrame transforms. Each public
  * stage function is a lazy plan. The reference writes eleven staging
  * tables once each and later steps read them; [[buildMergedNetwork]]
  * does the same for the stages read more than once: it
  * `localCheckpoint`s the filtered, imputed network and the merged
  * output, and [[splitChain]] the shared nodes, way lengths, merge
  * limits and nodes-to-merge. Left lazy, every consumer inlines its
  * own copy: one plan then holds ~22 copies of the network and ~1,300
  * logical operators, and the driver spends longer planning it than
  * the executors spend running it.
  *
  * Unit policy (SURVEY §7.4-3): the reference mixes planar meters
  * (osm-road-graphs.sql:11) and geodesic km (:156); we standardize on
  * geodesic METERS everywhere.
  */
object RoadGraph {

  /** Highway classes included in the car network (osm-road-graphs.sql:16-17). */
  val includedHighways: Seq[String] = Seq(
    "motorway", "primary", "tertiary", "secondary", "primary_link",
    "tertiary_link", "secondary_link", "trunk", "residential",
    "unclassified", "living_street")

  /** Step 1 (osm-road-graphs.sql:8-18): filter ways by mode, project
    * edge attributes. speed_limit via get_ints_from_text(tags->'maxspeed')[1]
    * (F1); endpoints via 1-based element_at (F2 — PG arrays are 1-based).
    */
  def carNetwork(ways: DataFrame): DataFrame =
    ways
      .filter(element_at(col("tags"), "highway").isin(includedHighways: _*))
      .select(
        element_at(col("nodes"), 1).as("start_node"),
        element_at(col("nodes"), -1).as("end_node"),
        col("id").as("edge_id"),
        col("tags"), col("nodes"),
        Geo.geodesicLengthMeters(col("linestring")).as("length"),
        element_at(GF.extractIntsBuiltin(element_at(col("tags"), "maxspeed")), 1)
          .as("speed_limit"),
        element_at(col("tags"), "highway").as("highway"),
        element_at(col("tags"), "oneway").as("oneway"),
        col("linestring").as("geom"))

  /** Step 2 (osm-road-graphs.sql:19-28): mode-exclusion DELETE under
    * 3VL — rows whose tags are absent (NULL) survive (SURVEY §7.4-2).
    */
  def excludeModes(network: DataFrame): DataFrame = {
    val t: String => Column = k => element_at(col("tags"), k)
    RelOps.deleteWhere(network,
      t("bicycle").isin("designated") ||
        t("foot").isin("designated") ||
        t("bus").isin("designated") ||
        t("footway").isin("sidewalk", "crossing") ||
        t("motor_vehicle").isin("no", "private") ||
        t("access").isin("no", "private") ||
        t("service").isin("parking_aisle", "parking"))
  }

  /** Step 3 (osm-road-graphs.sql:32-40): speed value summary. */
  def speedSummary(network: DataFrame): DataFrame =
    network.groupBy("highway", "speed_limit").agg(count(lit(1)).as("count"))
      .orderBy(col("highway"), col("count").desc, col("speed_limit"))

  /** Step 4 (osm-road-graphs.sql:43-46): per-class median speed via the
    * custom median Aggregator (X4). */
  def speedMedians(network: DataFrame): DataFrame =
    network.groupBy("highway")
      .agg(GF.medianExact(col("speed_limit").cast("double")).as("median_speed"))

  /** Step 5 (osm-road-graphs.sql:49-54): UPDATE..FROM median imputation —
    * left join against the (broadcast) per-class median table, replacing
    * only NULL speed limits. PG assigns float8 into an INTEGER column
    * (round-to-nearest); reproduced with round+cast.
    */
  def imputeSpeedLimits(network: DataFrame): DataFrame = {
    val medians = speedMedians(network)
      .withColumn("median_speed_int", round(col("median_speed")).cast("int"))
    RelOps.updateFrom(network, medians, Seq("highway"),
      Map("speed_limit" -> "median_speed_int"),
      whereTarget = col("speed_limit").isNull)
  }

  /** Steps 6/12 (osm-road-graphs.sql:57-61,168-172): endpoint nodes with
    * WKT coords — semi join against distinct start ∪ end (U1/J4).
    */
  def networkNodes(nodes: DataFrame, network: DataFrame): DataFrame = {
    val endpoints = RelOps.unionDistinct(Seq(
      network.select(col("start_node").as("node_id")),
      network.select(col("end_node").as("node_id"))))
    nodes.join(endpoints, nodes("id") === endpoints("node_id"), "left_semi")
      .select(col("id").as("node_id"), Geo.asTextPoint(col("geom")).as("node_coord"))
  }

  /** Step 7 (osm-road-graphs.sql:66-76): nodes shared by >1 network way
    * (A1 + A3 HAVING-style post-filter + J4 semi restrict).
    */
  def sharedNodes(wayNodes: DataFrame, network: DataFrame): DataFrame =
    wayNodes
      .join(network.select("edge_id"), wayNodes("way_id") === col("edge_id"), "left_semi")
      .groupBy("node_id").agg(count(lit(1)).as("count"))
      .filter(col("count") > 1)

  /** Step 8 (osm-road-graphs.sql:78-85): last node / max sequence per way
    * (A13 DISTINCT ON) — `sequence_id > 1` also drops 2-node ways, which
    * can never have an interior split point.
    */
  def waysLength(wayNodes: DataFrame, network: DataFrame): DataFrame =
    RelOps.top1PerGroup(
        wayNodes
          .join(network.select("edge_id"), wayNodes("way_id") === col("edge_id"), "left_semi")
          .filter(col("sequence_id") > 1),
        Seq("way_id"), Seq(col("sequence_id").desc))
      .select(col("way_id"), col("sequence_id").as("length"), col("node_id"))

  /** Step 9 (osm-road-graphs.sql:87-95): interior shared nodes — split
    * points (J4 + J5 compound semi joins: seq>0, shared, seq < way length).
    */
  def splitNodes(wayNodes: DataFrame, network: DataFrame, shared: DataFrame,
      lengths: DataFrame): DataFrame = {
    val n = wayNodes
      .join(network.select("edge_id"), wayNodes("way_id") === col("edge_id"), "left_semi")
      .filter(col("sequence_id") > 0)
      .join(shared.select("node_id"), Seq("node_id"), "left_semi")
    n.join(lengths.select(col("way_id").as("__lw"), col("length")),
        n("way_id") === col("__lw") && n("sequence_id") < col("length"), "left_semi")
      .select("way_id", "node_id", "sequence_id")
  }

  /** Step 10 (osm-road-graphs.sql:97-115): per-way segment boundaries via
    * lag (W1), then the dead-end append — if the last shared node isn't
    * the way's end, add a final [top, length] segment (A13 + J2).
    */
  def mergeLimits(wayNodes: DataFrame, splits: DataFrame, shared: DataFrame,
      lengths: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = wayNodes
      .filter(col("sequence_id") > 0)
      .join(splits.select("way_id").distinct(), Seq("way_id"), "left_semi")
      .join(shared.select("node_id"), Seq("node_id"), "left_semi")
      .select(col("way_id"),
        lag(col("sequence_id"), 1, 0)
          .over(Window.partitionBy("way_id").orderBy("sequence_id"))
          .as("bottom_limit"),
        col("sequence_id").as("top_limit"))
    val lastSeg = RelOps.top1PerGroup(base, Seq("way_id"), Seq(col("top_limit").desc))
      .join(lengths.withColumnRenamed("way_id", "__lw"),
        col("way_id") === col("__lw") && col("top_limit") < col("length"))
      .select(col("way_id"), col("top_limit").as("bottom_limit"),
        col("length").as("top_limit"))
    base.unionByName(lastSeg)
  }

  /** Step 11a (osm-road-graphs.sql:119-127): the range join (J3) —
    * equi key way_id + sequence BETWEEN band; Catalyst executes an SMJ
    * on way_id with the band as post-filter (SURVEY §4, built-in is the
    * right plan: ways have ≤2000 nodes so bands are tiny).
    */
  def nodesToMerge(wayNodes: DataFrame, network: DataFrame, limits: DataFrame): DataFrame = {
    val wn = wayNodes
      .join(network.select("edge_id"), wayNodes("way_id") === col("edge_id"), "left_semi")
    wn.join(limits.withColumnRenamed("way_id", "__lw"),
        wn("way_id") === col("__lw") &&
          wn("sequence_id").between(col("bottom_limit"), col("top_limit")))
      .select(col("way_id"), col("top_limit").as("group_id"),
        col("sequence_id"), col("node_id"))
  }

  /** Steps 11b-d (osm-road-graphs.sql:131-165): assemble segments with
    * ordered array_agg (A6/A9 — array_sort∘collect_list∘struct, never
    * bare collect_list), copy attributes from the original road
    * (UPDATE..FROM as join), then anti-append roads that were not split.
    */
  def mergedNetwork(nodesToMergeDf: DataFrame, nodes: DataFrame,
      network: DataFrame): DataFrame = {
    val segs = nodesToMergeDf
      .join(nodes.select(col("id"), col("geom")), nodesToMergeDf("node_id") === col("id"))
      .groupBy("way_id", "group_id")
      .agg(
        RelOps.orderedListAgg(col("sequence_id"), col("node_id")).as("nodes"),
        RelOps.orderedListAgg(col("sequence_id"), col("geom")).as("geom"))
      .select(col("way_id").as("edge_id"), col("nodes"), col("geom"))

    val road = network.select(col("edge_id").as("__re"), col("tags"),
      col("speed_limit"), col("highway"), col("oneway"))
    val merged = segs.join(road, segs("edge_id") === col("__re"))
      .select(
        element_at(col("nodes"), 1).as("start_node"),
        element_at(col("nodes"), -1).as("end_node"),
        col("edge_id"), col("tags"), col("nodes"),
        Geo.geodesicLengthMeters(col("geom")).as("length"),
        col("speed_limit"), col("highway"), col("oneway"), col("geom"))

    // PBF ways arrive without a linestring (Osmosis derives it at load
    // time), so a way kept whole has no geometry yet: rebuild it from
    // the node coordinates. A way that has one keeps it unchanged.
    val whole = network.join(segs.select("edge_id"), Seq("edge_id"), "left_anti")
    val rebuilt = OsmModel.linestringsOf(
        whole.filter(col("geom").isNull).select(col("edge_id").as("id"), col("nodes")),
        nodes)
      .select(col("id").as("edge_id"), col("linestring").as("__ls"))
    val untouched = whole.join(rebuilt, Seq("edge_id"), "left")
      .select(col("start_node"), col("end_node"), col("edge_id"), col("tags"),
        col("nodes"),
        coalesce(col("length"), Geo.geodesicLengthMeters(col("__ls"))).as("length"),
        col("speed_limit"), col("highway"), col("oneway"),
        coalesce(col("geom"), col("__ls")).as("geom"))
    merged.unionByName(untouched)
  }

  /** Single-pass split: the whole Step-7..11 chain
    * (osm-road-graphs.sql:66-127) re-expressed array-first — the 100 TB
    * formulation. The relational chain ([[sharedNodes]] ->
    * [[waysLength]] -> [[splitNodes]] -> [[mergeLimits]] ->
    * [[nodesToMerge]]) mirrors the reference's step tables and costs
    * ~10 shuffles with every intermediate consumed 2-4x; but the split
    * is per-way local once each node knows its reference count, so
    * Spark can do it in THREE shuffles of the big table, total:
    *
    *   1. count node references (hash agg on node_id),
    *   2. join the counts back (node_id axis),
    *   3. ordered-collect each way's (node, shared) array (way_id axis),
    *
    * then segment boundaries and slicing are pure codegen'd array
    * expressions — no window, no range join, no step materialization.
    * Boundary semantics proven equal to the chain in RoadGraphSpec:
    * boundaries = first position ++ interior positions whose node has
    * >1 reference ++ last position; consecutive-boundary slices are the
    * segments; ways with <3 nodes or no interior shared node pass
    * through whole.
    *
    * Returns one row per segment: (wayCol, nodes array<long>).
    */
  def splitSegments(wayNodes: DataFrame, wayCol: String, nodeCol: String,
      sortCol: Column): DataFrame = {
    val counts = wayNodes.groupBy(nodeCol)
      .agg(count(lit(1)).as("__refs"))
    val ways = wayNodes.join(counts, Seq(nodeCol))
      .groupBy(wayCol)
      .agg(RelOps.orderedListAgg(sortCol,
        struct(col(nodeCol).as("n"), (col("__refs") > 1).as("sh"))).as("__ns"))
    val n = size(col("__ns"))
    // 1-based element positions; sequence(1, n) never runs backwards
    val interior = filter(sequence(lit(1), n),
      p => p > 1 && p < n && element_at(col("__ns"), p).getField("sh"))
    val bounds = concat(array(lit(1)), interior, array(n))
    val segments = transform(sequence(lit(1), size(bounds) - 1), i =>
      slice(col("__ns"), element_at(bounds, i),
        element_at(bounds, i + lit(1)) - element_at(bounds, i) + lit(1)))
    ways
      .select(col(wayCol), explode(segments).as("__seg"))
      .select(col(wayCol),
        transform(col("__seg"), x => x.getField("n")).as("nodes"))
  }

  /** Directed expansion (osm-road-graphs.sql:183-220): 4-branch union —
    * two-way links both directions (reverse F4 on the back edge),
    * forward oneways, reverse-drawn oneways.
    *
    * `strictOsmSemantics = true` reproduces the reference exactly,
    * including its trap: a motorway with NULL oneway fails
    * `oneway != '-1'` under 3VL and silently vanishes from every branch
    * (SURVEY §7.4-2), and its reverse INSERTs reverse only `nodes` while
    * `geom` keeps the original drawing direction
    * (osm-road-graphs.sql:204-208). `false` treats NULL-oneway motorways
    * as forward (the evident intent — motorways are implicitly oneway in
    * OSM) and reverses `geom` along with `nodes` so the geometry runs
    * start->end like every forward edge.
    */
  def directed(merged: DataFrame, strictOsmSemantics: Boolean = true): DataFrame = {
    val twoWay = (col("oneway").isNull || col("oneway") === "no") &&
      col("highway") =!= "motorway"
    val fwdOnly =
      if (strictOsmSemantics)
        col("oneway") === "yes" ||
          (col("highway") === "motorway" && col("oneway") =!= "-1")
      else
        col("oneway") === "yes" ||
          (col("highway") === "motorway" &&
            (col("oneway").isNull || col("oneway") =!= "-1"))
    val revOnly = col("oneway") === "-1"

    def reversed(df: DataFrame): DataFrame =
      df.select(
        col("end_node").as("start_node"), col("start_node").as("end_node"),
        col("edge_id"), col("tags"), reverse(col("nodes")).as("nodes"),
        col("length"), col("speed_limit"), col("highway"), col("oneway"),
        (if (strictOsmSemantics) col("geom")
         else reverse(col("geom"))).as("geom"))

    val cols = Seq("start_node", "end_node", "edge_id", "tags", "nodes",
      "length", "speed_limit", "highway", "oneway", "geom")
    RelOps.unionAll(Seq(
      merged.filter(twoWay).select(cols.map(col): _*),
      reversed(merged.filter(twoWay)),
      merged.filter(fwdOnly).select(cols.map(col): _*),
      reversed(merged.filter(revOnly))))
  }

  /** Minimal-cost edge list (osm-road-graphs.sql:223-254): same branches,
    * essential attributes only — the igraph hand-off shape. */
  def minimalDirectedGraph(merged: DataFrame, strictOsmSemantics: Boolean = true): DataFrame =
    directed(merged, strictOsmSemantics)
      .select("start_node", "end_node", "length", "speed_limit")

  /** Snap POIs onto the built network: nearest edge within `maxDeg`
    * (planar degree tolerance — pgRouting's snap tolerance semantics)
    * plus the ST_ClosestPoint projection, via the grid-bucketed
    * [[functions.Geo.nearestEdgeJoin]] (padded-bbox publish, home-cell
    * probe, hash-agg argmin — never all-pairs). This is the step
    * between POI extraction and routing: the reference loads its graph
    * into pgRouting (`osm-road-graphs.sql:247-254` territory), whose
    * stop-matching does exactly this lookup per request.
    *
    * Returns `(node_id, edge_id, dist2, snap_x, snap_y)`; POIs with no
    * edge within tolerance drop out (inner semantics — unsnappable
    * stops are a data-quality signal, surface them by anti-joining
    * this result back against the input). */
  def snapPois(pois: DataFrame, merged: DataFrame,
      maxDeg: Double = 0.001, cellDeg: Double = 0.005): DataFrame =
    Geo.nearestEdgeJoin(
      pois.select(col("node_id"), col("geom")), "node_id", col("geom"),
      merged.select(col("edge_id"), col("geom")), "edge_id", col("geom"),
      maxDist = maxDeg, cellDeg = cellDeg)

  /** Steps 7-11a ([[sharedNodes]] -> [[waysLength]] -> [[splitNodes]]
    * -> [[mergeLimits]] -> [[nodesToMerge]]), each run once like the
    * reference's step tables (osm-road-graphs.sql:66-127 CTAS each
    * one). `shared` and `lengths` are read twice and are
    * `localCheckpoint`ed; `limits` is read once, but its plan holds two
    * copies of the chain above it, so it is cut too; `splits` is read
    * once and stays lazy. `network` is read four times: pass it
    * materialized. `sharedOver` is the network whose ways count towards
    * a node's shared status — `network` itself, or the whole network
    * when only some ways are rebuilt. Returns nodes-to-merge,
    * materialized. */
  def splitChain(wayNodes: DataFrame, network: DataFrame,
      sharedOver: DataFrame): DataFrame = {
    val shared = sharedNodes(wayNodes, sharedOver).localCheckpoint(true)
    val lengths = waysLength(wayNodes, network).localCheckpoint(true)
    val splits = splitNodes(wayNodes, network, shared, lengths)
    val limits = mergeLimits(wayNodes, splits, shared, lengths).localCheckpoint(true)
    nodesToMerge(wayNodes, network, limits).localCheckpoint(true)
  }

  /** Full pipeline: filtered+imputed network -> split -> merged, with
    * every stage read more than once materialized: the network (read by
    * the split chain and the merge), the split chain's reuse points,
    * and the merged output, which [[directed]]'s 4-branch union reads
    * four times.
    */
  def buildMergedNetwork(tables: OsmTables): DataFrame =
    stagedMergedNetwork(tables).localCheckpoint(true)

  /** [[buildMergedNetwork]] before its output is materialized: the
    * network and split-chain stages are, so this plan stays small. */
  private[graft] def stagedMergedNetwork(tables: OsmTables): DataFrame = {
    val net = imputeSpeedLimits(excludeModes(carNetwork(tables.ways)))
      .localCheckpoint(true)
    mergedNetwork(splitChain(tables.wayNodes, net, net), tables.nodes, net)
  }

  /** [[buildMergedNetwork]] materialized ONCE per (session, fixture
    * key) and shared by every downstream graph operator. This is the
    * reference's own contract: `osm-road-graphs.sql:66-165` CTAS-es the
    * split/merge result into persistent tables during ETL and every
    * later `pgr_*` call reads the prebuilt relation — the network is
    * not re-derived per query there, and it shouldn't be here. The
    * first caller pays the pipeline, which already returns the merged
    * edge relation materialized (tiny relative to executor memory even
    * at planet scale — the planet's routable network is ~10^8 edges vs
    * the 10^11 raw rows it was derived from), so the memo adds no
    * checkpoint of its own. Later operators reuse the materialized
    * copy. Callers must pass a `key` that uniquely names the
    * deterministic fixture the tables were built from. */
  def buildMergedNetworkCached(tables: OsmTables, key: String): DataFrame = {
    val spark = tables.ways.sparkSession
    // evict entries whose owning SparkContext has stopped — their
    // checkpoint blocks are gone anyway, and without eviction the memo
    // (keyed by applicationId) grows for the JVM's lifetime across
    // session restarts (ADVICE r12)
    mergedMemo.entrySet().removeIf(
      e => e.getValue.sparkSession.sparkContext.isStopped)
    val k = spark.sparkContext.applicationId + "/" + key
    mergedMemo.computeIfAbsent(k, _ => buildMergedNetwork(tables))
  }

  private val mergedMemo =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  /** Extract turn restrictions from pgsnapshot relations — the
    * `type=restriction` convention (from-way, via-node, to-way member
    * roles; pgsnapshot_schema_0.6.sql:62-80) that pgRouting's
    * `pgr_trsp` honors and the engine's Dijkstra family consumes via
    * [[GraphCheck.restrictedShortestPaths]]. `kind` is `only` for
    * `only_*` restriction tags (mandatory turn: every OTHER turn off
    * the from-way at the via node is banned) and `no` otherwise.
    * Malformed restrictions (missing from/via/to member) drop in the
    * inner joins; multi-from/multi-to relations cross-product into one
    * row per (from, to) pair, the OSM semantics.
    *
    * 100 TB shape: three keyed joins on relation_id, all broadcast-
    * sized in practice (restrictions are a sliver of relations). */
  def turnRestrictions(relations: DataFrame, members: DataFrame): DataFrame = {
    val restr = relations
      .filter(element_at(col("tags"), "type") === "restriction")
      .select(col("id").as("relation_id"),
        when(element_at(col("tags"), "restriction").startsWith("only"),
          "only").otherwise("no").as("kind"))
    def role(r: String, t: String, as: String) = members
      .filter(col("member_role") === r && col("member_type") === t)
      .select(col("relation_id"), col("member_id").as(as))
    restr
      .join(role("from", "W", "from_way"), "relation_id")
      .join(role("via", "N", "via_node"), "relation_id")
      .join(role("to", "W", "to_way"), "relation_id")
      .select(col("from_way"), col("via_node"), col("to_way"), col("kind"))
  }

  /** [[turnRestrictions]] extended with via-WAY members — the full OSM
    * restriction surface `GraphCheck.restrictedStateGraph` consumes.
    * Emits `(from_way, via_node, via_way, to_way, kind)` with exactly
    * one of via_node / via_way non-null per row. Policy: a relation
    * with a via NODE member keeps the node interpretation (a W via on
    * the same relation is ignored); via sequences of 2+ ways are
    * dropped as malformed-for-this-surface (the single-way via is the
    * overwhelmingly common form); everything [[turnRestrictions]]
    * already drops (wrong type tag, missing roles) stays dropped. */
  def turnRestrictionsVia(relations: DataFrame,
      members: DataFrame): DataFrame = {
    val restr = relations
      .filter(element_at(col("tags"), "type") === "restriction")
      .select(col("id").as("relation_id"),
        when(element_at(col("tags"), "restriction").startsWith("only"),
          "only").otherwise("no").as("kind"))
    def role(r: String, t: String, as: String) = members
      .filter(col("member_role") === r && col("member_type") === t)
      .select(col("relation_id"), col("member_id").as(as))
    val viaN = role("via", "N", "via_node")
    val viaW = role("via", "W", "via_way")
      .groupBy("relation_id")
      .agg(count(lit(1)).as("__c"), min(col("via_way")).as("via_way"))
      .filter(col("__c") === 1)
      .select(col("relation_id"), col("via_way"))
      .join(viaN.select("relation_id"), Seq("relation_id"), "left_anti")
    val via = viaN.select(col("relation_id"), col("via_node"),
        lit(null).cast("long").as("via_way"))
      .unionByName(viaW.select(col("relation_id"),
        lit(null).cast("long").as("via_node"), col("via_way")))
    restr
      .join(role("from", "W", "from_way"), "relation_id")
      .join(via, "relation_id")
      .join(role("to", "W", "to_way"), "relation_id")
      .select(col("from_way"), col("via_node"), col("via_way"),
        col("to_way"), col("kind"))
  }
}
