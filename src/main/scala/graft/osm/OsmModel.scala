package graft.osm

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Canonical OSM data model (SURVEY §1.3, pgsnapshot 0.6 schema,
  * etl/pgsnapshot_schema_0.6.sql:24-80). Geometry is modeled natively:
  * points as `STRUCT<lon,lat>`, linestrings as `ARRAY<STRUCT<lon,lat>>`
  * (SRID 4326 by convention — SURVEY §1.1).
  */
case class Point(lon: Double, lat: Double)

case class OsmNode(
    id: Long, version: Int, user_id: Int, tstamp: Timestamp,
    changeset_id: Long, tags: Map[String, String], geom: Point)

case class OsmWay(
    id: Long, version: Int, user_id: Int, tstamp: Timestamp,
    changeset_id: Long, tags: Map[String, String], nodes: Seq[Long],
    linestring: Seq[Point])

/** way_nodes(way_id, node_id, sequence_id) — sequence_id is 0-based
  * (pgsnapshot_schema_0.6.sql:56-60; SURVEY §1.3). */
case class WayNode(way_id: Long, node_id: Long, sequence_id: Int)

case class OsmRelation(
    id: Long, version: Int, user_id: Int, tstamp: Timestamp,
    changeset_id: Long, tags: Map[String, String])

case class RelationMember(
    relation_id: Long, member_id: Long, member_type: String,
    member_role: String, sequence_id: Int)

/** Change-action feed row (etl/pgsnapshot_schema_0.6_action.sql:8-12):
  * data_type in N/W/R, action in C/M/D. */
case class OsmAction(data_type: String, action: String, id: Long)

case class OsmTables(nodes: DataFrame, ways: DataFrame, wayNodes: DataFrame)

object OsmModel {
  import org.apache.spark.sql.types._

  private val pointType = StructType(Seq(
    StructField("lon", DoubleType), StructField("lat", DoubleType)))
  private def common = Seq(
    StructField("id", LongType, nullable = false),
    StructField("version", IntegerType),
    StructField("user_id", IntegerType),
    StructField("tstamp", TimestampType),
    StructField("changeset_id", LongType),
    StructField("tags", MapType(StringType, StringType)))

  /** Canonical source schemas (S1 ingestion boundary, SURVEY §1.3) —
    * applied on read so malformed input fails fast instead of
    * schema-drifting downstream. */
  val nodesSchema: StructType = StructType(common :+ StructField("geom", pointType))
  val waysSchema: StructType = StructType(common ++ Seq(
    StructField("nodes", ArrayType(LongType)),
    StructField("linestring", ArrayType(pointType))))
  val wayNodesSchema: StructType = StructType(Seq(
    StructField("way_id", LongType, nullable = false),
    StructField("node_id", LongType, nullable = false),
    StructField("sequence_id", IntegerType, nullable = false)))

  /** S1: read pre-converted Parquet OSM tables with enforced schemas. */
  def readTables(spark: SparkSession, dir: String): OsmTables = OsmTables(
    spark.read.schema(nodesSchema).parquet(s"$dir/nodes.parquet"),
    spark.read.schema(waysSchema).parquet(s"$dir/ways.parquet"),
    spark.read.schema(wayNodesSchema).parquet(s"$dir/way_nodes.parquet"))

  /** Derive way_nodes from ways.nodes arrays — 0-based sequence. */
  def wayNodesOf(spark: SparkSession, ways: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    ways.select(col("id").as("way_id"), posexplode(col("nodes")).as(Seq("sequence_id", "node_id")))
      .select(col("way_id"), col("node_id"), col("sequence_id").cast("int").as("sequence_id"))
  }

  /** Way linestrings rebuilt from node coordinates in way order — what
    * Osmosis derives at load time (PBF ways carry no geometry). `ways`
    * needs `id` and `nodes`; returns `(id, linestring)`. A node missing
    * from `nodes` is skipped, and a way with none present gets no row. */
  def linestringsOf(ways: DataFrame, nodes: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    ways.select(col("id"), posexplode(col("nodes")).as(Seq("seq", "node_id")))
      .join(nodes.select(col("id").as("node_id"), col("geom")), Seq("node_id"))
      .groupBy(col("id"))
      .agg(transform(array_sort(collect_list(struct(col("seq"), col("geom")))),
        e => e.getField("geom")).as("linestring"))
  }

  private[osm] def ts(s: String): Timestamp = Timestamp.valueOf(s)

  /** Relation fixture companion to [[microFixture]]: 6 relations over
    * its ways/nodes — multipolygons (incl. a POI-tagged one), routes
    * (incl. a relation-typed member), a boundary — with members of all
    * three types (pgsnapshot 0.6 relations/relation_members,
    * pgsnapshot_schema_0.6.sql:62-80). Exercises the four
    * `*_relations_values` summaries (osm-explore.sql:211-249). */
  def microRelations(spark: SparkSession): (DataFrame, DataFrame) = {
    import spark.implicits._
    val t = ts("2020-05-08 12:00:00")
    def rel(id: Long, tags: Map[String, String]) =
      OsmRelation(id, 1, 1, t, 1L, tags)
    val relations = Seq(
      rel(201, Map("type" -> "multipolygon", "leisure" -> "park", "name" -> "North Park")),
      rel(202, Map("type" -> "route", "route" -> "bus", "ref" -> "12")),
      rel(203, Map("type" -> "multipolygon", "amenity" -> "parking", "parking" -> "surface")),
      rel(204, Map("type" -> "boundary", "landuse" -> "forest")),
      rel(205, Map("type" -> "multipolygon", "leisure" -> "pitch", "sport" -> "soccer")),
      rel(206, Map("type" -> "route", "route" -> "hiking"))).toDF()
    val members = Seq(
      RelationMember(201, 105, "W", "outer", 0),
      RelationMember(201, 107, "W", "inner", 1),
      RelationMember(202, 101, "W", "", 0),
      RelationMember(202, 102, "W", "", 1),
      RelationMember(202, 103, "W", "", 2),
      RelationMember(202, 3, "N", "stop", 3),
      RelationMember(203, 108, "W", "outer", 0),
      RelationMember(204, 105, "W", "outer", 0),
      RelationMember(204, 107, "W", "outer", 1),
      RelationMember(205, 108, "W", "outer", 0),
      RelationMember(205, 5, "N", "", 1),
      RelationMember(206, 101, "W", "", 0),
      RelationMember(206, 201, "R", "", 1)).toDF()
    (relations, members)
  }

  /** Hand-built micro-OSM fixture (FIXTURES.md §2): ~12 nodes, 7 ways
    * chosen to trigger every graph-pipeline branch — interior splits,
    * median imputation, text speed limits, oneway forward/reverse,
    * the NULL-oneway motorway trap, and mode exclusion.
    */
  def microFixture(spark: SparkSession): OsmTables = {
    import spark.implicits._
    val t = ts("2020-05-08 12:00:00")
    def node(id: Long, lon: Double, lat: Double, tags: Map[String, String] = Map.empty) =
      OsmNode(id, 1, 1, t, 1L, tags, Point(lon, lat))

    val nodes = Seq(
      node(1, 0.00, 0.0), node(2, 0.01, 0.0),
      node(3, 0.02, 0.0, Map("highway" -> "crossing")),
      node(4, 0.03, 0.0),
      node(5, 0.02, -0.01, Map("amenity" -> "cafe", "name" -> "Cafe Five")),
      node(6, 0.02, 0.01, Map("shop" -> "bakery", "name" -> "Bakery Six")),
      node(7, 0.10, 0.0), node(8, 0.12, 0.0),
      node(9, 0.20, 0.0), node(10, 0.22, 0.0),
      node(11, 0.30, 0.0, Map("amenity" -> "bench")),
      node(12, 0.31, 0.0))

    val nodeGeom = nodes.map(n => n.id -> n.geom).toMap
    def way(id: Long, tags: Map[String, String], nodeIds: Long*) =
      OsmWay(id, 1, 1, t, 1L, tags, nodeIds, nodeIds.map(nodeGeom))

    val ways = Seq(
      // W1: split at shared interior node n3
      way(101, Map("highway" -> "residential", "maxspeed" -> "50", "name" -> "First"), 1, 2, 3, 4),
      // W2: no maxspeed -> median imputation target; split at n3
      way(102, Map("highway" -> "tertiary"), 5, 3, 6),
      // W3: text speed limit + forward oneway
      way(103, Map("highway" -> "primary", "oneway" -> "yes", "maxspeed" -> "80 km/h"), 7, 8),
      // W4: reverse-drawn oneway motorway
      way(104, Map("highway" -> "motorway", "oneway" -> "-1"), 9, 10),
      // W5: footway - not an included highway class at all
      way(105, Map("highway" -> "footway", "footway" -> "sidewalk"), 11, 12),
      // W6: the NULL-oneway motorway trap (SURVEY §7.4-2)
      way(106, Map("highway" -> "motorway"), 10, 9),
      // W7: included class, then removed by the access=private exclusion
      way(107, Map("highway" -> "residential", "access" -> "private"), 11, 12),
      // W8: POI way (no highway tag)
      way(108, Map("leisure" -> "park", "name" -> "Central Park"), 1, 5, 6),
      // W9: second tertiary WITH maxspeed -> makes W2's median imputation fire
      way(109, Map("highway" -> "tertiary", "maxspeed" -> "60"), 8, 12))

    // NOTE (r11): coalescing these to 1 partition did NOT help the
    // graph queries (if anything it measured slower — serialized
    // single-task stages offset the scheduler overhead they save, and
    // run-to-run noise at this 5-10 s scale swamps the difference).
    // Keep the default spread.
    val nodesDf = nodes.toDF()
    val waysDf = ways.toDF()
    OsmTables(nodesDf, waysDf, wayNodesOf(spark, waysDf))
  }

  /** Turn-restriction relation fixture (pgsnapshot 0.6 relations /
    * relation_members, pgsnapshot_schema_0.6.sql:62-80; the
    * `type=restriction` convention pgRouting's `pgr_trsp` consumes):
    * one `no_*` and one `only_*` restriction over the diamond routing
    * fixture's ways, plus a decoy non-restriction relation and a
    * MALFORMED restriction (no via node) that extraction must drop.
    * Kept separate from [[microRelations]] so the explore oracles'
    * enumerated counts stay valid. */
  def restrictionRelations(spark: SparkSession): (DataFrame, DataFrame) = {
    import spark.implicits._
    val t = ts("2020-05-08 12:00:00")
    def rel(id: Long, tags: Map[String, String]) =
      OsmRelation(id, 1, 1, t, 1L, tags)
    val relations = Seq(
      rel(301, Map("type" -> "restriction", "restriction" -> "no_straight_on")),
      rel(302, Map("type" -> "restriction", "restriction" -> "only_right_turn")),
      rel(303, Map("type" -> "route", "route" -> "bus")), // decoy: not a restriction
      rel(304, Map("type" -> "restriction", "restriction" -> "no_left_turn"))
    ).toDF()
    val members = Seq(
      RelationMember(301, 201, "W", "from", 0),
      RelationMember(301, 2, "N", "via", 1),
      RelationMember(301, 202, "W", "to", 2),
      RelationMember(302, 205, "W", "from", 0),
      RelationMember(302, 3, "N", "via", 1),
      RelationMember(302, 204, "W", "to", 2),
      RelationMember(303, 201, "W", "from", 0), // decoy members
      RelationMember(303, 202, "W", "to", 1),
      RelationMember(304, 203, "W", "from", 0), // malformed: via missing
      RelationMember(304, 204, "W", "to", 1)
    ).toDF()
    (relations, members)
  }

  /** Via-WAY restriction fixture for the shadow-state surface: a `no`
    * and an `only` restriction whose via member is a WAY, plus a
    * 2-way via sequence (out of scope — must drop) and a relation
    * carrying BOTH a node via and a way via (node interpretation must
    * win). Ways 101/102/103/106 belong to the 8-edge shadow fixture in
    * RoadGraphSpec / q_osm_route_viaway. */
  def viaWayRestrictionRelations(spark: SparkSession)
      : (DataFrame, DataFrame) = {
    import spark.implicits._
    val t = ts("2020-05-08 12:00:00")
    def rel(id: Long, tags: Map[String, String]) =
      OsmRelation(id, 1, 1, t, 1L, tags)
    val relations = Seq(
      rel(401, Map("type" -> "restriction", "restriction" -> "no_straight_on")),
      rel(402, Map("type" -> "restriction", "restriction" -> "only_right_turn")),
      rel(403, Map("type" -> "restriction", "restriction" -> "no_u_turn")),
      rel(404, Map("type" -> "restriction", "restriction" -> "no_left_turn"))
    ).toDF()
    val members = Seq(
      RelationMember(401, 101, "W", "from", 0),
      RelationMember(401, 102, "W", "via", 1),
      RelationMember(401, 103, "W", "to", 2),
      RelationMember(402, 101, "W", "from", 0),
      RelationMember(402, 102, "W", "via", 1),
      RelationMember(402, 106, "W", "to", 2),
      RelationMember(403, 104, "W", "from", 0), // 2-way via: out of scope
      RelationMember(403, 105, "W", "via", 1),
      RelationMember(403, 102, "W", "via", 2),
      RelationMember(403, 103, "W", "to", 3),
      RelationMember(404, 108, "W", "from", 0), // node via wins over way via
      RelationMember(404, 2, "N", "via", 1),
      RelationMember(404, 102, "W", "via", 2),
      RelationMember(404, 104, "W", "to", 3)
    ).toDF()
    (relations, members)
  }

  /** Way-POI fixture (osm-pois-extract.sql:51-71 coverage): the micro
    * fixture's ways plus three more so every way-POI key (leisure,
    * landuse, sport, amenity) appears and the `highway IS NULL`
    * exclusion guard provably fires — way 110 carries BOTH leisure and
    * highway and must not surface; way 112 carries two POI keys and
    * must surface twice. Kept separate from [[microFixture]] so the
    * graph/explore oracles' enumerated counts stay valid. */
  def poisWaysFixture(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val t = ts("2020-05-08 12:00:00")
    def way(id: Long, tags: Map[String, String], pts: (Long, Double, Double)*) =
      OsmWay(id, 1, 1, t, 1L, tags, pts.map(_._1),
        pts.map(p => Point(p._2, p._3)))
    val extra = Seq(
      way(110, Map("leisure" -> "pitch", "highway" -> "track",
        "name" -> "Track Pitch"), (1L, 0.00, 0.0), (2L, 0.01, 0.0)),
      way(111, Map("landuse" -> "forest"), (2L, 0.01, 0.0), (3L, 0.02, 0.0)),
      way(112, Map("sport" -> "soccer", "amenity" -> "community_centre",
        "name" -> "Sports Club"), (3L, 0.02, 0.0), (4L, 0.03, 0.0))).toDF()
    microFixture(spark).ways.unionByName(extra)
  }
}
