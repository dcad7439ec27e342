package graft
package queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables._
import graft.functions.Geo
import graft.ops.RelOps
import QueryHelpers._

/** The OSM pipeline queries: way splitting and merging, directed
  * expansion, the complete multi-modal network, tag exploration, POIs,
  * relations and multipolygons, topology repair and change-diff apply,
  * on the micro fixture and on tables synthesized at data scale. */
object OsmQueries {
  /** OsmChange fixture diff for `q_osc_apply` (same three-action shape
    * as StructureSpec's e2e): node 3 moves to lat 0.001, way 102 is
    * deleted, way 120 (4→3, residential) is created through the moved
    * node. */
  private val OscFixtureXml: String =
    """<?xml version='1.0' encoding='UTF-8'?>
      |<osmChange version="0.6" generator="graft-fixture">
      |  <modify>
      |    <node id="3" version="2" timestamp="2020-06-01T00:00:00Z" uid="7" changeset="99" lat="0.001" lon="0.02">
      |      <tag k="highway" v="crossing"/>
      |    </node>
      |  </modify>
      |  <delete>
      |    <way id="102" version="2" timestamp="2020-06-01T00:00:00Z" uid="7" changeset="99"/>
      |  </delete>
      |  <create>
      |    <way id="120" version="1" timestamp="2020-06-01T00:00:00Z" uid="7" changeset="99">
      |      <nd ref="4"/><nd ref="3"/>
      |      <tag k="highway" v="residential"/>
      |      <tag k="maxspeed" v="40"/>
      |    </way>
      |  </create>
      |</osmChange>""".stripMargin

  /** Shared by q_osm_split_scale (relational chain) and
    * q_osm_split_array (array formulation): both must reproduce this
    * result exactly. */
  private val oracleSplitScaleSql =
    """WITH way_nodes AS (
         SELECT l_orderkey AS way_id, l_partkey AS node_id,
                CAST(row_number() OVER (PARTITION BY l_orderkey
                     ORDER BY l_linenumber, l_partkey) - 1 AS INT) AS sequence_id
         FROM lineitem),
       shared AS (SELECT node_id FROM way_nodes GROUP BY node_id HAVING count(*) > 1),
       lengths AS (SELECT way_id, max(sequence_id) AS length
                   FROM way_nodes WHERE sequence_id > 1 GROUP BY way_id),
       splits AS (
         SELECT n.way_id, n.node_id, n.sequence_id
         FROM way_nodes n
         JOIN shared s ON n.node_id = s.node_id
         JOIN lengths l ON n.way_id = l.way_id AND n.sequence_id < l.length
         WHERE n.sequence_id > 0),
       base AS (
         SELECT way_id,
                lag(sequence_id, 1, 0) OVER (PARTITION BY way_id ORDER BY sequence_id) AS bottom_limit,
                sequence_id AS top_limit
         FROM way_nodes
         WHERE sequence_id > 0
           AND way_id IN (SELECT way_id FROM splits)
           AND node_id IN (SELECT node_id FROM shared)),
       lastseg AS (
         SELECT b.way_id, b.top_limit AS bottom_limit, l.length AS top_limit
         FROM (SELECT way_id, max(top_limit) AS top_limit FROM base GROUP BY way_id) b
         JOIN lengths l ON b.way_id = l.way_id AND b.top_limit < l.length),
       lims AS (SELECT * FROM base UNION ALL SELECT * FROM lastseg),
       ntm AS (
         SELECT w.way_id, l.top_limit AS group_id, w.sequence_id, w.node_id
         FROM way_nodes w
         JOIN lims l ON w.way_id = l.way_id
                    AND w.sequence_id BETWEEN l.bottom_limit AND l.top_limit),
       segs AS (
         SELECT way_id,
                array_to_string(list(CAST(node_id AS VARCHAR)
                  ORDER BY sequence_id), ',') AS nodes_csv
         FROM ntm GROUP BY way_id, group_id
         UNION ALL
         SELECT way_id,
                array_to_string(list(CAST(node_id AS VARCHAR)
                  ORDER BY sequence_id), ',') AS nodes_csv
         FROM way_nodes
         WHERE way_id NOT IN (SELECT DISTINCT way_id FROM ntm)
         GROUP BY way_id)
       SELECT way_id, nodes_csv FROM segs ORDER BY way_id, nodes_csv"""

  /** Deterministic sf-proportional OSM-shaped ways synthesized from
    * `part`: 8 highway classes, sparse access/foot/bicycle tags and a
    * textual maxspeed, all keyed off p_partkey residues so an
    * independent SQL oracle re-derives the identical table. Null-valued
    * entries are filtered out of the map (absent tag == absent key). */
  private def scaleWays(s: SparkSession, dir: String): DataFrame = {
    val hws = Seq("residential", "footway", "motorway", "cycleway",
      "primary", "steps", "service", "path")
    part(s, dir).select(
      col("p_partkey").as("id"),
      map_filter(map(
        lit("highway"), element_at(typedlit(hws),
          (col("p_partkey") % 8 + 1).cast("int")),
        lit("access"), when(col("p_partkey") % 7 === 0, "private"),
        lit("foot"), when(col("p_partkey") % 5 === 0, "designated"),
        lit("bicycle"), when(col("p_partkey") % 11 === 0, "designated"),
        lit("maxspeed"), when(col("p_partkey") % 3 === 0,
          concat((col("p_size") * 10).cast("string"), lit(" km/h")))),
        (k, v) => v.isNotNull).as("tags"),
      array(col("p_partkey"), col("p_partkey") + lit(1)).as("nodes"),
      array(struct(lit(0.0).as("lon"), lit(0.0).as("lat")),
        struct(lit(0.001).as("lon"), lit(0.0).as("lat"))).as("linestring"))
  }

  /** The `w`-CTE both scale oracles share: the SQL re-derivation of
    * [[scaleWays]]. */
  private val scaleWaysSql: String =
    """w AS (
      SELECT p_partkey AS id,
        list_extract(['residential','footway','motorway','cycleway',
                      'primary','steps','service','path'],
                     CAST(p_partkey % 8 + 1 AS INTEGER)) AS highway,
        CASE WHEN p_partkey % 7 = 0 THEN 'private' END AS access,
        CASE WHEN p_partkey % 5 = 0 THEN 'designated' END AS foot,
        CASE WHEN p_partkey % 11 = 0 THEN 'designated' END AS bicycle_t,
        CAST(NULL AS VARCHAR) AS service, CAST(NULL AS VARCHAR) AS cycleway,
        CAST(NULL AS VARCHAR) AS footway, CAST(NULL AS VARCHAR) AS motor_vehicle,
        CAST(NULL AS VARCHAR) AS bus,
        CASE WHEN p_partkey % 3 = 0 THEN CAST(p_size * 10 AS INTEGER) END AS speed_raw
      FROM part)"""

  val all: Seq[Query] = Seq(
    // ---- the way-splitter at data scale: lineitem reinterpreted as
    //      way_nodes (way=order, node=part, seq=line order) — the full
    //      shared-node split chain on 600k rows at sf0.1, hash-checked
    //      against DuckDB running the same reference-shaped SQL
    Query("q_osm_split_scale", (s, dir) => {
      val w = Window.partitionBy("way_id").orderBy("l_linenumber", "node_id")
      val wn = lineitem(s, dir)
        .select(col("l_orderkey").as("way_id"), col("l_partkey").as("node_id"),
          col("l_linenumber"))
        .withColumn("sequence_id", (row_number().over(w) - 1).cast("int"))
        .drop("l_linenumber")
        .localCheckpoint(true) // feeds 5 downstream stages
      // materialize every reused intermediate once, like the reference's
      // step tables (osm-road-graphs.sql creates a table per step): the
      // chain references shared/lengths/limits 2-4x each, and left as
      // views the DAG inlines each use — measured 48 scans of wn and 52
      // shuffles in one plan. Staged, the plan is linear and each stage
      // computes once. (On a cluster these would be bucketed step
      // tables / reliable checkpoints — see q_s11_bucketed.)
      val net = wn.select(col("way_id").as("edge_id")).distinct()
        .localCheckpoint(true)
      val ntm = osm.RoadGraph.splitChain(wn, net, net)
      val segs = ntm.groupBy("way_id", "group_id")
        .agg(array_join(
          RelOps.orderedListAgg(col("sequence_id"), col("node_id").cast("string")),
          ",").as("nodes_csv"))
        .select("way_id", "nodes_csv")
      val unsplit = wn
        .join(ntm.select("way_id").distinct(), Seq("way_id"), "left_anti")
        .groupBy("way_id")
        .agg(array_join(
          RelOps.orderedListAgg(col("sequence_id"), col("node_id").cast("string")),
          ",").as("nodes_csv"))
      segs.unionByName(unsplit).orderBy("way_id", "nodes_csv")
    },
      oracleSplitScaleSql),

    // ---- the SAME split at data scale, array-first: 3 shuffles total
    //      (node ref-count, count join-back, per-way ordered collect) +
    //      codegen'd array slicing — no window, no range join, no step
    //      materialization. Same oracle as the relational chain: the
    //      two formulations must be row-identical.
    Query("q_osm_split_array", (s, dir) => {
      val wn0 = lineitem(s, dir)
        .select(col("l_orderkey").as("way_id"), col("l_partkey").as("node_id"),
          col("l_linenumber"))
      osm.RoadGraph.splitSegments(wn0, "way_id", "node_id",
          struct(col("l_linenumber"), col("node_id")))
        .select(col("way_id"),
          array_join(transform(col("nodes"), _.cast("string")), ",")
            .as("nodes_csv"))
        .orderBy("way_id", "nodes_csv")
    },
      // identical oracle: the array formulation must match the relational
      // chain row for row
      oracleSplitScaleSql),

    // ---- complete-graph mode-flag cascade at DATA SCALE: ways
    //      synthesized deterministically from `part` (sf-proportional),
    //      full build chain (network -> median imputation -> cascade),
    //      aggregated per highway class. The oracle re-derives the same
    //      synthesis + cascade in SQL.
    Query("q_osm_complete_scale", (s, dir) => {
      osm.CompleteGraph.build(scaleWays(s, dir), strictOsmSemantics = true)
        .groupBy("highway")
        .agg(count(lit(1)).as("cnt"),
          sum(when(col("car") === 1, 1L).otherwise(0L)).as("car_yes"),
          sum(when(col("car") === 0, 1L).otherwise(0L)).as("car_no"),
          sum(when(col("pedestrian") === 1, 1L).otherwise(0L)).as("ped_yes"),
          sum(when(col("bicycle") === 1, 1L).otherwise(0L)).as("bike_yes"),
          sum(col("speed_limit").cast("long")).as("speed_sum"))
        .orderBy("highway")
    },
      (s"""WITH $scaleWaysSql,
         med AS (SELECT highway,
                   CAST(round(percentile_cont(0.5) WITHIN GROUP (ORDER BY speed_raw))
                        AS INTEGER) AS med_speed
                 FROM w WHERE speed_raw IS NOT NULL GROUP BY highway),
         ws AS (SELECT w.*, COALESCE(speed_raw, med_speed) AS speed_limit
                FROM w LEFT JOIN med USING (highway)),
         base AS (SELECT *, CASE
             WHEN access IN ('no','private','permit','customers','forestry','agricultural','military','emergency','bus','delivery','restricted') THEN 0
             WHEN service IN ('drive-through','emergency_access','bus') THEN 0
             WHEN highway IN ('disused','dismantled','razed','rest_area','corridor','construction','abandoned','raceway','proposed','planned','platform') THEN 0
             ELSE NULL END AS b FROM ws),
         carc AS (SELECT *, CASE
             WHEN highway IN ('steps','footway','pedestrian','cycleway','bridleway','elevator','sidewalk') THEN 0
             WHEN bicycle_t = 'designated' OR cycleway = 'designated' OR foot = 'designated'
                  OR footway IN ('sidewalk','crossing','yes')
                  OR motor_vehicle IN ('no','private')
                  OR service IN ('parking_aisle','parking') OR bus = 'designated' THEN 0
             WHEN b IS NULL AND highway IN ('motorway','primary','tertiary','secondary','primary_link','tertiary_link','secondary_link','trunk','trunk_link','motorway_link','motorway_junction') THEN 1
             ELSE b END AS car FROM base),
         p1 AS (SELECT *, CASE WHEN highway IN ('motorway','trunk','trunk_link','motorway_link','motorway_junction') THEN 0
                               WHEN bus = 'designated' THEN 0 ELSE b END AS pp FROM carc),
         p2 AS (SELECT *, CASE WHEN pp IS NULL AND highway IN ('steps','footway','pedestrian','bridleway','elevator','sidewalk','living_street','path') THEN 1 ELSE pp END AS pq FROM p1),
         p3 AS (SELECT *, CASE WHEN (pq IS NULL AND foot = 'designated') OR footway IN ('sidewalk','crossing','yes') THEN 1 ELSE pq END AS pedestrian FROM p2),
         b1 AS (SELECT *, CASE WHEN highway IN ('motorway','trunk','trunk_link','motorway_link','motorway_junction') THEN 0
                               WHEN bus = 'designated' THEN 0 ELSE b END AS bb FROM p3),
         b2 AS (SELECT *, CASE WHEN bb IS NULL AND highway IN ('cycleway','living_street') THEN 1 ELSE bb END AS bq FROM b1),
         b3 AS (SELECT *, CASE WHEN (bq IS NULL AND bicycle_t = 'designated') OR cycleway = 'designated' THEN 1 ELSE bq END AS bicycle FROM b2)
         SELECT highway, count(*) AS cnt,
                CAST(sum(CASE WHEN car = 1 THEN 1 ELSE 0 END) AS BIGINT) AS car_yes,
                CAST(sum(CASE WHEN car = 0 THEN 1 ELSE 0 END) AS BIGINT) AS car_no,
                CAST(sum(CASE WHEN pedestrian = 1 THEN 1 ELSE 0 END) AS BIGINT) AS ped_yes,
                CAST(sum(CASE WHEN bicycle = 1 THEN 1 ELSE 0 END) AS BIGINT) AS bike_yes,
                CAST(sum(speed_limit) AS BIGINT) AS speed_sum
         FROM b3 GROUP BY highway ORDER BY highway""")),

    // ---- tag k/v exploration at DATA SCALE over the same synthesized
    //      ways (osm-explore.sql:43-56 shape on sf-proportional rows)
    Query("q_osm_explore_scale", (s, dir) => {
      osm.TagExplore.tagKvCounts(scaleWays(s, dir), "highway")
    },
      (s"""WITH $scaleWaysSql,
         kv AS (
           SELECT 'highway' AS tag, highway AS "value" FROM w
           UNION ALL SELECT 'access', access FROM w
           UNION ALL SELECT 'foot', foot FROM w
           UNION ALL SELECT 'bicycle', bicycle_t FROM w
           UNION ALL SELECT 'maxspeed', speed_raw || ' km/h' FROM w)
         SELECT tag, "value", count(*) AS count FROM kv
         WHERE "value" IS NOT NULL
         GROUP BY tag, "value"
         ORDER BY tag, count DESC, "value"""")),

    // ---- OSM flagship pipeline on the micro fixture (the oracle rebuilds
    //      the same fixture with VALUES CTEs and re-derives the splitting
    //      in reference-shaped SQL — osm-road-graphs.sql:66-165)
    Query("q_osm_split_merge", (s, dir) => {
      val t = osm.OsmModel.microFixture(s)
      osm.RoadGraph.buildMergedNetworkCached(t, "micro")
        .select(col("edge_id"),
          col("start_node"), col("end_node"),
          array_join(col("nodes").cast("array<string>"), ",").as("nodes_csv"))
        .orderBy("edge_id", "nodes_csv")
    },
      (OsmOracle.graphPrefix +
      """
         SELECT CAST(edge_id AS BIGINT) AS edge_id,
                CAST(start_node AS BIGINT) AS start_node,
                CAST(end_node AS BIGINT) AS end_node, nodes_csv
         FROM merged ORDER BY edge_id, nodes_csv""")),

    // ---- OSM directed expansion, strict reference semantics incl. the
    //      NULL-oneway motorway drop (osm-road-graphs.sql:183-220)
    Query("q_osm_directed", (s, dir) => {
      val t = osm.OsmModel.microFixture(s)
      // the merged network feeds all four direction branches: checkpoint
      // once instead of re-running the split chain per branch
      osm.RoadGraph.directed(
          osm.RoadGraph.buildMergedNetworkCached(t, "micro"),
          strictOsmSemantics = true)
        .select(col("edge_id"), col("start_node"), col("end_node"),
          array_join(col("nodes").cast("array<string>"), ",").as("nodes_csv"))
        .orderBy("edge_id", "start_node", "end_node", "nodes_csv")
    },
      (OsmOracle.graphPrefix +
      """,
         attrs(way_id, highway, oneway) AS (VALUES
           (101,'residential',CAST(NULL AS VARCHAR)),(102,'tertiary',CAST(NULL AS VARCHAR)),
           (103,'primary','yes'),(104,'motorway','-1'),
           (106,'motorway',CAST(NULL AS VARCHAR)),(109,'tertiary',CAST(NULL AS VARCHAR))),
         merged2 AS (SELECT m.*, a.highway, a.oneway
                     FROM merged m JOIN attrs a ON m.edge_id = a.way_id),
         directed AS (
           SELECT edge_id, start_node, end_node, nodes_csv FROM merged2
            WHERE (oneway IS NULL OR oneway = 'no') AND highway != 'motorway'
           UNION ALL
           SELECT edge_id, end_node, start_node, nodes_csv_rev FROM merged2
            WHERE (oneway IS NULL OR oneway = 'no') AND highway != 'motorway'
           UNION ALL
           SELECT edge_id, start_node, end_node, nodes_csv FROM merged2
            WHERE oneway = 'yes' OR (highway = 'motorway' AND oneway != '-1')
           UNION ALL
           SELECT edge_id, end_node, start_node, nodes_csv_rev FROM merged2
            WHERE oneway = '-1')
         SELECT CAST(edge_id AS BIGINT) AS edge_id,
                CAST(start_node AS BIGINT) AS start_node,
                CAST(end_node AS BIGINT) AS end_node, nodes_csv
         FROM directed ORDER BY edge_id, start_node, end_node, nodes_csv""")),

    // ---- directed expansion under the documented evident-intent mode:
    //      NULL-oneway motorways become forward edges instead of
    //      silently vanishing in the reference's 3VL trap
    Query("q_osm_directed_intent", (s, dir) => {
      val t = osm.OsmModel.microFixture(s)
      osm.RoadGraph.directed(
          osm.RoadGraph.buildMergedNetworkCached(t, "micro"),
          strictOsmSemantics = false)
        .select(col("edge_id"), col("start_node"), col("end_node"),
          array_join(col("nodes").cast("array<string>"), ",").as("nodes_csv"))
        .orderBy("edge_id", "start_node", "end_node", "nodes_csv")
    },
      (OsmOracle.graphPrefix +
      """,
         attrs(way_id, highway, oneway) AS (VALUES
           (101,'residential',CAST(NULL AS VARCHAR)),(102,'tertiary',CAST(NULL AS VARCHAR)),
           (103,'primary','yes'),(104,'motorway','-1'),
           (106,'motorway',CAST(NULL AS VARCHAR)),(109,'tertiary',CAST(NULL AS VARCHAR))),
         merged2 AS (SELECT m.*, a.highway, a.oneway
                     FROM merged m JOIN attrs a ON m.edge_id = a.way_id),
         directed AS (
           SELECT edge_id, start_node, end_node, nodes_csv FROM merged2
            WHERE (oneway IS NULL OR oneway = 'no') AND highway != 'motorway'
           UNION ALL
           SELECT edge_id, end_node, start_node, nodes_csv_rev FROM merged2
            WHERE (oneway IS NULL OR oneway = 'no') AND highway != 'motorway'
           UNION ALL
           SELECT edge_id, start_node, end_node, nodes_csv FROM merged2
            WHERE oneway = 'yes'
               OR (highway = 'motorway' AND (oneway IS NULL OR oneway != '-1'))
           UNION ALL
           SELECT edge_id, end_node, start_node, nodes_csv_rev FROM merged2
            WHERE oneway = '-1')
         SELECT CAST(edge_id AS BIGINT) AS edge_id,
                CAST(start_node AS BIGINT) AS start_node,
                CAST(end_node AS BIGINT) AS end_node, nodes_csv
         FROM directed ORDER BY edge_id, start_node, end_node, nodes_csv""")),

    // ---- OSM median speed imputation (osm-road-graphs.sql:43-54)
    Query("q_osm_impute", (s, dir) => {
      val t = osm.OsmModel.microFixture(s)
      osm.RoadGraph.imputeSpeedLimits(
          osm.RoadGraph.excludeModes(osm.RoadGraph.carNetwork(t.ways)))
        .select(col("edge_id"), col("highway"), col("speed_limit"))
        .orderBy("edge_id")
    },
      """WITH ways(edge_id, highway, speed_limit) AS (VALUES
           (101,'residential',50),(102,'tertiary',CAST(NULL AS INT)),
           (103,'primary',80),(104,'motorway',CAST(NULL AS INT)),
           (106,'motorway',CAST(NULL AS INT)),(109,'tertiary',60)),
         med AS (SELECT highway, CAST(round(median(speed_limit)) AS INT) AS m
                 FROM ways WHERE speed_limit IS NOT NULL GROUP BY highway)
         SELECT CAST(w.edge_id AS BIGINT) AS edge_id, w.highway,
                coalesce(w.speed_limit, m.m) AS speed_limit
         FROM ways w LEFT JOIN med m ON w.highway = m.highway
         ORDER BY edge_id"""),

    // ---- osm-explore flagship summary on the fixture (tagValueCounts,
    //      osm-explore.sql:10-16 — the §7.2 minimum slice on OSM data)
    Query("q_osm_explore", (s, dir) => {
      val t = osm.OsmModel.microFixture(s)
      osm.TagExplore.tagValueCounts(t.ways, "highway")
    },
      """SELECT highway, count(*) AS count FROM (VALUES
           ('residential'),('tertiary'),('primary'),('motorway'),
           ('footway'),('motorway'),('residential'),('tertiary')) t(highway)
         GROUP BY highway ORDER BY count DESC, highway"""),

    // ---- relations tag summaries (osm-explore.sql:211-249): the four
    //      *_relations_values tables stacked with a tag discriminator
    Query("q_rel_explore", (s, dir) => {
      val (rels, _) = osm.OsmModel.microRelations(s)
      val stacked = Seq("amenity", "leisure", "sport", "landuse").map { k =>
        osm.TagExplore.tagValueCounts(rels, k)
          .select(lit(k).as("tag"), col(k).as("value"), col("count"))
      }
      RelOps.unionAll(stacked).orderBy("tag", "value")
    },
      """WITH rel_tags(rel_id, tag, "value") AS (VALUES
           (201,'leisure','park'), (203,'amenity','parking'),
           (204,'landuse','forest'), (205,'leisure','pitch'),
           (205,'sport','soccer'))
         SELECT tag, "value", count(*) AS count FROM rel_tags
         WHERE tag IN ('amenity','leisure','sport','landuse')
         GROUP BY tag, "value" ORDER BY tag, "value""""),

    // ---- relation_members end-to-end: relation 'type' x member_type
    //      membership stats through the members join
    Query("q_rel_members", (s, dir) => {
      val (rels, members) = osm.OsmModel.microRelations(s)
      rels.select(col("id").as("relation_id"),
          element_at(col("tags"), "type").as("rel_type"))
        .join(members, "relation_id")
        .groupBy("rel_type", "member_type")
        .agg(count(lit(1)).as("cnt"),
          countDistinct(col("relation_id")).as("n_rels"))
        .orderBy("rel_type", "member_type")
    },
      """WITH rels(relation_id, rel_type) AS (VALUES
           (201,'multipolygon'),(202,'route'),(203,'multipolygon'),
           (204,'boundary'),(205,'multipolygon'),(206,'route')),
         members(relation_id, member_type) AS (VALUES
           (201,'W'),(201,'W'),(202,'W'),(202,'W'),(202,'W'),(202,'N'),
           (203,'W'),(204,'W'),(204,'W'),(205,'W'),(205,'N'),
           (206,'W'),(206,'R'))
         SELECT rel_type, member_type, count(*) AS cnt,
                count(DISTINCT relation_id) AS n_rels
         FROM rels JOIN members USING (relation_id)
         GROUP BY rel_type, member_type ORDER BY rel_type, member_type"""),

    // ---- multipolygon assembly from raw pgsnapshot relation members:
    //      ring stitching across split/reversed ways, holes subtracted.
    //      Areas in milli-degree² on the 0.001° fixture grid; the
    //      oracle restates the hand-derived ring accounting (301:
    //      4×4 outer − 1×1 hole; 302: right triangle 3×3/2; 303: 3×3
    //      stitched from 3 ways, one reversed; 304: two unit squares).
    Query("q_rel_multipolygon", (s, dir) => {
      val (members, ways) = osm.Multipolygon.fixture(s)
      osm.Multipolygon.multipolygonAreas(members, ways)
        .select(col("relation_id"), col("n_outer"), col("n_inner"),
          round(col("area_deg2") * 1e6, 6).as("area_mdeg2"))
        .orderBy("relation_id")
    },
      // post-change ways after the fixture .osc applies to the micro
      // fixture: 102 deleted; 120 created through the moved node 3
      // (so its x2/y2 are the NEW coordinate); 101 refreshed but
      // endpoint-stable; everything else untouched. Hand-derived from
      // FIXTURES.md §2 + the diff.
      // Multipolygon accounting, hand-derived: areas on the 0.001° grid
      // in milli-deg² — 301 = 4·4 − 1·1 = 15; 302 = 3·3/2 = 4.5;
      // 303 = 3·3 = 9; 304 = 1 + 1 = 2. Ring counts follow the fixture.
      """SELECT * FROM (VALUES
           (CAST(301 AS BIGINT), CAST(1 AS BIGINT), CAST(1 AS BIGINT), CAST(15.0 AS DOUBLE)),
           (CAST(302 AS BIGINT), CAST(1 AS BIGINT), CAST(0 AS BIGINT), CAST(4.5  AS DOUBLE)),
           (CAST(303 AS BIGINT), CAST(1 AS BIGINT), CAST(0 AS BIGINT), CAST(9.0  AS DOUBLE)),
           (CAST(304 AS BIGINT), CAST(2 AS BIGINT), CAST(0 AS BIGINT), CAST(2.0  AS DOUBLE)))
         AS t(relation_id, n_outer, n_inner, area_mdeg2)
         ORDER BY relation_id"""),

    // ---- point-in-multipolygon (ST_Contains with holes): probes
    //      chosen per regime — interior, inside-the-hole (must drop),
    //      each disjoint outer, and fully outside. Grid-bucketed
    //      containment join + hole anti-join; oracle restates the
    //      hand-checked membership.
    Query("q_rel_mp_contains", (s, dir) => {
      import s.implicits._
      val (members, ways) = osm.Multipolygon.fixture(s)
      val pts = Seq(
        (1L, 0.003, 0.003),   // 301 interior (outside the hole)
        (2L, 0.0015, 0.0015), // inside 301's hole -> NOT contained
        (3L, 0.011, 0.0005),  // 302 triangle interior
        (4L, 0.021, 0.001),   // 303 interior
        (5L, 0.0335, 0.0005), // 304's second square
        (6L, 0.05, 0.05))     // outside everything
        .toDF("point_id", "lon", "lat")
        .select(col("point_id"),
          struct(col("lon"), col("lat")).as("p"))
      osm.Multipolygon.containsJoin(pts, "point_id", col("p"),
          members, ways, cellDeg = 0.002)
        .orderBy("point_id", "relation_id")
    },
      // Hand-checked point-in-multipolygon membership: the hole probe
      // (point 2) and the outside probe (point 6) are absent.
      """SELECT * FROM (VALUES
           (CAST(1 AS BIGINT), CAST(301 AS BIGINT)),
           (CAST(3 AS BIGINT), CAST(302 AS BIGINT)),
           (CAST(4 AS BIGINT), CAST(303 AS BIGINT)),
           (CAST(5 AS BIGINT), CAST(304 AS BIGINT)))
         AS t(point_id, relation_id) ORDER BY point_id, relation_id"""),

    // ---- complete multi-modal network with car/pedestrian/bicycle
    //      flags (osm-complete-graphs.sql:8-151, strict semantics incl.
    //      the AND/OR-precedence quirk; oracle mirrors the cascade)
    Query("q_osm_complete_flags", (s, dir) => {
      val t = osm.OsmModel.microFixture(s)
      osm.CompleteGraph.build(t.ways, strictOsmSemantics = true)
        .select(col("edge_id"), col("highway"),
          col("car").cast("short").as("car"),
          col("pedestrian").cast("short").as("pedestrian"),
          col("bicycle").cast("short").as("bicycle"))
        .orderBy("edge_id")
    },
      """WITH w(edge_id, highway, access, service, bicycle_t, cycleway, foot,
                footway, motor_vehicle, bus) AS (VALUES
           (101, 'residential', CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)),
           (102, 'tertiary', NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL),
           (103, 'primary', NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL),
           (104, 'motorway', NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL),
           (105, 'footway', NULL, NULL, NULL, NULL, NULL, 'sidewalk', NULL, NULL),
           (106, 'motorway', NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL),
           (107, 'residential', 'private', NULL, NULL, NULL, NULL, NULL, NULL, NULL),
           (109, 'tertiary', NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL)),
         base AS (SELECT *, CASE
             WHEN access IN ('no','private','permit','customers','forestry','agricultural','military','emergency','bus','delivery','restricted') THEN 0
             WHEN service IN ('drive-through','emergency_access','bus') THEN 0
             WHEN highway IN ('disused','dismantled','razed','rest_area','corridor','construction','abandoned','raceway','proposed','planned','platform') THEN 0
             ELSE NULL END AS b FROM w),
         carc AS (SELECT *, CASE
             WHEN highway IN ('steps','footway','pedestrian','cycleway','bridleway','elevator','sidewalk') THEN 0
             WHEN bicycle_t = 'designated' OR cycleway = 'designated' OR foot = 'designated'
                  OR footway IN ('sidewalk','crossing','yes')
                  OR motor_vehicle IN ('no','private')
                  OR service IN ('parking_aisle','parking') OR bus = 'designated' THEN 0
             WHEN b IS NULL AND highway IN ('motorway','primary','tertiary','secondary','primary_link','tertiary_link','secondary_link','trunk','trunk_link','motorway_link','motorway_junction') THEN 1
             ELSE b END AS car FROM base),
         p1 AS (SELECT *, CASE WHEN highway IN ('motorway','trunk','trunk_link','motorway_link','motorway_junction') THEN 0
                               WHEN bus = 'designated' THEN 0 ELSE b END AS pp FROM carc),
         p2 AS (SELECT *, CASE WHEN pp IS NULL AND highway IN ('steps','footway','pedestrian','bridleway','elevator','sidewalk','living_street','path') THEN 1 ELSE pp END AS pq FROM p1),
         p3 AS (SELECT *, CASE WHEN (pq IS NULL AND foot = 'designated') OR footway IN ('sidewalk','crossing','yes') THEN 1 ELSE pq END AS pedestrian FROM p2),
         b1 AS (SELECT *, CASE WHEN highway IN ('motorway','trunk','trunk_link','motorway_link','motorway_junction') THEN 0
                               WHEN bus = 'designated' THEN 0 ELSE b END AS bb FROM p3),
         b2 AS (SELECT *, CASE WHEN bb IS NULL AND highway IN ('cycleway','living_street') THEN 1 ELSE bb END AS bq FROM b1),
         b3 AS (SELECT *, CASE WHEN (bq IS NULL AND bicycle_t = 'designated') OR cycleway = 'designated' THEN 1 ELSE bq END AS bicycle FROM b2)
         SELECT CAST(edge_id AS BIGINT) AS edge_id, highway,
                CAST(car AS SMALLINT) AS car,
                CAST(pedestrian AS SMALLINT) AS pedestrian,
                CAST(bicycle AS SMALLINT) AS bicycle
         FROM b3 ORDER BY edge_id"""),

    // ---- mode-flag cascade under evident intent: the NULL-guard
    //      distributes over both disjuncts of the pedestrian/bicycle
    //      dedicated rules, so a designated-footway match can no longer
    //      overturn an earlier pedestrian=0
    Query("q_osm_complete_intent", (s, dir) => {
      val t = osm.OsmModel.microFixture(s)
      osm.CompleteGraph.build(t.ways, strictOsmSemantics = false)
        .select(col("edge_id"), col("highway"),
          col("car").cast("short").as("car"),
          col("pedestrian").cast("short").as("pedestrian"),
          col("bicycle").cast("short").as("bicycle"))
        .orderBy("edge_id")
    },
      """WITH w(edge_id, highway, access, service, bicycle_t, cycleway, foot,
                footway, motor_vehicle, bus) AS (VALUES
           (101, 'residential', CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)),
           (102, 'tertiary', NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL),
           (103, 'primary', NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL),
           (104, 'motorway', NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL),
           (105, 'footway', NULL, NULL, NULL, NULL, NULL, 'sidewalk', NULL, NULL),
           (106, 'motorway', NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL),
           (107, 'residential', 'private', NULL, NULL, NULL, NULL, NULL, NULL, NULL),
           (109, 'tertiary', NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL)),
         base AS (SELECT *, CASE
             WHEN access IN ('no','private','permit','customers','forestry','agricultural','military','emergency','bus','delivery','restricted') THEN 0
             WHEN service IN ('drive-through','emergency_access','bus') THEN 0
             WHEN highway IN ('disused','dismantled','razed','rest_area','corridor','construction','abandoned','raceway','proposed','planned','platform') THEN 0
             ELSE NULL END AS b FROM w),
         carc AS (SELECT *, CASE
             WHEN highway IN ('steps','footway','pedestrian','cycleway','bridleway','elevator','sidewalk') THEN 0
             WHEN bicycle_t = 'designated' OR cycleway = 'designated' OR foot = 'designated'
                  OR footway IN ('sidewalk','crossing','yes')
                  OR motor_vehicle IN ('no','private')
                  OR service IN ('parking_aisle','parking') OR bus = 'designated' THEN 0
             WHEN b IS NULL AND highway IN ('motorway','primary','tertiary','secondary','primary_link','tertiary_link','secondary_link','trunk','trunk_link','motorway_link','motorway_junction') THEN 1
             ELSE b END AS car FROM base),
         p1 AS (SELECT *, CASE WHEN highway IN ('motorway','trunk','trunk_link','motorway_link','motorway_junction') THEN 0
                               WHEN bus = 'designated' THEN 0 ELSE b END AS pp FROM carc),
         p2 AS (SELECT *, CASE WHEN pp IS NULL AND highway IN ('steps','footway','pedestrian','bridleway','elevator','sidewalk','living_street','path') THEN 1 ELSE pp END AS pq FROM p1),
         p3 AS (SELECT *, CASE WHEN pq IS NULL AND (foot = 'designated' OR footway IN ('sidewalk','crossing','yes')) THEN 1 ELSE pq END AS pedestrian FROM p2),
         b1 AS (SELECT *, CASE WHEN highway IN ('motorway','trunk','trunk_link','motorway_link','motorway_junction') THEN 0
                               WHEN bus = 'designated' THEN 0 ELSE b END AS bb FROM p3),
         b2 AS (SELECT *, CASE WHEN bb IS NULL AND highway IN ('cycleway','living_street') THEN 1 ELSE bb END AS bq FROM b1),
         b3 AS (SELECT *, CASE WHEN bq IS NULL AND (bicycle_t = 'designated' OR cycleway = 'designated') THEN 1 ELSE bq END AS bicycle FROM b2)
         SELECT CAST(edge_id AS BIGINT) AS edge_id, highway,
                CAST(car AS SMALLINT) AS car,
                CAST(pedestrian AS SMALLINT) AS pedestrian,
                CAST(bicycle AS SMALLINT) AS bicycle
         FROM b3 ORDER BY edge_id"""),

    // ---- OSM POI pivot from nodes (osm-pois-extract.sql:3-48)
    Query("q_osm_pois_nodes", (s, dir) => {
      val t = osm.OsmModel.microFixture(s)
      osm.PoisExtract.poisNodes(t.nodes)
        .select(col("node_id"), col("key"), col("values"), col("name"))
        .orderBy("node_id", "key")
    },
      """WITH tags(node_id, "key", "value") AS (VALUES
           (3,'highway','crossing'),
           (5,'amenity','cafe'),(5,'name','Cafe Five'),
           (6,'shop','bakery'),(6,'name','Bakery Six'),
           (11,'amenity','bench')),
         poi AS (SELECT node_id, "key", "value" AS "values" FROM tags
                 WHERE "key" IN ('leisure','sport','shop','office','amenity',
                                 'craft','tourism','emergency','historic'))
         SELECT CAST(p.node_id AS BIGINT) AS node_id, p."key", p."values",
                n."value" AS name
         FROM poi p LEFT JOIN tags n ON n.node_id = p.node_id AND n."key" = 'name'
         ORDER BY node_id, p."key""""),

    // ---- OSM POI-to-network snap (the pgRouting stop-matching step):
    //      POIs from the micro fixture snapped onto the merged network
    //      via the grid-bucketed nearest-edge join. The bench (n11)
    //      lies on the INTERIOR of W9's chord — the edge snap is exact
    //      where nearest-vertex would be 0.01 deg off. Rounded outputs
    //      (12/9 places) absorb the ~1e-33 projection residue; the
    //      oracle states the known snap set literally.
    Query("q_osm_snap_pois", (s, dir) => {
      val t = osm.OsmModel.microFixture(s)
      val merged = osm.RoadGraph.buildMergedNetworkCached(t, "micro")
      osm.RoadGraph.snapPois(osm.PoisExtract.poisNodes(t.nodes), merged)
        .select(col("node_id"), col("edge_id"),
          round(col("dist2"), 12).as("d2"),
          round(col("snap_x"), 9).as("snap_x"),
          round(col("snap_y"), 9).as("snap_y"))
        .orderBy("node_id")
    },
      // the known snap set on the micro fixture, stated literally: cafe
      // n5 and bakery n6 are W2 segment endpoints (exact snaps onto edge
      // 102); bench n11 (0.30, 0) lies on the interior of W9's
      // (0.12,0)-(0.31,0) chord — exact at 12/9-place rounding
      """SELECT CAST(node_id AS BIGINT) AS node_id,
                CAST(edge_id AS BIGINT) AS edge_id,
                CAST(d2 AS DOUBLE) AS d2,
                CAST(snap_x AS DOUBLE) AS snap_x,
                CAST(snap_y AS DOUBLE) AS snap_y
         FROM (VALUES
           (5, 102, 0.0, 0.02, -0.01),
           (6, 102, 0.0, 0.02, 0.01),
           (11, 109, 0.0, 0.3, 0.0)) AS v(node_id, edge_id, d2, snap_x, snap_y)
         ORDER BY node_id"""),

    // ---- OSM POI pivot from ways (osm-pois-extract.sql:51-71): same
    //      branch-union shape as the nodes half plus the `highway IS
    //      NULL` exclusion guard — fixture way 110 carries BOTH leisure
    //      and highway and must be excluded; 112 carries two POI keys
    //      and surfaces once per key
    Query("q_osm_pois_ways", (s, dir) => {
      osm.PoisExtract.poisWays(osm.OsmModel.poisWaysFixture(s))
        .select(col("way_id"), col("key"), col("values"), col("name"))
        .orderBy("way_id", "key")
    },
      // independent re-derivation of the way-POI extract incl. the
      // exclusion guard: a way surfaces only if it has NO highway tag
      """WITH tags(way_id, "key", "value") AS (VALUES
           (101,'highway','residential'),(101,'maxspeed','50'),(101,'name','First'),
           (102,'highway','tertiary'),
           (103,'highway','primary'),(103,'oneway','yes'),(103,'maxspeed','80 km/h'),
           (104,'highway','motorway'),(104,'oneway','-1'),
           (105,'highway','footway'),(105,'footway','sidewalk'),
           (106,'highway','motorway'),
           (107,'highway','residential'),(107,'access','private'),
           (108,'leisure','park'),(108,'name','Central Park'),
           (109,'highway','tertiary'),(109,'maxspeed','60'),
           (110,'leisure','pitch'),(110,'highway','track'),(110,'name','Track Pitch'),
           (111,'landuse','forest'),
           (112,'sport','soccer'),(112,'amenity','community_centre'),(112,'name','Sports Club')),
         poi AS (SELECT way_id, "key", "value" AS "values" FROM tags
                 WHERE "key" IN ('leisure','landuse','sport','amenity')
                   AND way_id NOT IN
                     (SELECT way_id FROM tags WHERE "key" = 'highway'))
         SELECT CAST(p.way_id AS BIGINT) AS way_id, p."key", p."values",
                n."value" AS name
         FROM poi p LEFT JOIN tags n ON n.way_id = p.way_id AND n."key" = 'name'
         ORDER BY way_id, p."key""""),

    // ---- Approach 1b: split at TRUE geometric crossings — ways that
    //      cross with no shared vertex (osm-road-graphs-fix.sql:93-111).
    //      Grid-bucketed segment-pair equi-join (never all-pairs; the
    //      reference's own ST_Crosses form is flagged "Does not work
    //      with large maps"); the X fixture must yield 4 halves meeting
    //      at (0.01, 0.01), the endpoint-touch pair must NOT split.
    //      Oracle = the hand-computed expected geometry.
    Query("q_osm_cross_split", (s, dir) => {
      osm.GeometricSplit.splitWithCrossings(osm.GeometricSplit.crossingFixture(s))
        .select(col("edge_id"),
          round(element_at(col("geom"), 1).getField("lon"), 6).as("x1"),
          round(element_at(col("geom"), 1).getField("lat"), 6).as("y1"),
          round(element_at(col("geom"), -1).getField("lon"), 6).as("x2"),
          round(element_at(col("geom"), -1).getField("lat"), 6).as("y2"))
        .orderBy("edge_id", "x1", "y1")
    },
      // hand-computed expected split of the crossing fixture: the X pair
      // (edges 1, 2) halves at the (0.01, 0.01) intersection; edge 3 far
      // away and the endpoint-touch pair (4, 5) pass through unsplit
      """SELECT CAST(edge_id AS BIGINT) AS edge_id,
                CAST(x1 AS DOUBLE) AS x1, CAST(y1 AS DOUBLE) AS y1,
                CAST(x2 AS DOUBLE) AS x2, CAST(y2 AS DOUBLE) AS y2
         FROM (VALUES
           (1, 0.0,  0.0,  0.01, 0.01),
           (1, 0.01, 0.01, 0.02, 0.02),
           (2, 0.0,  0.02, 0.01, 0.01),
           (2, 0.01, 0.01, 0.02, 0.0),
           (3, 1.0,  1.0,  1.01, 1.0),
           (4, 0.5,  0.5,  0.52, 0.5),
           (5, 0.5,  0.5,  0.5,  0.52)) AS t(edge_id, x1, y1, x2, y2)
         ORDER BY edge_id, x1, y1"""),

    // ---- F23 pgr_createTopology (osm-road-graphs-fix.sql:128-131):
    //      snap endpoints to the 1e-4 tolerance grid, dense 1-based
    //      vertex ids in (sx, sy) cell order, attach source/target.
    //      Crossing fixture endpoints -> 9 distinct cells; ids are
    //      hand-derivable (FIXTURES.md): (0,0)=1 (0,200)=2 (200,0)=3
    //      (200,200)=4 (5000,5000)=5 (5000,5200)=6 (5200,5000)=7
    //      (10000,10000)=8 (10100,10000)=9.
    Query("q_f23_topology", (s, dir) => {
      osm.GeometricSplit.createTopology(
          osm.GeometricSplit.crossingFixture(s))
        .select(col("edge_id"), col("source"), col("target"))
        .orderBy("edge_id")
    },
      // createTopology vertex assignment on the crossing fixture:
      // endpoints snap to 9 distinct 1e-4 cells, numbered 1..9 in
      // (sx, sy) order — hand-derived VALUES (see the query comment)
      """SELECT * FROM (VALUES
           (CAST(1 AS BIGINT), CAST(1 AS BIGINT), CAST(4 AS BIGINT)),
           (2, 2, 3),
           (3, 8, 9),
           (4, 5, 7),
           (5, 5, 6))
           AS v(edge_id, source, target)
         ORDER BY edge_id"""),

    // ---- A8 multipoint half (osm-road-graphs-fix.sql:83,94):
    //      ST_Multi(ST_Union(point geometries)) per group — the POI
    //      nodes of the micro fixture grouped by their tag key, WKT via
    //      the same sorted-set multipoint the blades relation uses.
    Query("q_a8_multipoint", (s, dir) => {
      val t = osm.OsmModel.microFixture(s)
      t.nodes.select(explode(col("tags")).as(Seq("k", "v")), col("geom"))
        .filter(col("k") =!= "name")
        .groupBy("k")
        .agg(array_sort(collect_set(col("geom"))).as("mp"))
        .select(col("k"), size(col("mp")).cast("long").as("n_pts"),
          functions.Geo.asTextMultiPoint(col("mp")).as("wkt"))
        .orderBy("k")
    },
      // micro-fixture POI nodes per tag key (FIXTURES.md §2): amenity on
      // nodes 5 (0.02,-0.01) and 11 (0.3,0.0); highway on node 3; shop
      // on node 6 — multipoint members in (lon, lat) order
      """SELECT * FROM (VALUES
           ('amenity', CAST(2 AS BIGINT), 'MULTIPOINT(0.02 -0.01, 0.3 0.0)'),
           ('highway', 1, 'MULTIPOINT(0.02 0.0)'),
           ('shop',    1, 'MULTIPOINT(0.02 0.01)'))
           AS v(k, n_pts, wkt)
         ORDER BY k"""),

    // ---- nodes_blades_alt (osm-road-graphs-fix.sql:93-103): per way,
    //      the ST_Multi(ST_Union(...)) of its touch/cross intersection
    //      points with OTHER highway ways — re-expressed as a grid-cell
    //      equi-join over way bboxes + the per-pair lineIntersections
    //      fold (the reference's theta self-join is flagged "Does not
    //      work with large maps"; this shape scales like every other
    //      bucketed spatial join here). X fixture: ways 1×2 cross at
    //      (0.01,0.01); 4×5 touch at their shared endpoint; way 3 is
    //      isolated and must not appear.
    Query("q_osm_blades_alt", (s, dir) => {
      val net = osm.GeometricSplit.crossingFixture(s)
        .select(col("edge_id"), col("geom"))
      // bbox-RANGE cells (not just vertex cells): a crossing can sit in
      // an interior cell no vertex touches; the exact lineIntersections
      // predicate then discards bbox-only coincidences (same publish
      // shape as GeometricSplit.crossingPoints, at way granularity)
      val cells = net
        .withColumn("lons", transform(col("geom"), p => p.getField("lon")))
        .withColumn("lats", transform(col("geom"), p => p.getField("lat")))
        .withColumn("sx", explode(sequence(
          floor(array_min(col("lons")) / 0.01).cast("long"),
          floor(array_max(col("lons")) / 0.01).cast("long"))))
        .withColumn("sy", explode(sequence(
          floor(array_min(col("lats")) / 0.01).cast("long"),
          floor(array_max(col("lats")) / 0.01).cast("long"))))
        .select(col("edge_id"), col("geom"),
          struct(col("sx"), col("sy")).as("cell"))
      val pairs = cells.select(col("cell"), col("edge_id").as("id_a"),
          col("geom").as("ga"))
        .join(cells.select(col("cell"), col("edge_id").as("id_b"),
          col("geom").as("gb")), Seq("cell"))
        .filter(col("id_a") =!= col("id_b"))
        .select("id_a", "id_b", "ga", "gb").distinct()
        .withColumn("pts", Geo.lineIntersections(col("ga"), col("gb")))
        .filter(size(col("pts")) > 0)
      pairs.select(col("id_a").as("way_id"), explode(col("pts")).as("pt"))
        .groupBy("way_id")
        .agg(array_sort(collect_set(col("pt"))).as("mp"))
        .select(col("way_id"),
          size(col("mp")).cast("long").as("n_pts"),
          Geo.asTextMultiPoint(col("mp")).as("wkt"))
        .orderBy("way_id")
    },
      // independent re-derivation of the blades-alt relation: the same
      // parametric segment-intersection math in SQL over the fixture's
      // single-segment ways (all-pairs is fine for an oracle over 5
      // ways), identical double arithmetic -> identical WKT strings
      """WITH ways(id, ax, ay, bx, by) AS (VALUES
           (1, 0.0, 0.0, 0.02, 0.02),
           (2, 0.0, 0.02, 0.02, 0.0),
           (3, 1.0, 1.0, 1.01, 1.0),
           (4, 0.5, 0.5, 0.52, 0.5),
           (5, 0.5, 0.5, 0.5, 0.52)),
         hits AS (
           SELECT a.id AS way_id,
                  a.ax + ((b.ax - a.ax) * (b.by - b.ay)
                        - (b.ay - a.ay) * (b.bx - b.ax))
                       / ((a.bx - a.ax) * (b.by - b.ay)
                        - (a.by - a.ay) * (b.bx - b.ax))
                       * (a.bx - a.ax) AS px,
                  a.ay + ((b.ax - a.ax) * (b.by - b.ay)
                        - (b.ay - a.ay) * (b.bx - b.ax))
                       / ((a.bx - a.ax) * (b.by - b.ay)
                        - (a.by - a.ay) * (b.bx - b.ax))
                       * (a.by - a.ay) AS py
           FROM ways a JOIN ways b ON a.id != b.id
           WHERE ((a.bx - a.ax) * (b.by - b.ay)
                - (a.by - a.ay) * (b.bx - b.ax)) != 0
             AND ((b.ax - a.ax) * (b.by - b.ay)
                - (b.ay - a.ay) * (b.bx - b.ax))
               / ((a.bx - a.ax) * (b.by - b.ay)
                - (a.by - a.ay) * (b.bx - b.ax)) BETWEEN 0 AND 1
             AND ((b.ax - a.ax) * (a.by - a.ay)
                - (b.ay - a.ay) * (a.bx - a.ax))
               / ((a.bx - a.ax) * (b.by - b.ay)
                - (a.by - a.ay) * (b.bx - b.ax)) BETWEEN 0 AND 1),
         dedup AS (SELECT DISTINCT way_id, px, py FROM hits)
         SELECT CAST(way_id AS BIGINT) AS way_id,
                CAST(count(*) AS BIGINT) AS n_pts,
                'MULTIPOINT(' || string_agg(
                  CAST(px AS VARCHAR) || ' ' || CAST(py AS VARCHAR),
                  ', ' ORDER BY px, py) || ')' AS wkt
         FROM dedup GROUP BY way_id ORDER BY way_id"""),

    // ---- .osc OsmChange replication-diff ingest (the reference's
    //      actions-table feed, pgsnapshot_schema_0.6_action.sql:1-5):
    //      parse a three-action diff (node move / way delete / way
    //      create) from a real file through the StAX source, apply it
    //      to the base tables, and emit the post-change ways — the
    //      created way's denormalized linestring must read the MOVED
    //      node's coordinate, proving apply ordering is right
    Query("q_osc_apply", (s, dir) => {
      val t = osm.OsmModel.microFixture(s)
      val tmp = tempFixtureDir("osc_q")
      java.nio.file.Files.writeString(tmp.resolve("000042.osc"), OscFixtureXml)
      val parsed = graft.sources.OscChangeset.read(s, tmp.toString)
      val updated = graft.sources.OscChangeset.applyTo(s, t, parsed.toDF())
      updated.ways.select(col("id").as("way_id"),
          col("tags").getItem("highway").as("highway"),
          size(col("nodes")).cast("long").as("n_nodes"),
          round(element_at(col("linestring"), 1).getField("lon"), 6).as("x1"),
          round(element_at(col("linestring"), 1).getField("lat"), 6).as("y1"),
          round(element_at(col("linestring"), -1).getField("lon"), 6).as("x2"),
          round(element_at(col("linestring"), -1).getField("lat"), 6).as("y2"))
        .orderBy("way_id")
    },
      """SELECT * FROM (VALUES
           (CAST(101 AS BIGINT), 'residential', CAST(4 AS BIGINT),
            CAST(0.0  AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.03 AS DOUBLE), CAST(0.0 AS DOUBLE)),
           (103, 'primary',     2, 0.10, 0.0, 0.12, 0.0),
           (104, 'motorway',    2, 0.20, 0.0, 0.22, 0.0),
           (105, 'footway',     2, 0.30, 0.0, 0.31, 0.0),
           (106, 'motorway',    2, 0.22, 0.0, 0.20, 0.0),
           (107, 'residential', 2, 0.30, 0.0, 0.31, 0.0),
           (108, CAST(NULL AS VARCHAR), 3, 0.00, 0.0, 0.02, 0.01),
           (109, 'tertiary',    2, 0.12, 0.0, 0.31, 0.0),
           (120, 'residential', 2, 0.03, 0.0, 0.02, 0.001)
         ) AS t(way_id, highway, n_nodes, x1, y1, x2, y2)
         ORDER BY way_id"""),
  )
}
