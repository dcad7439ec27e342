package graft
package queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import QueryHelpers._

/** Routing over the road graph, the pgRouting analogs: shortest paths
  * with and without turn restrictions, K shortest paths, A*,
  * driving-distance isochrones, cost matrices, accessibility and graph
  * contraction. */
object RoutingQueries {
  /** The turn-restriction diamond (edges carry their way ids) and the
    * restrictions the REAL extractor pulls from its type=restriction
    * relations — [[restrictedLineGraph]] re-derives both in SQL. */
  private def restrictedFixture(s: SparkSession): (DataFrame, DataFrame) = {
    import s.implicits._
    val edges = Seq(
      (1L, 1L, 2L, 1L, 201L), (2L, 2L, 4L, 1L, 202L),
      (3L, 1L, 3L, 3L, 203L), (4L, 3L, 4L, 2L, 204L),
      (5L, 2L, 3L, 1L, 205L), (6L, 3L, 5L, 1L, 206L)
    ).toDF("edge_id", "start_node", "end_node", "w", "way_id")
    val (rels, mems) = osm.OsmModel.restrictionRelations(s)
    (edges, osm.RoadGraph.turnRestrictions(rels, mems))
  }

  val all: Seq[Query] = Seq(
    // ---- distributed routing (pgr_dijkstra analog): single-source
    //      shortest paths over the strict directed graph by Pregel
    //      relaxation — one equi-join + min-agg per round, rounds
    //      bounded by shortest-path-tree hop depth. Weights ride exact
    //      integer CENTIMETERS (round(length*100)::BIGINT) so path
    //      sums are bit-portable across engines — the hopping-window
    //      lesson applied to routing. Unreachable nodes absent.
    // ---- turn-restricted routing (pgr_trsp analog): SSSP over the
    //      edge-expanded diamond fixture with restrictions extracted
    //      from type=restriction relations by the REAL extractor — the
    //      banned straight-on (201->202 via 2) forces the 2-3-4 detour
    //      (dist 4 instead of 2) and the mandatory only_right
    //      (205->204 via 3) closes the 2-3-5 shortcut (dist 4 via the
    //      long branch instead of 3)
    Query("q_osm_route_restricted", (s, dir) => {
      val (edges, restr) = restrictedFixture(s)
      osm.GraphCheck.restrictedShortestPaths(edges, restr, source = 1L)
        .orderBy("node_id")
    },
      // turn-restricted routing re-derived: the same relation->restriction
      // extraction (from/via/to member roles, only_* -> mandatory), the
      // same line-graph expansion with only_* expanded against actual
      // turns, recursive relaxation over edge states
      (restrictedLineGraph + """,
         r(edge, dist, hops) AS (
           SELECT e.edge_id, e.w, 1 FROM edges e WHERE e.src = 1
           UNION ALL
           SELECT l.b, r.dist + l.w, r.hops + 1
           FROM r JOIN lg l ON l.a = r.edge WHERE r.hops < 8),
         nd AS (
           SELECT e.dst AS node_id, min(r.dist) AS dist
           FROM r JOIN edges e ON e.edge_id = r.edge GROUP BY e.dst)
         SELECT CAST(node_id AS BIGINT) AS node_id,
                CAST(dist AS BIGINT) AS dist
         FROM (SELECT 1 AS node_id, 0 AS dist
               UNION ALL
               SELECT node_id, dist FROM nd WHERE node_id <> 1)
         ORDER BY node_id""")),

    // ---- the full pgr_trsp surface: point-to-point restricted route
    //      WITH path reconstruction — pgRouting-shaped rows
    //      (seq, node_id, edge_id, agg_cost); the banned straight-on
    //      forces 1-2-3-4 over the direct 1-2-4
    Query("q_osm_route_restricted_path", (s, dir) => {
      import s.implicits._
      val (edges, restr) = restrictedFixture(s)
      val (es, ns, _) = osm.GraphCheck.restrictedRoute(
        edges, restr, source = 1L, target = 4L).get
      val w = edges.filter(col("edge_id").isin(es: _*))
        .select(col("edge_id"), col("w")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val rows = (0L, ns.head, None: Option[Long], 0L) +:
        es.zipWithIndex.map { case (e, i) =>
          ((i + 1).toLong, ns(i + 1), Some(e): Option[Long],
            es.take(i + 1).map(w).sum)
        }
      rows.toDF("seq", "node_id", "edge_id", "agg_cost").orderBy("seq")
    },
      // restricted route WITH path: same expansion, recursion carries the
      // edge path and cumulative costs; the unique optimum's rows unrolled
      (restrictedLineGraph + """,
         r(edge, dist, hops, epath, cpath) AS (
           SELECT e.edge_id, e.w, 1, [e.edge_id], [e.w]
           FROM edges e WHERE e.src = 1
           UNION ALL
           SELECT l.b, r.dist + l.w, r.hops + 1,
                  list_append(r.epath, l.b),
                  list_append(r.cpath, r.dist + l.w)
           FROM r JOIN lg l ON l.a = r.edge WHERE r.hops < 6),
         best AS (
           SELECT r.epath, r.cpath
           FROM r JOIN edges te ON te.edge_id = r.edge
           WHERE te.dst = 4 ORDER BY r.dist, r.epath LIMIT 1),
         hop_src AS (
           SELECT unnest(epath) AS eid,
                  generate_subscripts(epath, 1) AS i, cpath
           FROM best),
         hops AS (
           SELECT CAST(u.i AS BIGINT) AS seq,
                  CAST(ed.dst AS BIGINT) AS node_id,
                  CAST(u.eid AS BIGINT) AS edge_id,
                  CAST(u.cpath[u.i] AS BIGINT) AS agg_cost
           FROM hop_src u JOIN edges ed ON ed.edge_id = u.eid)
         SELECT * FROM (
           SELECT CAST(0 AS BIGINT) AS seq, CAST(1 AS BIGINT) AS node_id,
                  CAST(NULL AS BIGINT) AS edge_id,
                  CAST(0 AS BIGINT) AS agg_cost
           UNION ALL SELECT seq, node_id, edge_id, agg_cost FROM hops)
         ORDER BY seq""")),

    // ---- VIA-WAY restrictions (the pgr_trsp surface node-via bans
    //      cannot express): shadow states ban the full F-V-T sequence
    //      while partial uses of V stay legal — route r1 (1->4) must
    //      exit V mid-way, route r0 (0->4, side entry) keeps V->T.
    //      The oracle is a completely different algorithm: hop-bounded
    //      path enumeration banning the contiguous edge triple.
    Query("q_osm_route_viaway", (s, dir) => {
      import s.implicits._
      val edges = Seq(
        (1L, 1L, 2L, 1L, 101L), (2L, 2L, 3L, 1L, 102L),
        (3L, 3L, 4L, 1L, 103L), (4L, 2L, 5L, 5L, 104L),
        (5L, 5L, 4L, 5L, 105L), (6L, 3L, 6L, 1L, 106L),
        (7L, 6L, 4L, 4L, 107L), (8L, 0L, 2L, 1L, 108L)
      ).toDF("edge_id", "start_node", "end_node", "w", "way_id")
      val (rels, mems) = osm.OsmModel.viaWayRestrictionRelations(s)
      val restr = osm.RoadGraph.turnRestrictionsVia(rels, mems)
      // build + checkpoint the shadow-state expansion ONCE for both
      // routes (r21): it is a pure function of (edges, restr), and the
      // per-route form re-derived its whole join chain per od-pair
      val sgRaw = osm.GraphCheck.restrictedStateGraph(edges, restr)
      val sg = (sgRaw._1.localCheckpoint(true), sgRaw._2.localCheckpoint(true))
      def rows(tag: String, src: Long) = {
        val (es, ns, _) = osm.GraphCheck.restrictedRouteOn(
          sg, edges, src, 4L).get
        val wm = edges.filter(col("edge_id").isin(es: _*))
          .select(col("edge_id"), col("w")).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        (tag, 0L, ns.head, None: Option[Long], 0L) +:
          es.zipWithIndex.map { case (e, i) =>
            (tag, (i + 1).toLong, ns(i + 1), Some(e): Option[Long],
              es.take(i + 1).map(wm).sum)
          }
      }
      (rows("r0", 0L) ++ rows("r1", 1L))
        .toDF("route", "seq", "node_id", "edge_id", "agg_cost")
        .orderBy("route", "seq")
    },
      // via-way restrictions re-derived WITHOUT shadow states: enumerate
      // hop-bounded paths carrying the edge sequence as '/e1/e2/../',
      // drop any path containing a banned CONTIGUOUS edge triple
      // (resolved from the via-way relations), node-via bans stay
      // pairwise; best legal path per source unrolled to pgRouting rows
      """WITH RECURSIVE
         edges(edge_id, src, dst, w, way) AS (VALUES
           (1,1,2,1,101),(2,2,3,1,102),(3,3,4,1,103),(4,2,5,5,104),
           (5,5,4,5,105),(6,3,6,1,106),(7,6,4,4,107),(8,0,2,1,108)),
         rels(relation_id, rtype, restriction) AS (VALUES
           (401,'restriction','no_straight_on'),
           (402,'restriction','only_right_turn'),
           (403,'restriction','no_u_turn'),
           (404,'restriction','no_left_turn')),
         mem(relation_id, member_id, mtype, role) AS (VALUES
           (401,101,'W','from'),(401,102,'W','via'),(401,103,'W','to'),
           (402,101,'W','from'),(402,102,'W','via'),(402,106,'W','to'),
           (403,104,'W','from'),(403,105,'W','via'),(403,102,'W','via'),
           (403,103,'W','to'),
           (404,108,'W','from'),(404,2,'N','via'),(404,102,'W','via'),
           (404,104,'W','to')),
         viaN AS (
           SELECT relation_id, member_id AS via_node FROM mem
           WHERE role = 'via' AND mtype = 'N'),
         viaW AS (
           SELECT relation_id, min(member_id) AS via_way FROM mem
           WHERE role = 'via' AND mtype = 'W'
           GROUP BY relation_id HAVING count(*) = 1),
         restrx AS (
           SELECT f.member_id AS from_way, v.via_node,
                  CAST(NULL AS BIGINT) AS via_way, t.member_id AS to_way,
                  CASE WHEN r.restriction LIKE 'only%' THEN 'only'
                       ELSE 'no' END AS kind
           FROM rels r
           JOIN mem f ON f.relation_id = r.relation_id
                     AND f.role = 'from' AND f.mtype = 'W'
           JOIN viaN v ON v.relation_id = r.relation_id
           JOIN mem t ON t.relation_id = r.relation_id
                     AND t.role = 'to' AND t.mtype = 'W'
           WHERE r.rtype = 'restriction'
           UNION ALL
           SELECT f.member_id, CAST(NULL AS BIGINT), v.via_way,
                  t.member_id,
                  CASE WHEN r.restriction LIKE 'only%' THEN 'only'
                       ELSE 'no' END
           FROM rels r
           JOIN mem f ON f.relation_id = r.relation_id
                     AND f.role = 'from' AND f.mtype = 'W'
           JOIN viaW v ON v.relation_id = r.relation_id
           JOIN mem t ON t.relation_id = r.relation_id
                     AND t.role = 'to' AND t.mtype = 'W'
           WHERE r.rtype = 'restriction' AND NOT EXISTS (
             SELECT 1 FROM viaN vn
             WHERE vn.relation_id = r.relation_id)),
         turns AS (
           SELECT e1.edge_id AS a, e2.edge_id AS b, e2.w,
                  e1.way AS fw, e1.dst AS via, e2.way AS tw
           FROM edges e1 JOIN edges e2 ON e1.dst = e2.src),
         nbans AS (
           SELECT from_way AS fw, via_node AS via, to_way AS tw
           FROM restrx WHERE via_node IS NOT NULL AND kind = 'no'
           UNION ALL
           SELECT t.fw, t.via, t.tw
           FROM turns t JOIN restrx r
             ON r.via_node IS NOT NULL AND r.kind = 'only'
            AND t.fw = r.from_way AND t.via = r.via_node
            AND t.tw <> r.to_way),
         wtrip AS (
           SELECT ef.edge_id AS f, ev.edge_id AS v, et.edge_id AS t,
                  r.kind
           FROM restrx r
           JOIN edges ef ON ef.way = r.from_way
           JOIN edges ev ON ev.way = r.via_way AND ev.src = ef.dst
           JOIN edges et ON et.way = r.to_way AND et.src = ev.dst
           WHERE r.via_way IS NOT NULL),
         tbans AS (
           SELECT f, v, t FROM wtrip WHERE kind = 'no'
           UNION ALL
           SELECT w.f, w.v, tr.b
           FROM (SELECT DISTINCT f, v FROM wtrip WHERE kind = 'only') w
           JOIN turns tr ON tr.a = w.v
           WHERE NOT EXISTS (
             SELECT 1 FROM wtrip o
             WHERE o.kind = 'only' AND o.f = w.f AND o.v = w.v
               AND o.t = tr.b)),
         ebans AS (
           -- only_* FIRST leg: off F every continuation but the via
           -- edge dies (edge-space pair ban, mirrors the engine)
           SELECT w.f, t.b AS x
           FROM (SELECT DISTINCT f FROM wtrip WHERE kind = 'only') w
           JOIN turns t ON t.a = w.f
           WHERE NOT EXISTS (
             SELECT 1 FROM wtrip o
             WHERE o.kind = 'only' AND o.f = w.f AND o.v = t.b)),
         lg AS (
           SELECT t.a, t.b, t.w FROM turns t
           LEFT JOIN nbans bn ON bn.fw = t.fw AND bn.via = t.via
                             AND bn.tw = t.tw
           WHERE bn.fw IS NULL AND NOT EXISTS (
             SELECT 1 FROM ebans e WHERE e.f = t.a AND e.x = t.b)),
         r(s0, edge, dist, hops, epath, cpath, ps) AS (
           SELECT v.s0, e.edge_id, e.w, 1, [e.edge_id], [e.w],
                  '/' || e.edge_id || '/'
           FROM (VALUES (0), (1)) v(s0) JOIN edges e ON e.src = v.s0
           UNION ALL
           SELECT r.s0, l.b, r.dist + l.w, r.hops + 1,
                  list_append(r.epath, l.b),
                  list_append(r.cpath, r.dist + l.w),
                  r.ps || l.b || '/'
           FROM r JOIN lg l ON l.a = r.edge WHERE r.hops < 8),
         legal AS (
           SELECT * FROM r WHERE NOT EXISTS (
             SELECT 1 FROM tbans b
             WHERE r.ps LIKE '%/' || b.f || '/' || b.v || '/'
                             || b.t || '/%')),
         best AS (
           SELECT s0, epath, cpath,
                  row_number() OVER (PARTITION BY s0
                    ORDER BY dist, epath) AS rn
           FROM legal l JOIN edges te ON te.edge_id = l.edge
           WHERE te.dst = 4),
         b1 AS (SELECT s0, epath, cpath FROM best WHERE rn = 1),
         hop_src AS (
           SELECT s0, unnest(epath) AS eid,
                  generate_subscripts(epath, 1) AS i, cpath
           FROM b1),
         hops AS (
           SELECT CASE WHEN u.s0 = 0 THEN 'r0' ELSE 'r1' END AS route,
                  CAST(u.i AS BIGINT) AS seq,
                  CAST(ed.dst AS BIGINT) AS node_id,
                  CAST(u.eid AS BIGINT) AS edge_id,
                  CAST(u.cpath[u.i] AS BIGINT) AS agg_cost
           FROM hop_src u JOIN edges ed ON ed.edge_id = u.eid)
         SELECT * FROM (
           SELECT CASE WHEN v.s0 = 0 THEN 'r0' ELSE 'r1' END AS route,
                  CAST(0 AS BIGINT) AS seq, CAST(v.s0 AS BIGINT) AS node_id,
                  CAST(NULL AS BIGINT) AS edge_id,
                  CAST(0 AS BIGINT) AS agg_cost
           FROM (VALUES (0), (1)) v(s0)
           UNION ALL SELECT route, seq, node_id, edge_id, agg_cost
           FROM hops)
         ORDER BY route, seq"""),

    Query("q_osm_route", (s, dir) => {
      val e = microCmEdges(osm.OsmModel.microFixture(s))
      osm.GraphCheck.shortestPaths(e, source = 1L)
        .select(col("node_id"), col("dist").as("dist_cm"))
        .orderBy("node_id")
    },
      // independent SSSP: the oracle rebuilds the split/merged graph
      // (graphPrefix), computes per-edge geodesic lengths from node
      // coords (same haversine, rounded to integer centimeters — path
      // sums exact), expands the strict directed edge set, and runs a
      // hop-bounded recursive CTE with min-per-node — a completely
      // different algorithm arriving at the same distances
      (routeSssp +
      """
         SELECT CAST(node AS BIGINT) AS node_id,
                CAST(min(dist) AS BIGINT) AS dist_cm
         FROM r GROUP BY node ORDER BY node_id""")),

    // ---- accessibility (multi-source SSSP): each node's network
    //      distance to its NEAREST amenity — the street-network
    //      analysis the reference's graphs exist to serve. Seeding
    //      every POI node at distance 0 costs the same as one source;
    //      integer-centimeter weights keep it hash-exact.
    Query("q_osm_accessibility", (s, dir) => {
      val e = microCmEdges(osm.OsmModel.microFixture(s))
      // the POI nodes that are graph vertices (cafe n5, bakery n6)
      osm.GraphCheck.multiSourceShortestPaths(e, Seq(5L, 6L))._1
        .select(col("node_id"), col("dist").as("dist_cm"))
        .orderBy("node_id")
    },
      // nearest-amenity distances: the same rebuilt graph, recursion
      // seeded at BOTH POI vertices — min per node is then the distance
      // to the nearest seed
      (routeGraph(withEid = false) + """,
         r(node, dist, hops) AS (
           SELECT seed, CAST(0 AS BIGINT), 0
           FROM (VALUES (5), (6)) s(seed)
           UNION ALL
           SELECT e.dst, r.dist + e.w, r.hops + 1
           FROM r JOIN dedges e ON e.src = r.node WHERE r.hops < 8)
         SELECT CAST(node AS BIGINT) AS node_id,
                CAST(min(dist) AS BIGINT) AS dist_cm
         FROM r GROUP BY node ORDER BY node_id""")),

    // ---- isochrone (pgr_drivingDistance): the service area within a
    //      network-distance cutoff — SSSP composed with a filter, no
    //      new operator needed. Cutoff 3300 m keeps {1, 3} and proves
    //      real pruning (node 4 sits at 3335.85 m).
    Query("q_osm_isochrone", (s, dir) => {
      val e = microCmEdges(osm.OsmModel.microFixture(s))
      osm.GraphCheck.multiSourceShortestPaths(e, Seq(1L))._1
        .filter(col("dist") <= 330000L)
        .select(col("node_id"), col("dist").as("dist_cm"))
        .orderBy("node_id")
    },
      // the service area: same recursion, cutoff applied to the per-node
      // minimum (not the raw path rows — a long path to a near node must
      // not drop it)
      (routeSssp +
      """
         SELECT CAST(node AS BIGINT) AS node_id,
                CAST(min(dist) AS BIGINT) AS dist_cm
         FROM r GROUP BY node HAVING min(dist) <= 330000
         ORDER BY node_id""")),

    // ---- isochrone POLYGON (pgr_drivingDistance + pgr_alphaShape —
    //      the pair the reference's pgRouting consumer emits service
    //      areas with): reached nodes within 3400 m of node 1
    //      ({1,3,4,5,6} — node 4 and the two spur nodes sit at
    //      3335.85 m) snap to 0.02-degree cells {(0,0),(1,0),(1,-1)},
    //      whose union outline is a CONCAVE (L-shaped) ring traced
    //      interior-left (ServiceArea.cellUnionRings). Hand-derived
    //      ring oracle; cell relation is area-bounded (the 100 TB
    //      shape), the ring walk is presentation-sized driver work.
    Query("q_osm_isochrone_poly", (s, dir) => {
      import s.implicits._
      val t = osm.OsmModel.microFixture(s)
      val e = microCmEdges(t)
      val reached = osm.GraphCheck.multiSourceShortestPaths(e, Seq(1L))._1
        .filter(col("dist") <= 340000L)
      val coords = t.nodes.select(col("id").as("node_id"),
        col("geom.lon").as("lon"), col("geom.lat").as("lat"))
      val cells = osm.ServiceArea.isochroneCells(reached, coords, 0.02)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      osm.ServiceArea.cellUnionRings(cells, 0.02)
        .toDF("ring_id", "seq", "lon", "lat")
        .select(col("ring_id"), col("seq"),
          round(col("lon"), 9).as("lon"), round(col("lat"), 9).as("lat"))
        .orderBy("ring_id", "seq")
    },
      // hand-derived alpha-shape ring: reached@3400m = {1,3,4,5,6} (from
      // the q_osm_isochrone recursion at the wider cutoff) -> 0.02-degree
      // cells (0,0),(1,0),(1,-1) -> L-shaped union outline traced CCW
      // from its lexicographically-smallest vertex, collinear runs merged
      """SELECT * FROM (VALUES
           (0, 0, CAST(0.00 AS DOUBLE), CAST( 0.00 AS DOUBLE)),
           (0, 1, CAST(0.02 AS DOUBLE), CAST( 0.00 AS DOUBLE)),
           (0, 2, CAST(0.02 AS DOUBLE), CAST(-0.02 AS DOUBLE)),
           (0, 3, CAST(0.04 AS DOUBLE), CAST(-0.02 AS DOUBLE)),
           (0, 4, CAST(0.04 AS DOUBLE), CAST( 0.02 AS DOUBLE)),
           (0, 5, CAST(0.00 AS DOUBLE), CAST( 0.02 AS DOUBLE)))
         AS t(ring_id, seq, lon, lat)
         ORDER BY ring_id, seq"""),

    // ---- K shortest paths (pgr_ksp, Yen): route alternatives over the
    //      rebuilt graph augmented with two fixed shortcut edges (the
    //      micro network is a tree — without them there is exactly one
    //      simple 1→4 path and KSP is vacuous). Integer-centimeter
    //      weights; rank ties (none here) break on the path string.
    Query("q_osm_ksp", (s, dir) => {
      import s.implicits._
      val base = microCmEdges(osm.OsmModel.microFixture(s))
      val shortcuts = Seq((1L, 5L, 150000L), (6L, 4L, 140000L))
        .toDF("start_node", "end_node", "w")
      val e = base.unionByName(shortcuts)
      osm.GraphCheck.kShortestPaths(e, source = 1L, target = 4L, k = 3)
        .zipWithIndex
        .map { case ((p, d), i) =>
          (i.toLong + 1, p.mkString(","), math.round(d)) }
        .toDF("rank", "path", "dist_cm").orderBy("rank")
    },
      // K shortest paths: enumerate ALL simple 1→4 paths over the same
      // rebuilt graph + the two literal shortcut edges (the recursion
      // forbids node revisits, so it terminates), rank by (dist, path)
      // — Yen's loopless semantics is exactly top-k of this enumeration
      (routeSssp +
      """,
         dedges2 AS (
           SELECT src, dst, w FROM dedges
           UNION ALL
           SELECT src, dst, CAST(w AS BIGINT)
           FROM (VALUES (1, 5, 150000), (6, 4, 140000)) v(src, dst, w)),
         kp(node, dist, path) AS (
           SELECT 1, CAST(0 AS BIGINT), '1'
           UNION ALL
           SELECT e.dst, kp.dist + e.w,
                  kp.path || ',' || CAST(e.dst AS VARCHAR)
           FROM kp JOIN dedges2 e ON e.src = kp.node
           WHERE (',' || kp.path || ',')
                 NOT LIKE ('%,' || CAST(e.dst AS VARCHAR) || ',%'))
         SELECT CAST(row_number() OVER (ORDER BY dist, path) AS BIGINT) AS rank,
                path, dist AS dist_cm
         FROM kp WHERE node = 4 ORDER BY rank LIMIT 3""")),

    // ---- pgr_dijkstraCost many-to-many matrix: exact integer-cm
    //      costs, no self rows, unreachable pairs absent — the
    //      VRP/logistics input surface
    Query("q_osm_cost_matrix", (s, dir) => {
      val e = microCmEdges(osm.OsmModel.microFixture(s))
      osm.GraphCheck.costMatrix(e, Seq(1L, 3L, 5L), Seq(4L, 5L, 6L))
        .select(col("start_vid"), col("end_vid"),
          col("agg_cost").as("cost_cm"))
        .orderBy("start_vid", "end_vid")
    },
      // cost matrix: per-seed BFS relation, min per (seed, node), target
      // filter, self rows dropped (pgr_dijkstraCost semantics)
      (seededSssp("(1), (3), (5)") + """
         SELECT CAST(seed AS BIGINT) AS start_vid,
                CAST(node AS BIGINT) AS end_vid,
                CAST(d AS BIGINT) AS cost_cm
         FROM mc WHERE node IN (4, 5, 6) AND node <> seed
         ORDER BY start_vid, end_vid""")),

    // ---- routing with PATH reconstruction (what pgr_dijkstra actually
    //      returns): predecessor-tracking relaxation + O(path-length)
    //      driver walk-back — never a full collect of the distance
    //      relation. Ties (none on this fixture) break on the smaller
    //      predecessor, so the sequence is deterministic.
    Query("q_osm_route_path", (s, dir) => {
      import s.implicits._
      val e = microCmEdges(osm.OsmModel.microFixture(s))
      val (path, total) = osm.GraphCheck.shortestPathTo(e, 1L, 4L).get
      path.zipWithIndex
        .map { case (n, i) => (i.toLong + 1, n, math.round(total)) }
        .toDF("seq", "node_id", "total_cm").orderBy("seq")
    },
      // path enumeration with the same rebuilt graph: recursion carries
      // the node list, the best (dist, path) row for the target is
      // exploded positionally — independent of the engine's
      // predecessor-walk reconstruction
      routePathOracle(withEid = false)),

    // ---- pgRouting result-relation shape (pgr_dijkstra): per-edge
    //      rows (seq, path_seq, node, edge, cost, agg_cost) for the
    //      1→4 route — the exact relation osm-pg-etl.md:55-78
    //      consumers script against. `edge` is the way-derived edge id
    //      from the merged network; terminal row edge=-1, cost=0.
    Query("q_osm_route_edges", (s, dir) => {
      // checkpoint ONCE: the route search and the edge-row attribution
      // both consume this relation — without it each re-runs the whole
      // merged-network build
      val e = microCmEdges(osm.OsmModel.microFixture(s), withEdgeId = true)
        .localCheckpoint(true)
      val (path, _) = osm.GraphCheck.shortestPathTo(
        e.select("start_node", "end_node", "w"), 1L, 4L).get
      osm.GraphCheck.routeEdgeRows(e, Seq((1L, path)))
        .select(col("seq"), col("path_seq"), col("node"), col("edge"),
          col("cost").cast("long").as("cost_cm"),
          col("agg_cost").cast("long").as("agg_cm"))
        .orderBy("seq")
    },
      // pgr_dijkstra-shaped per-edge rows: the route_path enumeration
      // plus a per-hop best-edge lookup (min (w, edge_id) — the only
      // edge Dijkstra can have used, id tiebreak for determinism);
      // running agg_cost via a 1-PRECEDING window; terminal row -1/0
      (routeGraph(withEid = true) + routeBestPath + """,
         expd AS (SELECT CAST(generate_subscripts(path, 1) AS BIGINT) AS seq,
                         CAST(unnest(path) AS BIGINT) AS node
                  FROM sel),
         be AS (SELECT src, dst, w, eid,
                       row_number() OVER (PARTITION BY src, dst
                                          ORDER BY w, eid) AS rn
                FROM dedges),
         hops AS (SELECT seq, node,
                         lead(node) OVER (ORDER BY seq) AS nxt
                  FROM expd)
         SELECT h.seq, h.seq AS path_seq, h.node,
                CAST(coalesce(b.eid, -1) AS BIGINT) AS edge,
                CAST(coalesce(b.w, 0) AS BIGINT) AS cost_cm,
                CAST(coalesce(sum(b.w) OVER (ORDER BY h.seq
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS agg_cm
         FROM hops h LEFT JOIN be b
           ON b.src = h.node AND b.dst = h.nxt AND b.rn = 1
         ORDER BY seq""")),

    // ---- pgRouting result-relation shape (pgr_drivingDistance): the
    //      service area within 3400 m of node 1 with each node's
    //      predecessor edge — reaches {1,3,4,5,6} on the micro fixture
    //      (3,5,6 at 2223.9/3335.85/3335.85 m, 4 at 3335.85 m); seed
    //      row carries edge=-1. Attribution is the relational
    //      dist(u)+w=dist(v) join, no pred state in the SSSP loop.
    Query("q_osm_driving_edges", (s, dir) => {
      val e = microCmEdges(osm.OsmModel.microFixture(s), withEdgeId = true)
      osm.GraphCheck.drivingDistanceRows(e, Seq(1L), cutoff = 340000.0)
        .select(col("node_id"), col("edge"),
          col("cost").cast("long").as("cost_cm"),
          col("agg_cost").cast("long").as("agg_cm"))
        .orderBy("node_id")
    },
      // pgr_drivingDistance-shaped rows: per-node min over the recursive
      // enumeration, cutoff on the min, then the same dist(u)+w=dist(v)
      // attribution with the (pred, edge-id) tie rule in SQL
      (routeGraph(withEid = true) +
      """,
         r(node, dist, hops) AS (
           SELECT 1, CAST(0 AS BIGINT), 0
           UNION ALL
           SELECT e.dst, r.dist + e.w, r.hops + 1
           FROM r JOIN dedges e ON e.src = r.node WHERE r.hops < 8),
         md AS (SELECT node, min(dist) AS d FROM r GROUP BY node
                HAVING min(dist) <= 340000),
         cand AS (
           SELECT e.dst AS node, e.eid, mu.d AS du, mv.d AS dv,
                  row_number() OVER (PARTITION BY e.dst
                                     ORDER BY e.src, e.eid) AS rn
           FROM dedges e
           JOIN md mu ON e.src = mu.node
           JOIN md mv ON e.dst = mv.node AND mu.d + e.w = mv.d
           WHERE e.dst != 1)
         SELECT CAST(node AS BIGINT) AS node_id,
                CAST(eid AS BIGINT) AS edge,
                CAST(dv - du AS BIGINT) AS cost_cm,
                CAST(dv AS BIGINT) AS agg_cm
         FROM cand WHERE rn = 1
         UNION ALL
         SELECT 1, -1, 0, 0
         ORDER BY node_id""")),

    // ---- pgRouting result-relation shape (pgr_ksp): the same per-edge
    //      rows with path_id rank over the 3 KSP alternatives on the
    //      shortcut-augmented graph (shortcuts get synthetic edge ids
    //      9001/9002, exactly how pgRouting users tag virtual edges).
    Query("q_osm_ksp_edges", (s, dir) => {
      import s.implicits._
      val base = microCmEdges(osm.OsmModel.microFixture(s), withEdgeId = true)
      val shortcuts = Seq((1L, 5L, 9001L, 150000L), (6L, 4L, 9002L, 140000L))
        .toDF("start_node", "end_node", "edge_id", "w")
      val e = base.unionByName(shortcuts).localCheckpoint(true)
      val ks = osm.GraphCheck.kShortestPaths(
        e.select("start_node", "end_node", "w"), 1L, 4L, k = 3)
      osm.GraphCheck.routeEdgeRows(e,
          ks.zipWithIndex.map { case ((p, _), i) => (i.toLong + 1, p) })
        .select(col("seq"), col("path_id"), col("path_seq"), col("node"),
          col("edge"),
          col("cost").cast("long").as("cost_cm"),
          col("agg_cost").cast("long").as("agg_cm"))
        .orderBy("seq")
    },
      // pgr_ksp-shaped per-edge rows: the KSP string enumeration ranked
      // to top-3, split back to node lists, same best-edge lookup over
      // the shortcut-augmented relation (virtual ids 9001/9002)
      (routeGraph(withEid = true) +
      """,
         dedges2 AS (
           SELECT src, dst, w, eid FROM dedges
           UNION ALL
           SELECT src, dst, CAST(w AS BIGINT), eid
           FROM (VALUES (1, 5, 150000, 9001), (6, 4, 140000, 9002))
                v(src, dst, w, eid)),
         kp(node, dist, path) AS (
           SELECT 1, CAST(0 AS BIGINT), '1'
           UNION ALL
           SELECT e.dst, kp.dist + e.w,
                  kp.path || ',' || CAST(e.dst AS VARCHAR)
           FROM kp JOIN dedges2 e ON e.src = kp.node
           WHERE (',' || kp.path || ',')
                 NOT LIKE ('%,' || CAST(e.dst AS VARCHAR) || ',%')),
         top3 AS (SELECT CAST(row_number() OVER (ORDER BY dist, path)
                    AS BIGINT) AS path_id, path
                  FROM kp WHERE node = 4 ORDER BY dist, path LIMIT 3),
         expd AS (SELECT path_id,
                         CAST(generate_subscripts(l, 1) AS BIGINT) AS path_seq,
                         CAST(unnest(l) AS BIGINT) AS node
                  FROM (SELECT path_id, string_split(path, ',') AS l
                        FROM top3)),
         be AS (SELECT src, dst, w, eid,
                       row_number() OVER (PARTITION BY src, dst
                                          ORDER BY w, eid) AS rn
                FROM dedges2),
         hops AS (SELECT path_id, path_seq, node,
                         lead(node) OVER (PARTITION BY path_id
                                          ORDER BY path_seq) AS nxt
                  FROM expd)
         SELECT CAST(row_number() OVER (ORDER BY h.path_id, h.path_seq)
                  AS BIGINT) AS seq,
                h.path_id, h.path_seq, h.node,
                CAST(coalesce(b.eid, -1) AS BIGINT) AS edge,
                CAST(coalesce(b.w, 0) AS BIGINT) AS cost_cm,
                CAST(coalesce(sum(b.w) OVER (PARTITION BY h.path_id
                  ORDER BY h.path_seq
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS agg_cm
         FROM hops h LEFT JOIN be b
           ON b.src = h.node AND b.dst = h.nxt AND b.rn = 1
         ORDER BY seq""")),

    // ---- A* routing (pgr_aStar): the same 1→4 route as
    //      q_osm_route_path through the heuristic-guided search — the
    //      great-circle heuristic is admissible+consistent over
    //      haversine-cm weights, so the path and total are IDENTICAL
    //      to Dijkstra's and the route_path oracle re-verifies them
    //      independently. Coords come from the fixture's node table
    //      (semi-join-pruned inside aStarPathTo).
    Query("q_osm_astar", (s, dir) => {
      import s.implicits._
      val t = osm.OsmModel.microFixture(s)
      val e = microCmEdges(t)
      val coords = t.nodes.select(col("id").as("node_id"),
        col("geom.lon").as("lon"), col("geom.lat").as("lat"))
      val (path, total, settled) =
        osm.GraphCheck.aStarPathTo(e, coords, 1L, 4L).get
      require(settled > 0 && settled <= path.size + 2,
        s"A* settled $settled nodes for a ${path.size}-node path")
      path.zipWithIndex
        .map { case (n, i) => (i.toLong + 1, n, math.round(total)) }
        .toDF("seq", "node_id", "total_cm").orderBy("seq")
    },
      // A* must return the IDENTICAL relation to route_path (admissible +
      // consistent heuristic), so the same enumeration oracle re-verifies
      // the A* code path independently
      routePathOracle(withEid = true)),

    // ---- pgr_contraction analog (VERDICT r19 item 5): dead-end +
    //      linear contraction on a micro graph that exercises every
    //      rule — a square core with a diagonal (junctions), a
    //      4-edge degree-2 chain (1-10-11-12-2 -> one shortcut, cost
    //      summed, interior recorded), a single interior degree-2
    //      vertex (3-4-1 -> shortcut parallel to the existing 1-3
    //      edge), a depth-3 dead-end tree hanging off junction 3
    //      (absorbs transitively: one type-v row holding 20,21,22),
    //      and a pure 3-cycle (no junction endpoints -> untouched).
    //      The oracle replays both operations as recursive CTEs:
    //      leaf-walks through degree<=2 vertices for dead-end
    //      absorption, junction-walks through degree-2 vertices for
    //      linear chains. All fixture costs are binary-exact so the
    //      two engines' summation orders cannot diverge.
    Query("q_osm_contraction", (s, dir) => {
      import s.implicits._
      val edges = Seq(
        (1L, 1L, 2L, 1.0), (2L, 2L, 3L, 1.0), (3L, 3L, 4L, 1.0),
        (4L, 4L, 1L, 1.0), (5L, 1L, 3L, 2.5),
        (6L, 1L, 10L, 1.0), (7L, 10L, 11L, 2.0), (8L, 11L, 12L, 3.0),
        (9L, 12L, 2L, 4.0),
        (10L, 3L, 20L, 1.0), (11L, 20L, 21L, 1.5), (12L, 21L, 22L, 2.0),
        (13L, 30L, 31L, 1.0), (14L, 31L, 32L, 1.0), (15L, 32L, 30L, 1.0)
      ).toDF("edge_id", "source", "target", "cost")
      val r = osm.Contraction.contractGraph(edges)
      def csv(c: org.apache.spark.sql.Column) =
        array_join(transform(c, x => x.cast("string")), ",")
      val vrows = r.vertexAbsorptions.select(
        lit("v").as("vtype"), col("vertex_id").as("vid"),
        lit(null).cast("long").as("source"),
        lit(null).cast("long").as("target"),
        lit(null).cast("double").as("cost"),
        csv(col("contracted")).as("contracted"))
      val erows = r.edges.filter(size(col("contracted")) > 0).select(
        lit("e").as("vtype"), lit(null).cast("long").as("vid"),
        col("source"), col("target"), col("cost"),
        csv(col("contracted")).as("contracted"))
      erows.unionByName(vrows).orderBy("vtype", "source", "target", "vid")
    },
      // pgr_contraction analog: dead-end absorption = recursive
      // leaf-walks through degree<=2 vertices to the first junction;
      // linear chains = recursive junction-walks through degree-2
      // vertices on the post-dead-end graph, deduped by canonical
      // endpoint order (each chain is found from both ends; binary-exact
      // costs make the two walk directions sum identically)
      """WITH RECURSIVE edges AS (
           SELECT CAST(col0 AS BIGINT) AS id, CAST(col1 AS BIGINT) AS s,
                  CAST(col2 AS BIGINT) AS t, CAST(col3 AS DOUBLE) AS c
           FROM (VALUES (1,1,2,1.0),(2,2,3,1.0),(3,3,4,1.0),(4,4,1,1.0),
                        (5,1,3,2.5),(6,1,10,1.0),(7,10,11,2.0),
                        (8,11,12,3.0),(9,12,2,4.0),(10,3,20,1.0),
                        (11,20,21,1.5),(12,21,22,2.0),(13,30,31,1.0),
                        (14,31,32,1.0),(15,32,30,1.0))),
         nbrs AS (SELECT s AS v, t AS n, id, c FROM edges
                  UNION ALL SELECT t, s, id, c FROM edges),
         deg AS (SELECT v, count(*) AS d FROM nbrs GROUP BY v),
         walk(leaf, cur, prev) AS (
           SELECT v, v, CAST(NULL AS BIGINT) FROM deg WHERE d = 1
           UNION ALL
           SELECT w.leaf, n.n, w.cur
           FROM walk w
           JOIN deg dc ON dc.v = w.cur AND dc.d <= 2
           JOIN nbrs n ON n.v = w.cur AND (w.prev IS NULL OR n.n <> w.prev)),
         targets AS (SELECT w.leaf, w.cur AS tgt FROM walk w
                     JOIN deg ON deg.v = w.cur WHERE deg.d >= 3),
         leafabs AS (SELECT w.leaf, w.cur AS v FROM walk w
                     JOIN deg ON deg.v = w.cur WHERE deg.d <= 2),
         deadv AS (SELECT DISTINCT v FROM leafabs),
         vrows AS (
           SELECT t.tgt AS vid,
             array_to_string(list_sort(list(DISTINCT la.v)), ',') AS contracted
           FROM targets t JOIN leafabs la ON la.leaf = t.leaf
           GROUP BY t.tgt),
         edges2 AS (SELECT * FROM edges
                    WHERE s NOT IN (SELECT v FROM deadv)
                      AND t NOT IN (SELECT v FROM deadv)),
         nbrs2 AS (SELECT s AS v, t AS n, id, c FROM edges2
                   UNION ALL SELECT t, s, id, c FROM edges2),
         deg2 AS (SELECT v, count(*) AS d FROM nbrs2 GROUP BY v),
         cwalk(startv, cur, prev, costacc, path) AS (
           SELECT d.v, n.n, d.v, n.c, [n.n]
           FROM deg2 d JOIN nbrs2 n ON n.v = d.v
           WHERE d.d >= 3
             AND EXISTS (SELECT 1 FROM deg2 x WHERE x.v = n.n AND x.d = 2)
           UNION ALL
           SELECT w.startv, n.n, w.cur, w.costacc + n.c,
                  list_append(w.path, n.n)
           FROM cwalk w
           JOIN deg2 dc ON dc.v = w.cur AND dc.d = 2
           JOIN nbrs2 n ON n.v = w.cur AND n.n <> w.prev),
         chainrows AS (
           SELECT w.startv, w.cur AS endv, w.costacc,
                  list_sort(list_slice(w.path, 1, len(w.path) - 1)) AS interior
           FROM cwalk w JOIN deg2 dz ON dz.v = w.cur AND dz.d >= 3),
         erows AS (
           SELECT DISTINCT least(startv, endv) AS source,
                  greatest(startv, endv) AS target,
                  costacc AS cost,
                  array_to_string(interior, ',') AS contracted
           FROM chainrows)
         SELECT 'e' AS vtype, CAST(NULL AS BIGINT) AS vid,
                source, target, cost, contracted FROM erows
         UNION ALL
         SELECT 'v', vid, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
                CAST(NULL AS DOUBLE), contracted FROM vrows
         ORDER BY vtype, source, target, vid"""),
  )
}
