package graft
package queries

import org.apache.spark.sql.functions._

import graft.Tables._
import graft.functions.{Geo, GraftFunctions => GF}

/** Geometry kernels and spatial joins: projections, distance and
  * nearest-neighbor joins, simplification, polygon area, containment,
  * WKT, dissolve, difference, buffer, hull and clipping. */
object GeoQueries {
  val all: Seq[Query] = Seq(
    // ---- F22 extension: ST_Transform to the reference's planar CRS
    //      (EPSG:3347 Lambert Conformal Conic, osm-road-graphs.sql:11)
    //      as pure column trig; synthetic in-zone points derived from
    //      customer keys. The oracle evaluates the SAME public Snyder
    //      equations in DuckDB — an independent engine computing the
    //      projection from its published definition.
    Query("q_geo_lcc_project", (s, dir) => {
      customer(s, dir).select(col("c_custkey"),
          struct(
            (lit(-97.0) + (col("c_custkey") % 100).cast("double") / 10.0).as("lon"),
            (lit(49.0) + (col("c_custkey") % 280).cast("double") / 10.0).as("lat"))
            .as("p"))
        .select(col("c_custkey"),
          functions.Geo.lccProject(col("p")).as("pr"))
        .select(col("c_custkey"),
          round(col("pr.x"), 2).as("x"), round(col("pr.y"), 2).as("y"))
        .orderBy("c_custkey")
    },
      // Snyder LCC 2SP forward equations (USGS PP 1395, 15-1..15-10)
      // evaluated natively by DuckDB with the published EPSG:3347
      // parameters — projection constants in scalar CTEs, per-point trig
      // in the projection select
      """WITH c AS (
           SELECT 6378137.0 AS a,
                  sqrt(2*(1/298.257222101) - (1/298.257222101)^2) AS e,
                  radians(49.0) AS phi1, radians(77.0) AS phi2,
                  radians(63.390675) AS phi0,
                  -91.86666666666667 AS lon0,
                  6200000.0 AS fe, 3000000.0 AS fn),
         d AS (
           SELECT *,
             cos(phi1)/sqrt(1 - e*e*sin(phi1)*sin(phi1)) AS m1,
             cos(phi2)/sqrt(1 - e*e*sin(phi2)*sin(phi2)) AS m2,
             tan(pi()/4 - phi1/2) * ((1 + e*sin(phi1))/(1 - e*sin(phi1)))^(e/2) AS t1,
             tan(pi()/4 - phi2/2) * ((1 + e*sin(phi2))/(1 - e*sin(phi2)))^(e/2) AS t2,
             tan(pi()/4 - phi0/2) * ((1 + e*sin(phi0))/(1 - e*sin(phi0)))^(e/2) AS t0
           FROM c),
         k AS (SELECT *, (ln(m1) - ln(m2))/(ln(t1) - ln(t2)) AS n FROM d),
         k2 AS (SELECT *, m1/(n * t1^n) AS bigF FROM k),
         k3 AS (SELECT *, a * bigF * t0^n AS rho0 FROM k2),
         pts AS (
           SELECT c_custkey,
                  -97.0 + CAST(c_custkey % 100 AS DOUBLE)/10.0 AS lon,
                  49.0 + CAST(c_custkey % 280 AS DOUBLE)/10.0 AS lat
           FROM customer),
         pr AS (
           SELECT c_custkey, lon, lat,
             tan(pi()/4 - radians(lat)/2) *
               ((1 + e*sin(radians(lat)))/(1 - e*sin(radians(lat))))^(e/2) AS t,
             n, a, bigF, rho0, fe, fn, lon0
           FROM pts, k3)
         SELECT c_custkey,
           round(fe + a*bigF*t^n * sin(n*radians(lon - lon0)), 2) AS x,
           round(fn + rho0 - a*bigF*t^n * cos(n*radians(lon - lon0)), 2) AS y
         FROM pr ORDER BY c_custkey"""),

    // ---- F22 extension: general ST_Transform(geom, srid) dispatcher —
    //      the same points through WGS84 UTM zone 33N (EPSG:32633,
    //      Snyder TM eqs. 8-9..8-13) and Web Mercator (EPSG:3857) in
    //      one scan. Points stay inside the zone's ±3° span so the
    //      series bound (<1 mm) holds; the oracle re-derives BOTH
    //      projections from their published equations in DuckDB.
    Query("q_geo_transform", (s, dir) => {
      customer(s, dir).select(col("c_custkey"),
          struct(
            (lit(12.0) + (col("c_custkey") % 60).cast("double") / 10.0).as("lon"),
            (lit(40.0) + (col("c_custkey") % 250).cast("double") / 10.0).as("lat"))
            .as("p"))
        .select(col("c_custkey"),
          functions.Geo.stTransform(col("p"), 32633).as("u"),
          functions.Geo.stTransform(col("p"), 3857).as("m"))
        .select(col("c_custkey"),
          round(col("u.x"), 2).as("utm_x"), round(col("u.y"), 2).as("utm_y"),
          round(col("m.x"), 2).as("merc_x"), round(col("m.y"), 2).as("merc_y"))
        .orderBy("c_custkey")
    },
      // Snyder Transverse Mercator forward (USGS PP 1395, 8-9..8-13) with
      // the published EPSG:32633 constants plus spherical Web Mercator —
      // both re-derived natively in DuckDB. Powers are written as the
      // same chained multiplications the engine uses (a2 = A*A, A^3 as
      // A*a2, …) so both engines follow the identical IEEE operation
      // sequence before the 2-place round.
      """WITH c AS (
           SELECT 6378137.0 AS a,
                  2*(1/298.257223563) - (1/298.257223563)^2 AS e2,
                  0.9996 AS k0, 15.0 AS lon0, 500000.0 AS fe, 0.0 AS fn),
         d AS (
           SELECT *, e2/(1-e2) AS ep2,
             1 - e2/4 - 3*e2*e2/64 - 5*e2*e2*e2/256 AS c0,
             3*e2/8 + 3*e2*e2/32 + 45*e2*e2*e2/1024 AS c2,
             15*e2*e2/256 + 45*e2*e2*e2/1024 AS c4,
             35*e2*e2*e2/3072 AS c6
           FROM c),
         pts AS (
           SELECT c_custkey,
                  12.0 + CAST(c_custkey % 60 AS DOUBLE)/10.0 AS lon,
                  40.0 + CAST(c_custkey % 250 AS DOUBLE)/10.0 AS lat
           FROM customer),
         pr AS (
           SELECT c_custkey, lon, lat, radians(lat) AS phi,
                  a, e2, ep2, k0, lon0, fe, fn, c0, c2, c4, c6
           FROM pts, d),
         q AS (
           SELECT *,
             a / sqrt(1 - e2*sin(phi)*sin(phi)) AS bigN,
             tan(phi)*tan(phi) AS bigT,
             ep2 * cos(phi)*cos(phi) AS bigC,
             radians(lon - lon0) * cos(phi) AS bigA,
             a * (c0*phi - c2*sin(phi*2) + c4*sin(phi*4) - c6*sin(phi*6)) AS bigM
           FROM pr),
         q2 AS (SELECT *, bigA*bigA AS a2 FROM q)
         SELECT c_custkey,
           round(fe + k0 * bigN * (bigA
             + (1 - bigT + bigC) * bigA * a2 / 6
             + (5 - 18*bigT + bigT*bigT + 72*bigC - 58*ep2)
                 * bigA * a2 * a2 / 120), 2) AS utm_x,
           round(fn + k0 * (bigM
             + bigN * tan(phi) * (a2/2
               + (5 - bigT + 9*bigC + 4*bigC*bigC) * a2 * a2 / 24
               + (61 - 58*bigT + bigT*bigT + 600*bigC - 330*ep2)
                   * a2 * a2 * a2 / 720)), 2) AS utm_y,
           round(6378137.0 * radians(lon), 2) AS merc_x,
           round(6378137.0 * ln(tan(pi()/4 + radians(lat)/2)), 2) AS merc_y
         FROM q2 ORDER BY c_custkey"""),

    // ---- F22 extension: ST_DWithin as a grid-bucketed distance JOIN
    //      (one equi-join shuffle, 3x3 probe neighborhood, exact
    //      haversine post-filter — never all-pairs). Half-cell-offset
    //      synthetic lattices keep every true distance far from the
    //      1200 m threshold, so the row set is boundary-stable across
    //      engines; the oracle brute-forces the same haversine.
    Query("q_geo_dwithin", (s, dir) => {
      val cust = customer(s, dir).select(col("c_custkey").as("left_id"),
        struct(((col("c_custkey") % 37) * 0.01).as("lon"),
          ((col("c_custkey") % 23) * 0.01).as("lat")).as("p"))
      val supp = supplier(s, dir).select(col("s_suppkey").as("right_id"),
        struct(((col("s_suppkey") % 37) * 0.01 + 0.005).as("lon"),
          ((col("s_suppkey") % 23) * 0.01 + 0.005).as("lat")).as("p"))
      functions.Geo.distanceJoin(cust, "left_id", col("p"),
          supp, "right_id", col("p"), maxMeters = 1200, cellDeg = 0.02)
        .groupBy("left_id")
        .agg(count(lit(1)).as("n_within"),
          round(min(col("dist_m"))).cast("long").as("min_dist_m"))
        .orderBy("left_id")
    },
      // brute-force ST_DWithin over the same synthetic lattices: the
      // oracle pays the all-pairs cost the engine's grid join avoids
      // (1500 x 100 at sf0.01 — fine for an oracle, not for 100 TB)
      """WITH l AS (
           SELECT c_custkey AS left_id,
                  (c_custkey % 37) * CAST(0.01 AS DOUBLE) AS lon,
                  (c_custkey % 23) * CAST(0.01 AS DOUBLE) AS lat
           FROM customer),
         r AS (
           SELECT s_suppkey AS right_id,
                  (s_suppkey % 37) * CAST(0.01 AS DOUBLE) + CAST(0.005 AS DOUBLE) AS lon,
                  (s_suppkey % 23) * CAST(0.01 AS DOUBLE) + CAST(0.005 AS DOUBLE) AS lat
           FROM supplier),
         p AS (
           SELECT left_id, right_id,
                  2 * 6371008.8 * asin(sqrt(
                    sin(radians(r.lat - l.lat)/2)^2 +
                    cos(radians(l.lat)) * cos(radians(r.lat)) *
                      sin(radians(r.lon - l.lon)/2)^2)) AS d
           FROM l, r)
         SELECT left_id, count(*) AS n_within,
                CAST(round(min(d)) AS BIGINT) AS min_dist_m
         FROM p WHERE d <= 1200 GROUP BY left_id ORDER BY left_id"""),

    // ---- F22 extension: nearest-neighbor snap JOIN (pgRouting's
    //      nearest-vertex lookup / snap-to-network, bounded-radius
    //      semantics = snap tolerance). Targets sit at asymmetric
    //      (+0.003, +0.002) lattice offsets so every query's nearest
    //      and second-nearest are separated by hundreds of meters —
    //      the argmin can never flip on a last-ulp disagreement
    //      between engines; ties (impossible here) would break on
    //      target id in both.
    Query("q_geo_nearest", (s, dir) => {
      val cust = customer(s, dir).select(col("c_custkey").as("query_id"),
        struct(((col("c_custkey") % 37) * 0.01).as("lon"),
          ((col("c_custkey") % 23) * 0.01).as("lat")).as("p"))
      val supp = supplier(s, dir).select(col("s_suppkey").as("nearest_id"),
        struct(((col("s_suppkey") % 37) * 0.01 + 0.003).as("lon"),
          ((col("s_suppkey") % 23) * 0.01 + 0.002).as("lat")).as("p"))
      functions.Geo.nearestJoin(cust, "query_id", col("p"),
          supp, "nearest_id", col("p"), maxMeters = 2000, cellDeg = 0.02)
        .select(col("query_id"), col("nearest_id"),
          round(col("dist_m")).cast("long").as("nearest_m"))
        .orderBy("query_id")
    },
      // brute-force nearest neighbor over the same lattices: all-pairs
      // haversine + row_number, the plan the engine's grid join replaces
      """WITH q AS (
           SELECT c_custkey AS query_id,
                  (c_custkey % 37) * CAST(0.01 AS DOUBLE) AS lon,
                  (c_custkey % 23) * CAST(0.01 AS DOUBLE) AS lat
           FROM customer),
         t AS (
           SELECT s_suppkey AS nearest_id,
                  (s_suppkey % 37) * CAST(0.01 AS DOUBLE) + CAST(0.003 AS DOUBLE) AS lon,
                  (s_suppkey % 23) * CAST(0.01 AS DOUBLE) + CAST(0.002 AS DOUBLE) AS lat
           FROM supplier),
         p AS (
           SELECT query_id, nearest_id,
                  2 * 6371008.8 * asin(sqrt(
                    sin(radians(t.lat - q.lat)/2)^2 +
                    cos(radians(q.lat)) * cos(radians(t.lat)) *
                      sin(radians(t.lon - q.lon)/2)^2)) AS d,
                  row_number() OVER (PARTITION BY query_id ORDER BY
                    2 * 6371008.8 * asin(sqrt(
                      sin(radians(t.lat - q.lat)/2)^2 +
                      cos(radians(q.lat)) * cos(radians(t.lat)) *
                        sin(radians(t.lon - q.lon)/2)^2)), nearest_id) AS rn
           FROM q, t
           WHERE 2 * 6371008.8 * asin(sqrt(
                   sin(radians(t.lat - q.lat)/2)^2 +
                   cos(radians(q.lat)) * cos(radians(t.lat)) *
                     sin(radians(t.lon - q.lon)/2)^2)) <= 2000)
         SELECT query_id, nearest_id, CAST(round(d) AS BIGINT) AS nearest_m
         FROM p WHERE rn = 1 ORDER BY query_id"""),

    // ---- F22 extension: nearest-EDGE snap join + ST_ClosestPoint (the
    //      full pgRouting stop-snapping semantics: nearest polyline
    //      within tolerance plus the snapped projection onto it).
    //      Planar degree-space distance; L-shaped 3-vertex edges on the
    //      supplier lattice, queries on the customer lattice at
    //      asymmetric (+0.002, +0.001) offsets so nearest and runner-up
    //      stay well separated. The per-segment projection formula is
    //      mirrored token-for-token in the oracle, so dist²/snap agree
    //      to the last bits (rounded defensively at 12/9 places).
    Query("q_geo_snap", (s, dir) => {
      val cust = customer(s, dir).select(col("c_custkey").as("query_id"),
        struct(((col("c_custkey") % 37) * 0.01 + 0.002).as("lon"),
          ((col("c_custkey") % 23) * 0.01 + 0.001).as("lat")).as("p"))
      val ax = (col("s_suppkey") % 37) * 0.01
      val ay = (col("s_suppkey") % 23) * 0.01
      val edges = supplier(s, dir).select(col("s_suppkey").as("edge_id"),
        array(struct(ax.as("lon"), ay.as("lat")),
          struct((ax + 0.004).as("lon"), ay.as("lat")),
          struct((ax + 0.004).as("lon"), (ay + 0.004).as("lat"))).as("geom"))
      functions.Geo.nearestEdgeJoin(cust, "query_id", col("p"),
          edges, "edge_id", col("geom"), maxDist = 0.015, cellDeg = 0.02)
        .select(col("query_id"), col("edge_id"),
          round(col("dist2"), 12).as("d2"),
          round(col("snap_x"), 9).as("snap_x"),
          round(col("snap_y"), 9).as("snap_y"))
        .orderBy("query_id")
    },
      // brute-force nearest edge: every (query, edge, segment) triple,
      // the clamped-projection distance mirroring evalClosest
      // token-for-token (raw, t via least/greatest, cx/cy, d2), then
      // argmin by (d2, segment) within an edge and (d2, edge_id) across
      // edges — the exact tie-break order the engine's first-min loop
      // and min(struct(...)) aggregate produce
      """WITH q AS (
           SELECT c_custkey AS query_id,
                  (c_custkey % 37) * CAST(0.01 AS DOUBLE) + CAST(0.002 AS DOUBLE) AS px,
                  (c_custkey % 23) * CAST(0.01 AS DOUBLE) + CAST(0.001 AS DOUBLE) AS py
           FROM customer),
         e AS (
           SELECT s_suppkey AS edge_id,
                  (s_suppkey % 37) * CAST(0.01 AS DOUBLE) AS ax,
                  (s_suppkey % 23) * CAST(0.01 AS DOUBLE) AS ay
           FROM supplier),
         seg AS (
           SELECT edge_id, 0 AS si, ax AS x1, ay AS y1,
                  ax + CAST(0.004 AS DOUBLE) AS x2, ay AS y2 FROM e
           UNION ALL
           SELECT edge_id, 1, ax + CAST(0.004 AS DOUBLE), ay,
                  ax + CAST(0.004 AS DOUBLE), ay + CAST(0.004 AS DOUBLE) FROM e),
         d AS (
           SELECT query_id, edge_id, si,
                  x2 - x1 AS dx, y2 - y1 AS dy,
                  (x2 - x1) * (x2 - x1) + (y2 - y1) * (y2 - y1) AS len2,
                  least(CAST(1.0 AS DOUBLE), greatest(CAST(0.0 AS DOUBLE),
                    ((px - x1) * (x2 - x1) + (py - y1) * (y2 - y1)) /
                      ((x2 - x1) * (x2 - x1) + (y2 - y1) * (y2 - y1)))) AS t,
                  px, py, x1, y1
           FROM q, seg),
         c AS (
           SELECT query_id, edge_id, si,
                  x1 + t * dx AS cx, y1 + t * dy AS cy,
                  (px - (x1 + t * dx)) * (px - (x1 + t * dx)) +
                  (py - (y1 + t * dy)) * (py - (y1 + t * dy)) AS d2
           FROM d),
         r AS (
           SELECT query_id, edge_id, d2, cx, cy,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY d2, edge_id, si) AS rn
           FROM c
           WHERE d2 <= CAST(0.015 AS DOUBLE) * CAST(0.015 AS DOUBLE))
         SELECT query_id, edge_id, round(d2, 12) AS d2,
                round(cx, 9) AS snap_x, round(cy, 9) AS snap_y
         FROM r WHERE rn = 1 ORDER BY query_id"""),

    // ---- F22 extension: ST_Simplify (Douglas–Peucker, native codegen'd
    //      expression). Per-nation triangle-wave polylines with exactly
    //      collinear filler vertices (integer/half-integer coords, all
    //      binary-exact): DP must keep precisely the corners — fillers
    //      sit at distance EXACTLY 0 from the corner-to-corner chords —
    //      and amplitude-0 ways collapse to their endpoints. The oracle
    //      states that closed-form expected vertex set directly; every
    //      coordinate is exact, so the compare is hash-exact.
    Query("q_geo_simplify", (s, dir) => {
      val ways = nation(s, dir).select(
        col("n_nationkey").cast("long").as("way_id"),
        (col("n_nationkey") % 3).cast("long").as("amp"))
      val line = transform(sequence(lit(0), lit(24)), x =>
        struct(x.cast("double").as("lon"),
          (((lit(4) - abs(x % 8 - 4)) * col("amp")).cast("double") / 2.0).as("lat")))
      ways.withColumn("s",
          functions.GraftFunctions.simplifyLine(line, eps = 0.5))
        .select(col("way_id"), posexplode(col("s")).as(Seq("pos", "v")))
        .select(col("way_id"), col("pos").cast("long").as("pos"),
          col("v.lon").as("lon"), col("v.lat").as("lat"))
        .orderBy("way_id", "pos")
    },
      // the DP expected answer in closed form: triangle-wave fillers are
      // EXACTLY collinear (distance 0 <= eps) so only corners survive,
      // and flat (amp=0) ways keep only their endpoints — the oracle
      // enumerates that vertex set directly, every coordinate exact
      """WITH w AS (SELECT CAST(n_nationkey AS BIGINT) AS way_id,
                           CAST(n_nationkey % 3 AS BIGINT) AS amp FROM nation),
            k AS (SELECT way_id, amp, unnest(range(0, 25)) AS x FROM w)
         SELECT way_id,
                CAST(CASE WHEN amp = 0 THEN CASE WHEN x = 0 THEN 0 ELSE 1 END
                          ELSE x // 4 END AS BIGINT) AS pos,
                CAST(x AS DOUBLE) AS lon,
                CAST((4 - abs(x % 8 - 4)) * amp AS DOUBLE) / 2.0 AS lat
         FROM k
         WHERE (amp = 0 AND x IN (0, 24)) OR (amp > 0 AND x % 4 = 0)
         ORDER BY way_id, pos"""),

    // ---- Polygon kernel: ST_Area + ST_Centroid (area-weighted) over
    //      per-nation star polygons built from customer points. All
    //      coordinates are INTEGER-valued doubles and the vertex order
    //      comes from the pseudo-angle (pure +,-,abs,÷ — IEEE-exact, no
    //      libm), so every intermediate is bit-portable across engines:
    //      shoelace sums are exact integers, centroid is one exact
    //      division — no rounding anywhere. The oracle rebuilds the
    //      same ring with window functions (lead + first_value closing
    //      edge) instead of an array fold — independent formulation,
    //      same math.
    Query("q_geo_polygon", (s, dir) => {
      val pts = customer(s, dir).select(
        col("c_nationkey").cast("long").as("nk"),
        col("c_custkey").as("k"),
        floor(col("c_acctbal")).cast("double").as("x"),
        (col("c_custkey") * 37 % 200).cast("double").as("y"))
      // center at quarter-fraction offsets from the bbox midpoint: never
      // coincides with an integer point (pseudoAngle 0/0 impossible) and
      // (min+max)/2 + 0.25 is exact in binary
      val ctr = pts.groupBy("nk").agg(
        ((min("x") + max("x")) / 2 + 0.25).as("cx"),
        ((min("y") + max("y")) / 2 + 0.25).as("cy"))
      val rings = pts.join(broadcast(ctr), "nk")
        .withColumn("pa", functions.Geo.pseudoAngle(
          col("x") - col("cx"), col("y") - col("cy")))
        .groupBy("nk")
        .agg(transform(
          array_sort(collect_list(struct(col("pa"), col("k"),
            struct(col("x").as("lon"), col("y").as("lat")).as("p")))),
          t => t.getField("p")).as("ring"))
      rings.select(col("nk").as("n_nationkey"),
          size(col("ring")).cast("long").as("nv"),
          functions.Geo.shoelaceSigned(col("ring")).as("s2"),
          functions.Geo.polygonCentroid(col("ring")).as("c"))
        .filter(col("nv") >= 3 && col("s2") =!= 0)
        .select(col("n_nationkey"), col("nv"),
          (abs(col("s2")) / 2).as("area"),
          col("c.lon").as("cx"), col("c.lat").as("cy"))
        .orderBy("n_nationkey")
    },
      // Window-function ring rebuild (lead + first_value closing edge) —
      // independent formulation of the same exact-integer shoelace math
      // the engine computes with an array fold. The pseudo-angle sort key
      // uses only +,-,abs,÷ (each IEEE-exactly-rounded), so both engines
      // order ring vertices identically; every shoelace term is an exact
      // integer, so sums match bit-for-bit regardless of addition order.
      """WITH pts AS (
           SELECT CAST(c_nationkey AS BIGINT) AS nk, c_custkey AS k,
                  CAST(floor(c_acctbal) AS DOUBLE) AS x,
                  CAST(c_custkey*37 % 200 AS DOUBLE) AS y
           FROM customer),
         ctr AS (
           SELECT nk, (min(x)+max(x))/2 + 0.25 AS cx,
                  (min(y)+max(y))/2 + 0.25 AS cy
           FROM pts GROUP BY nk),
         ang AS (
           SELECT p.nk, p.k, p.x, p.y,
             CASE WHEN p.x - c.cx >= 0
               THEN (p.y-c.cy)/(abs(p.x-c.cx)+abs(p.y-c.cy))
               ELSE 2.0 - (p.y-c.cy)/(abs(p.x-c.cx)+abs(p.y-c.cy)) END AS pa
           FROM pts p JOIN ctr c USING (nk)),
         edges AS (
           SELECT nk, x, y,
             coalesce(lead(x) OVER w, first_value(x) OVER w) AS xn,
             coalesce(lead(y) OVER w, first_value(y) OVER w) AS yn
           FROM ang
           WINDOW w AS (PARTITION BY nk ORDER BY pa, k
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)),
         sums AS (
           SELECT nk, count(*) AS nv,
             sum(x*yn - xn*y) AS s2,
             sum((x+xn)*(x*yn - xn*y)) AS sx,
             sum((y+yn)*(x*yn - xn*y)) AS sy
           FROM edges GROUP BY nk)
         SELECT nk AS n_nationkey, CAST(nv AS BIGINT) AS nv,
                abs(s2)/2 AS area, sx/(3*s2) AS cx, sy/(3*s2) AS cy
         FROM sums WHERE nv >= 3 AND s2 <> 0
         ORDER BY n_nationkey"""),

    // ---- Polygon kernel: ST_Contains by generic ray casting, graded
    //      against a STRUCTURALLY DIFFERENT oracle — half-plane tests
    //      (all edge crosses > 0) valid for this convex CCW pentagon.
    //      Quarter-fraction vertices vs integer test points make
    //      on-edge hits impossible (min |cross| = 2.5, verified), so
    //      the two algorithms must agree exactly.
    Query("q_geo_pip", (s, dir) => {
      val ring = array(
        Seq((10.25, 10.25), (90.25, 5.25), (95.25, 60.25),
          (50.25, 95.25), (5.25, 55.25)).map { case (a, b) =>
          struct(lit(a).as("lon"), lit(b).as("lat")) }: _*)
      customer(s, dir).select(col("c_mktsegment"),
          struct((col("c_custkey") * 7 % 100).cast("double").as("lon"),
            (col("c_custkey") * 13 % 100).cast("double").as("lat")).as("p"))
        .withColumn("inside", functions.Geo.containsPoint(ring, col("p")))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_pts"),
          sum(when(col("inside"), 1L).otherwise(0L)).as("n_inside"))
        .orderBy("c_mktsegment")
    },
      // Half-plane membership (all five edge crosses strictly positive,
      // valid for this convex CCW pentagon) vs the engine's generic ray
      // cast — structurally different point-in-polygon algorithms that
      // must agree exactly because on-edge hits are impossible (integer
      // test points vs quarter-fraction vertices; min |cross| = 2.5, far
      // above any rounding error).
      """WITH p AS (
           SELECT c_mktsegment,
                  CAST(c_custkey*7 % 100 AS DOUBLE) AS x,
                  CAST(c_custkey*13 % 100 AS DOUBLE) AS y
           FROM customer),
         t AS (
           SELECT c_mktsegment,
             ((90.25-10.25)*(y-10.25) - (5.25-10.25)*(x-10.25) > 0 AND
              (95.25-90.25)*(y-5.25)  - (60.25-5.25)*(x-90.25) > 0 AND
              (50.25-95.25)*(y-60.25) - (95.25-60.25)*(x-95.25) > 0 AND
              (5.25-50.25)*(y-95.25)  - (55.25-95.25)*(x-50.25) > 0 AND
              (10.25-5.25)*(y-55.25)  - (10.25-55.25)*(x-5.25)  > 0) AS inside
           FROM p)
         SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_pts,
                CAST(sum(CASE WHEN inside THEN 1 ELSE 0 END) AS BIGINT) AS n_inside
         FROM t GROUP BY c_mktsegment ORDER BY c_mktsegment"""),

    // ---- Polygon kernel: WKT text I/O round-trip through the driver
    //      gate — per-nation bbox ring → ST_AsText POLYGON string
    //      (closing vertex emitted), parsed back with parseWktPolygon,
    //      re-measured. The oracle builds the identical string by
    //      concatenation (Java and DuckDB print integer-valued doubles
    //      identically: "80.0") and computes the bbox area directly —
    //      if parse/asText dropped or reordered a vertex the area
    //      would not survive the round trip.
    Query("q_geo_wkt", (s, dir) => {
      val ext = customer(s, dir).select(
          col("c_nationkey").cast("long").as("nk"),
          struct(floor(col("c_acctbal")).cast("double").as("lon"),
            (col("c_custkey") * 37 % 200).cast("double").as("lat")).as("p"))
        .groupBy("nk").agg(functions.Geo.extentAgg(col("p")).as("e"))
      val mk = (lonF: String, latF: String) => struct(
        col("e").getField(lonF).as("lon"), col("e").getField(latF).as("lat"))
      val ring = array(
        mk("min_lon", "min_lat"), mk("max_lon", "min_lat"),
        mk("max_lon", "max_lat"), mk("min_lon", "max_lat"))
      ext.select(col("nk").as("n_nationkey"),
          functions.Geo.asTextPolygon(ring).as("wkt"))
        .withColumn("area_rt",
          functions.Geo.polygonArea(functions.Geo.parseWktPolygon(col("wkt"))))
        .orderBy("n_nationkey")
    },
      // Builds the identical POLYGON string by direct concatenation
      // (DuckDB and the JVM print integer-valued doubles the same way:
      // "80.0") and measures the bbox area directly — a dropped or
      // reordered vertex in asText/parse would break either column.
      """WITH pts AS (
           SELECT CAST(c_nationkey AS BIGINT) AS nk,
                  CAST(floor(c_acctbal) AS DOUBLE) AS x,
                  CAST(c_custkey*37 % 200 AS DOUBLE) AS y
           FROM customer),
         e AS (
           SELECT nk, min(x) AS x0, max(x) AS x1,
                  min(y) AS y0, max(y) AS y1
           FROM pts GROUP BY nk)
         SELECT nk AS n_nationkey,
           'POLYGON((' ||
             CAST(x0 AS VARCHAR) || ' ' || CAST(y0 AS VARCHAR) || ', ' ||
             CAST(x1 AS VARCHAR) || ' ' || CAST(y0 AS VARCHAR) || ', ' ||
             CAST(x1 AS VARCHAR) || ' ' || CAST(y1 AS VARCHAR) || ', ' ||
             CAST(x0 AS VARCHAR) || ' ' || CAST(y1 AS VARCHAR) || ', ' ||
             CAST(x0 AS VARCHAR) || ' ' || CAST(y0 AS VARCHAR) || '))' AS wkt,
           (x1-x0)*(y1-y0) AS area_rt
         FROM e ORDER BY n_nationkey"""),

    // ---- Points-in-polygons JOIN, grid-bucketed (the scale path of
    //      ST_Contains: one equi-join shuffle, never all-pairs): every
    //      customer point vs every nation's INSET bbox polygon
    //      (cross-nation containment, so the join genuinely fans out).
    //      Quarter-fraction polygon bounds vs integer points make
    //      on-edge hits impossible; the vertical-edge ray intersection
    //      is exact (x2-x1 = 0), so the generic ray cast must agree
    //      with the oracle's strict range check to the bit. Degenerate
    //      insets (bbox thinner than 2x10.25) are filtered on both
    //      sides — an inverted rectangle has no interior.
    Query("q_geo_pip_join", (s, dir) => {
      val pt = struct(floor(col("c_acctbal")).cast("double").as("lon"),
        (col("c_custkey") * 37 % 200).cast("double").as("lat"))
      val pts = customer(s, dir).select(col("c_custkey"), pt.as("p"))
      val ext = customer(s, dir)
        .select(col("c_nationkey").cast("long").as("nk"), pt.as("p"))
        .groupBy("nk").agg(functions.Geo.extentAgg(col("p")).as("e"))
        .filter(col("e.max_lon") - col("e.min_lon") > 20.5 &&
          col("e.max_lat") - col("e.min_lat") > 20.5)
      val ring = array(
        struct((col("e.min_lon") + 10.25).as("lon"), (col("e.min_lat") + 10.25).as("lat")),
        struct((col("e.max_lon") - 10.25).as("lon"), (col("e.min_lat") + 10.25).as("lat")),
        struct((col("e.max_lon") - 10.25).as("lon"), (col("e.max_lat") - 10.25).as("lat")),
        struct((col("e.min_lon") + 10.25).as("lon"), (col("e.max_lat") - 10.25).as("lat")))
      functions.Geo.containsJoin(pts, "c_custkey", col("p"),
          ext.select(col("nk"), ring.as("ring")), "nk", col("ring"),
          cellDeg = 50.0)
        .groupBy("nk").agg(count(lit(1)).as("n_inside"))
        .select(col("nk").as("n_nationkey"), col("n_inside"))
        .orderBy("n_nationkey")
    },
      // Strict range check against inset rectangles — structurally
      // different from the engine's grid-bucketed ray-cast join, but
      // exact-equal here: .25-fraction bounds vs integer points, and the
      // ray cast's vertical-edge intersection is exact (x2-x1 = 0).
      """WITH pts AS (
           SELECT c_custkey, CAST(floor(c_acctbal) AS DOUBLE) AS x,
                  CAST(c_custkey*37 % 200 AS DOUBLE) AS y,
                  CAST(c_nationkey AS BIGINT) AS nk
           FROM customer),
         e AS (
           SELECT nk, min(x) AS x0, max(x) AS x1,
                  min(y) AS y0, max(y) AS y1
           FROM pts GROUP BY nk),
         r AS (
           SELECT nk, x0+10.25 AS a, x1-10.25 AS b,
                  y0+10.25 AS c, y1-10.25 AS d
           FROM e WHERE x1-x0 > 20.5 AND y1-y0 > 20.5)
         SELECT r.nk AS n_nationkey, CAST(count(*) AS BIGINT) AS n_inside
         FROM r JOIN pts p
           ON p.x > r.a AND p.x < r.b AND p.y > r.c AND p.y < r.d
         GROUP BY r.nk ORDER BY r.nk"""),

    // ---- ST_ConvexHull native aggregate (TypedImperativeAggregate
    //      with O(hull) compacted state — a billion-point group ships
    //      hundreds of vertices between stages, not the group). Points
    //      ride a strictly convex parabola y = x² (so EVERY distinct
    //      point is a hull vertex and no three are collinear) plus
    //      decoy points at y = x²+5 proven strictly interior by the
    //      exact guard (x-x0)(x1-x) > 5 — if the hull ever kept a
    //      decoy, nv and area both break. The unsigned-free area
    //      (shoelace/2, no abs) also pins the CCW orientation contract.
    //      All coordinates integer-valued → every cross product and
    //      shoelace term is exact, bit-portable across engines.
    // ---- ST_Union AGGREGATE over polygons (coverage dissolve): shared
    //      boundaries cancel (one anti-join shuffle on (group, edge)),
    //      survivors re-stitch into shells+holes per group. Fixture is
    //      hand-computable (the DissolveSpec geometry): group 1 = two
    //      adjacent unit rects -> one 6-vertex shell; group 2 = the 3x3
    //      cell ring -> 12-vertex shell (area 9) + preserved CW hole
    //      (area -1). The oracle is the literal expected ring table —
    //      stitching is not SQL-expressible, so the fixture is chosen
    //      small enough to verify by hand (the q_s_ivf_ann policy);
    //      DissolveSpec carries the property tests (orientation/closure
    //      insensitivity, area conservation, pinch determinism).
    Query("q_geo_dissolve", (s, dir) => {
      import s.implicits._
      def rect(g: Long, x0: Double, y0: Double, x1: Double, y1: Double) =
        (g, Seq(osm.Point(x0, y0), osm.Point(x1, y0), osm.Point(x1, y1),
          osm.Point(x0, y1)))
      val cells = for {
        i <- 0 until 3; j <- 0 until 3 if !(i == 1 && j == 1)
      } yield rect(2L, i, j, i + 1, j + 1)
      val polys = (Seq(rect(1L, 0, 0, 1, 1), rect(1L, 1, 0, 2, 1)) ++ cells)
        .toDF("group_id", "ring")
      osm.Dissolve.dissolve(polys, "group_id", "ring")
        .select(col("group_id"), col("ring_id"), col("is_hole"),
          size(col("ring")).cast("long").as("n_pts"),
          round(col("area_signed"), 6).as("area_signed"),
          functions.Geo.asTextPolygon(col("ring")).as("wkt"))
        .orderBy("group_id", "ring_id")
    },
      // The hull of parabola-plus-strictly-interior-decoys is exactly the
      // distinct parabola points; the oracle never runs a hull at all —
      // it sorts the parabola points by x (the lower chain) and closes
      // with the chord, the CCW hull cycle by construction. Signed
      // shoelace (no abs) checks the engine's orientation contract too.
      // coverage dissolve: literal hand-computed ring table (stitching is
      // not SQL-expressible; DissolveSpec owns the property checks)
      """SELECT CAST(group_id AS BIGINT) AS group_id, ring_id, is_hole,
                CAST(n_pts AS BIGINT) AS n_pts,
                CAST(area_signed AS DOUBLE) AS area_signed, wkt
         FROM (VALUES
           (1, 1, false, 6, 2.0,
            'POLYGON((0.0 0.0, 1.0 0.0, 2.0 0.0, 2.0 1.0, 1.0 1.0, 0.0 1.0, 0.0 0.0))'),
           (2, 1, false, 12, 9.0,
            'POLYGON((0.0 0.0, 1.0 0.0, 2.0 0.0, 3.0 0.0, 3.0 1.0, 3.0 2.0, 3.0 3.0, 2.0 3.0, 1.0 3.0, 0.0 3.0, 0.0 2.0, 0.0 1.0, 0.0 0.0))'),
           (2, 2, true, 4, -1.0,
            'POLYGON((1.0 1.0, 1.0 2.0, 2.0 2.0, 2.0 1.0, 1.0 1.0))'))
           AS t(group_id, ring_id, is_hole, n_pts, area_signed, wkt)
         ORDER BY group_id, ring_id"""),

    // ---- ST_Difference / ST_SymDifference (general, concave-capable):
    //      triangulate both rings, fold convex-minus-triangle over the
    //      subject pieces — hand-computable fixture areas, scan-local
    //      per-row expressions (no join, no shuffle beyond the sort)
    Query("q_geo_difference", (s, dir) => {
      import s.implicits._
      def ring(pts: (Double, Double)*): Seq[osm.Point] =
        pts.map { case (x, y) => osm.Point(x, y) }
      val square = ring((0, 0), (4, 0), (4, 4), (0, 4))
      val inner = ring((1, 1), (3, 1), (3, 3), (1, 3))
      val corner = ring((2, 2), (6, 2), (6, 6), (2, 6))
      val far = ring((10, 10), (12, 10), (12, 12), (10, 12))
      val lShape = ring((0, 0), (4, 0), (4, 2), (2, 2), (2, 4), (0, 4))
      val strip = ring((2, -1), (5, -1), (5, 5), (2, 5))
      val shifted = ring((1, 0), (5, 0), (5, 4), (1, 4))
      val cases = Seq(
        (1L, square, inner),   // hole carved: 16−4, sym 12+0
        (2L, square, corner),  // corner overlap 2×2: 12, sym 24
        (3L, square, far),     // disjoint: 16, sym 16+4
        (4L, inner, square),   // contained: 0, sym 12
        (5L, square, lShape),  // concave CLIP (L⊂square): 4, sym 4
        (6L, lShape, strip),   // concave SUBJECT: left column 8, sym 22
        (7L, square, shifted)  // unit shift: 4, sym 8
      ).toDF("case_id", "subject", "clip")
      cases.select(col("case_id"),
          round(Geo.differenceArea(col("subject"), col("clip")), 6)
            .as("diff_area"),
          round(Geo.symmetricDifferenceArea(col("subject"), col("clip")), 6)
            .as("sym_area"))
        .orderBy("case_id")
    },
      // general polygon difference: closed-form fixture areas (the
      // q_geo_dissolve policy — geometry fixtures hand-computable)
      """SELECT CAST(case_id AS BIGINT) AS case_id,
                CAST(diff_area AS DOUBLE) AS diff_area,
                CAST(sym_area AS DOUBLE) AS sym_area
         FROM (VALUES
           (1, 12.0, 12.0), (2, 12.0, 24.0), (3, 16.0, 20.0),
           (4, 0.0, 12.0), (5, 4.0, 4.0), (6, 8.0, 22.0), (7, 4.0, 8.0))
           AS t(case_id, diff_area, sym_area)
         ORDER BY case_id"""),

    // ---- ST_Buffer (convex, round joins): per-nation synthetic bbox
    //      buffered by r=2.5 at quad_segs=4 — 4 offset edges + 4
    //      quarter arcs, 20 ring points per nation. Trig parity with
    //      DuckDB holds at round-6 (the q_geo_transform policy); the
    //      `+ 0.0` normalizes -0.0 from near-zero cosines so the hash
    //      compare can't split on the zero sign.
    Query("q_geo_buffer", (s, dir) => {
      val base = customer(s, dir).select(
        col("c_nationkey").cast("long").as("nk"),
        (col("c_custkey") % 50).cast("double").as("x"),
        ((col("c_custkey") * 7) % 31).cast("double").as("y"))
      val bbox = base.groupBy("nk").agg(min("x").as("x0"), max("x").as("x1"),
          min("y").as("y0"), max("y").as("y1"))
        .filter(col("x1") > col("x0") && col("y1") > col("y0"))
      val ring = array(
        struct(col("x0").as("lon"), col("y0").as("lat")),
        struct(col("x1").as("lon"), col("y0").as("lat")),
        struct(col("x1").as("lon"), col("y1").as("lat")),
        struct(col("x0").as("lon"), col("y1").as("lat")))
      bbox.select(col("nk"),
          posexplode(functions.Geo.bufferConvex(ring, 2.5, quadSegs = 4))
            .as(Seq("pt_seq", "p")))
        .select(col("nk"), col("pt_seq").cast("long").as("pt_seq"),
          (round(col("p.lon"), 6) + 0.0).as("lon"),
          (round(col("p.lat"), 6) + 0.0).as("lat"))
        .orderBy("nk", "pt_seq")
    },
      // ST_Buffer re-derived: same bbox; an axis-aligned CCW rectangle's
      // vertex i sweeps its quarter arc from normal angle pi + i*pi/2
      // (the closed form of the engine's atan2 normals), 4 steps each
      """WITH base AS (
           SELECT CAST(c_nationkey AS BIGINT) AS nk,
                  CAST(c_custkey % 50 AS DOUBLE) AS x,
                  CAST((c_custkey * 7) % 31 AS DOUBLE) AS y
           FROM customer),
         bbox AS (
           SELECT nk, min(x) AS x0, max(x) AS x1,
                  min(y) AS y0, max(y) AS y1
           FROM base GROUP BY nk
           HAVING max(x) > min(x) AND max(y) > min(y)),
         pts AS (
           SELECT nk,
                  CAST(i.range * 5 + j.range AS BIGINT) AS pt_seq,
                  CASE i.range WHEN 0 THEN x0 WHEN 1 THEN x1
                               WHEN 2 THEN x1 ELSE x0 END AS cx,
                  CASE i.range WHEN 0 THEN y0 WHEN 1 THEN y0
                               WHEN 2 THEN y1 ELSE y1 END AS cy,
                  pi() + i.range * pi()/2 + j.range * pi()/8 AS ang
           FROM bbox, range(4) i, range(5) j)
         SELECT nk, pt_seq,
                round(cx + 2.5 * cos(ang), 6) + 0.0 AS lon,
                round(cy + 2.5 * sin(ang), 6) + 0.0 AS lat
         FROM pts ORDER BY nk, pt_seq"""),

    Query("q_geo_hull", (s, dir) => {
      val base = customer(s, dir).select(
        col("c_nationkey").cast("long").as("nk"),
        col("c_custkey").as("k"),
        (col("c_custkey") % 50).cast("double").as("x"))
      val mm = base.groupBy("nk").agg(min("x").as("x0"), max("x").as("x1"))
      val onCurve = base.select(col("nk"), col("x"),
        (col("x") * col("x")).as("y"))
      val decoys = base.join(broadcast(mm), "nk")
        .filter(col("k") % 3 === 0 &&
          (col("x") - col("x0")) * (col("x1") - col("x")) > 5)
        .select(col("nk"), col("x"), (col("x") * col("x") + 5).as("y"))
      onCurve.unionByName(decoys)
        .groupBy("nk")
        .agg(GF.convexHull(struct(col("x").as("lon"), col("y").as("lat"))).as("ring"))
        .select(col("nk").as("n_nationkey"),
          size(col("ring")).cast("long").as("nv"),
          (Geo.shoelaceSigned(col("ring")) / 2).as("area"))
        .orderBy("n_nationkey")
    },
      """WITH pts AS (
           SELECT DISTINCT CAST(c_nationkey AS BIGINT) AS nk,
                  CAST(c_custkey % 50 AS DOUBLE) AS x
           FROM customer),
         hp AS (SELECT nk, x, x*x AS y FROM pts),
         edges AS (
           SELECT nk, x, y,
             coalesce(lead(x) OVER w, first_value(x) OVER w) AS xn,
             coalesce(lead(y) OVER w, first_value(y) OVER w) AS yn
           FROM hp
           WINDOW w AS (PARTITION BY nk ORDER BY x
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
         SELECT nk AS n_nationkey, CAST(count(*) AS BIGINT) AS nv,
                sum(x*yn - xn*y)/2 AS area
         FROM edges GROUP BY nk ORDER BY n_nationkey"""),

    // ---- ST_Intersection(polygon, polygon) via Sutherland–Hodgman
    //      convex clip: the [0,4]² subject square against (1) an
    //      overlapping axis rectangle and (2) a CW-wound diamond whose
    //      edges shave all four corners — auto-orientation must fix the
    //      winding, and every intersection vertex lands on integer
    //      coordinates, so WKT + shoelace area are bit-exact.
    Query("q_geo_clip_poly", (s, dir) => {
      import s.implicits._
      def ring(pts: (Double, Double)*) = array(pts.map { case (x, y) =>
        struct(lit(x).as("lon"), lit(y).as("lat")) }: _*)
      val subject = ring((0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (0.0, 4.0))
      Seq(1L, 2L).toDF("case_id")
        .withColumn("clip", when(col("case_id") === 1,
            ring((1.0, 1.0), (6.0, 1.0), (6.0, 3.0), (1.0, 3.0)))
          .otherwise( // CW diamond |x-2|+|y-2| <= 3
            ring((2.0, -1.0), (-1.0, 2.0), (2.0, 5.0), (5.0, 2.0))))
        .withColumn("out", Geo.convexClip(subject, col("clip")))
        .select(col("case_id"),
          size(col("out")).cast("long").as("nv"),
          (Geo.shoelaceSigned(col("out")) / 2).as("area"),
          Geo.asTextPolygon(col("out")).as("wkt"))
        .orderBy("case_id")
    },
      // Sutherland–Hodgman clip vs the HAND-COMPUTED intersection
      // geometry (stated literally, the q_osm_snap_pois precedent): the
      // rect case is the axis overlap; the diamond |x-2|+|y-2|<=3 shaves
      // a 0.5-area corner triangle off each square corner -> octagon,
      // area 16 - 4*0.5 = 14, every vertex integer-exact
      """SELECT CAST(case_id AS BIGINT) AS case_id, CAST(nv AS BIGINT) AS nv,
                CAST(area AS DOUBLE) AS area, wkt
         FROM (VALUES
           (1, 4, 6.0,
            'POLYGON((1.0 1.0, 4.0 1.0, 4.0 3.0, 1.0 3.0, 1.0 1.0))'),
           (2, 8, 14.0,
            'POLYGON((1.0 4.0, 0.0 3.0, 0.0 1.0, 1.0 0.0, 3.0 0.0, 4.0 1.0, 4.0 3.0, 3.0 4.0, 1.0 4.0))'))
           AS v(case_id, nv, area, wkt)
         ORDER BY case_id"""),

    // ---- F22 general (concave-capable) ST_Intersection area
    //      (osm-road-graphs-fix.sql:96 is geometry-typed ST_Intersection
    //      + ST_Dump): ear-triangulate the clip, convexClip per
    //      triangle, sum piece areas. Hand-computed fixtures: an
    //      L-shape clipped by a square (4.0), a U-shape by a band
    //      (2.0, DISCONNECTED result), disjoint (0.0), and
    //      concave-subject x concave-clip L∩U (1.0).
    Query("q_geo_concave_clip", (s, dir) => {
      import s.implicits._
      def ring(pts: (Double, Double)*) = array(pts.map { case (x, y) =>
        struct(lit(x).as("lon"), lit(y).as("lat")) }: _*)
      val square = ring((0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (0.0, 4.0))
      val band = ring((0.0, 2.0), (3.0, 2.0), (3.0, 3.0), (0.0, 3.0))
      val ell = ring((1.0, 1.0), (3.0, 1.0), (3.0, 2.0), (2.0, 2.0),
        (2.0, 5.0), (1.0, 5.0))
      val ellFar = ring((11.0, 1.0), (13.0, 1.0), (13.0, 2.0),
        (12.0, 2.0), (12.0, 5.0), (11.0, 5.0))
      val u = ring((0.0, 0.0), (3.0, 0.0), (3.0, 3.0), (2.0, 3.0),
        (2.0, 1.0), (1.0, 1.0), (1.0, 3.0), (0.0, 3.0))
      Seq(1L, 2L, 3L, 4L).toDF("case_id")
        .withColumn("subject", when(col("case_id") === 2, band)
          .when(col("case_id") === 4, ell).otherwise(square))
        .withColumn("clip", when(col("case_id") === 1, ell)
          .when(col("case_id") === 2, u)
          .when(col("case_id") === 3, ellFar)
          .otherwise(u))
        .select(col("case_id"),
          round(Geo.intersectionArea(col("subject"), col("clip")), 6)
            .as("area"),
          size(functions.GraftFunctions.earTriangulate(col("clip")))
            .cast("long").as("n_tris"))
        .orderBy("case_id")
    },
      // hand-computed intersection areas (see the query comment); n_tris
      // is n-2 for a simple ring with no collinear vertices
      """SELECT * FROM (VALUES
           (CAST(1 AS BIGINT), CAST(4.0 AS DOUBLE), CAST(4 AS BIGINT)),
           (2, 2.0, 6),
           (3, 0.0, 4),
           (4, 1.0, 6))
           AS v(case_id, area, n_tris)
         ORDER BY case_id"""),
  )
}
