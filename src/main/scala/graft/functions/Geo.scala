package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Minimal geometry kernel (SURVEY §2.8 F22) over the engine's geometry
  * model: points are `STRUCT<lon: DOUBLE, lat: DOUBLE>`, linestrings are
  * `ARRAY<STRUCT<lon,lat>>` (SRID 4326 by convention).
  *
  * Everything is a composition of codegen'd built-in higher-order
  * functions (`zip_with`, `aggregate`, `transform`) — no UDFs, so the
  * whole kernel stays inside whole-stage codegen and is distributable
  * by construction.
  *
  * Length semantics: the reference mixes planar meters
  * (ST_Length(ST_Transform(g,3347)), osm-road-graphs.sql:11) and
  * geodesic km (ST_Length(g::geography)/1000, osm-road-graphs.sql:156).
  * Geodesic (haversine, WGS84 mean radius) meters is the default; for
  * users who need reference-exact planar numbers, [[lccProject]] /
  * [[planarLengthMeters]] implement the actual ST_Transform target —
  * Lambert Conformal Conic 2SP with the EPSG:3347 parameters (Snyder,
  * USGS Professional Paper 1395, eqs. 15-1..15-10) — as pure column
  * arithmetic. [[stTransform]] generalizes this to the CRS families OSM
  * tooling actually reaches for — 4326, 3857 Web Mercator, 3347, and
  * all 120 WGS84 UTM zones (Snyder TM, eqs. 8-9..8-13) — still as pure
  * codegen'd column trig; a PROJ-grade arbitrary-datum pipeline stays
  * out of scope (SURVEY §7.4-3).
  */
object Geo {
  /** WGS84 mean Earth radius in meters (IUGG R1). */
  val EarthRadiusM = 6371008.8

  /** Haversine great-circle distance in meters between two lon/lat pairs. */
  def haversineMeters(lon1: Column, lat1: Column, lon2: Column, lat2: Column): Column = {
    val dLat = radians(lat2 - lat1)
    val dLon = radians(lon2 - lon1)
    val a = pow(sin(dLat / 2), 2) +
      cos(radians(lat1)) * cos(radians(lat2)) * pow(sin(dLon / 2), 2)
    lit(2 * EarthRadiusM) * asin(sqrt(a))
  }

  /** Geodesic length in meters of a linestring column — replaces both
    * ST_Length variants (F22). Sum of consecutive-vertex haversine
    * distances via zip_with over the line shifted against itself.
    */
  def geodesicLengthMeters(line: Column): Column = {
    val n1 = greatest(size(line) - 1, lit(0))
    val segs = zip_with(
      slice(line, lit(1), n1),
      slice(line, lit(2), n1),
      (a, b) =>
        haversineMeters(a.getField("lon"), a.getField("lat"),
          b.getField("lon"), b.getField("lat")))
    aggregate(segs, lit(0.0), (acc, x) => acc + x)
  }

  def geodesicLengthKm(line: Column): Column = geodesicLengthMeters(line) / 1000.0

  /** ST_AsText for a point (osm-road-graphs.sql:59). */
  def asTextPoint(p: Column): Column =
    concat(lit("POINT("), p.getField("lon").cast("string"), lit(" "),
      p.getField("lat").cast("string"), lit(")"))

  /** ST_AsText for a linestring. */
  def asTextLine(line: Column): Column =
    concat(lit("LINESTRING("),
      array_join(transform(line, p =>
        concat(p.getField("lon").cast("string"), lit(" "),
          p.getField("lat").cast("string"))), ", "),
      lit(")"))

  /** ST_NumGeometries analog for our multi-point/line arrays (F22). */
  def numGeometries(g: Column): Column = size(g)

  /** A8: ST_Union/ST_Multi over points — in our model a multipoint IS
    * the deduplicated collected array (osm-road-graphs-fix.sql:83,94).
    * Aggregate function: use inside agg(). */
  def collectMultiPoint(p: Column): Column =
    array_distinct(collect_list(p))

  /** ST_AsText for a multipoint (our sorted-distinct point array). */
  def asTextMultiPoint(pts: Column): Column =
    concat(lit("MULTIPOINT("),
      array_join(transform(pts, p =>
        concat(p.getField("lon").cast("string"), lit(" "),
          p.getField("lat").cast("string"))), ", "),
      lit(")"))

  /** F22 ST_Intersection of two vertex sets (the blade computation,
    * osm-road-graphs-fix.sql:96): shared points of two lines. */
  def sharedPoints(a: Column, b: Column): Column =
    array_intersect(array_distinct(a), array_distinct(b))


  /** Lambert Conformal Conic 2SP parameters (ellipsoid semi-major `a`,
    * eccentricity `e`, standard parallels, false origin, false
    * easting/northing — all from the public EPSG registry entry). */
  final case class LccParams(a: Double, e: Double,
      sp1Deg: Double, sp2Deg: Double, lat0Deg: Double, lon0Deg: Double,
      falseEasting: Double, falseNorthing: Double)

  /** EPSG:3347 — NAD83 / Statistics Canada Lambert, the planar CRS the
    * reference transforms to for meter lengths (osm-road-graphs.sql:11).
    * GRS80: a=6378137, 1/f=298.257222101 -> e=sqrt(2f-f^2). */
  val Epsg3347: LccParams = {
    val f = 1.0 / 298.257222101
    LccParams(a = 6378137.0, e = math.sqrt(2 * f - f * f),
      sp1Deg = 49.0, sp2Deg = 77.0, lat0Deg = 63.390675,
      lon0Deg = -91.86666666666667,
      falseEasting = 6200000.0, falseNorthing = 3000000.0)
  }

  /** ST_Transform(p, <LCC CRS>): project a lon/lat point to planar
    * x/y meters. The projection CONSTANTS (n, F, rho0 — functions of
    * the CRS only) fold on the driver; the per-point math is four
    * codegen'd trig expressions, so this scans like any other column
    * op. Snyder eqs. 15-1..15-10 (public domain USGS manual). */
  def lccProject(p: Column, prm: LccParams = Epsg3347): Column = {
    import math.{cos => mcos, log => mlog, pow => mpow, sin => msin, sqrt => msqrt, tan => mtan}
    val e = prm.e
    def mScalar(phi: Double) = mcos(phi) / msqrt(1 - e * e * msin(phi) * msin(phi))
    def tScalar(phi: Double) =
      mtan(Math.PI / 4 - phi / 2) *
        mpow((1 + e * msin(phi)) / (1 - e * msin(phi)), e / 2)
    val phi1 = math.toRadians(prm.sp1Deg); val phi2 = math.toRadians(prm.sp2Deg)
    val phi0 = math.toRadians(prm.lat0Deg)
    val n = (mlog(mScalar(phi1)) - mlog(mScalar(phi2))) /
      (mlog(tScalar(phi1)) - mlog(tScalar(phi2)))
    val bigF = mScalar(phi1) / (n * mpow(tScalar(phi1), n))
    val rho0 = prm.a * bigF * mpow(tScalar(phi0), n)

    val phi = radians(p.getField("lat"))
    val tCol = tan(lit(Math.PI / 4) - phi / 2) *
      pow((lit(1.0) + lit(e) * sin(phi)) / (lit(1.0) - lit(e) * sin(phi)), e / 2)
    val rho = lit(prm.a * bigF) * pow(tCol, n)
    val theta = lit(n) * radians(p.getField("lon") - lit(prm.lon0Deg))
    struct(
      (lit(prm.falseEasting) + rho * sin(theta)).as("x"),
      (lit(prm.falseNorthing) + lit(rho0) - rho * cos(theta)).as("y"))
  }

  /** Planar (ST_Transform + ST_Length) linestring length in meters:
    * project every vertex, sum Euclidean segment lengths. The
    * reference-exact twin of [[geodesicLengthMeters]] for pipelines
    * ported verbatim from osm-road-graphs.sql:11. */
  def planarLengthMeters(line: Column, prm: LccParams = Epsg3347): Column = {
    val proj = transform(line, p => lccProject(p, prm))
    val n1 = greatest(size(proj) - 1, lit(0))
    val segs = zip_with(
      slice(proj, lit(1), n1),
      slice(proj, lit(2), n1),
      (a, b) => sqrt(
        pow(b.getField("x") - a.getField("x"), 2) +
          pow(b.getField("y") - a.getField("y"), 2)))
    aggregate(segs, lit(0.0), (acc, x) => acc + x)
  }

  /** Transverse Mercator parameters (the projection family behind every
    * UTM zone). Same style as [[LccParams]]: ellipsoid + CRS constants,
    * folded on the driver. */
  final case class TmParams(a: Double, e2: Double, k0: Double,
      lat0Deg: Double, lon0Deg: Double,
      falseEasting: Double, falseNorthing: Double)

  /** WGS84 UTM zone parameters — EPSG:326zz (north) / 327zz (south).
    * a=6378137, 1/f=298.257223563, k0=0.9996, central meridian
    * -183 + 6·zone, FE 500 km, FN 0 / 10000 km. */
  def utmParams(zone: Int, north: Boolean): TmParams = {
    require(zone >= 1 && zone <= 60, s"UTM zone $zone out of 1..60")
    val f = 1.0 / 298.257223563
    TmParams(a = 6378137.0, e2 = 2 * f - f * f, k0 = 0.9996,
      lat0Deg = 0.0, lon0Deg = -183.0 + 6.0 * zone,
      falseEasting = 500000.0,
      falseNorthing = if (north) 0.0 else 10000000.0)
  }

  /** ST_Transform(p, <TM CRS>): Transverse Mercator forward projection
    * (Snyder, USGS PP 1395, eqs. 8-9..8-13 — public domain). All
    * CRS-only constants (e'², the meridian-arc series coefficients,
    * M0) fold on the driver; the per-point math is codegen'd trig on
    * the lat/lon columns, so a projection of 10^11 points is a plain
    * scan like [[lccProject]]. Accuracy is the standard series bound
    * (< 1 mm inside the zone's ±3° span). */
  def tmProject(p: Column, prm: TmParams): Column = {
    val e2 = prm.e2
    val ep2 = e2 / (1 - e2) // e'²
    // meridian-arc series coefficients (Snyder 3-21)
    val c0 = 1 - e2 / 4 - 3 * e2 * e2 / 64 - 5 * e2 * e2 * e2 / 256
    val c2 = 3 * e2 / 8 + 3 * e2 * e2 / 32 + 45 * e2 * e2 * e2 / 1024
    val c4 = 15 * e2 * e2 / 256 + 45 * e2 * e2 * e2 / 1024
    val c6 = 35 * e2 * e2 * e2 / 3072
    def mScalar(phi: Double): Double =
      prm.a * (c0 * phi - c2 * math.sin(2 * phi) +
        c4 * math.sin(4 * phi) - c6 * math.sin(6 * phi))
    val m0 = mScalar(math.toRadians(prm.lat0Deg))

    val phi = radians(p.getField("lat"))
    val sinPhi = sin(phi); val cosPhi = cos(phi); val tanPhi = tan(phi)
    val bigN = lit(prm.a) / sqrt(lit(1.0) - lit(e2) * sinPhi * sinPhi)
    val bigT = tanPhi * tanPhi
    val bigC = lit(ep2) * cosPhi * cosPhi
    val bigA = radians(p.getField("lon") - lit(prm.lon0Deg)) * cosPhi
    val bigM = lit(prm.a) * (lit(c0) * phi - lit(c2) * sin(phi * 2) +
      lit(c4) * sin(phi * 4) - lit(c6) * sin(phi * 6))
    val a2 = bigA * bigA
    val x = lit(prm.falseEasting) + lit(prm.k0) * bigN * (bigA +
      (lit(1.0) - bigT + bigC) * bigA * a2 / 6 +
      (lit(5.0) - lit(18.0) * bigT + bigT * bigT + lit(72.0) * bigC -
        lit(58.0 * ep2)) * bigA * a2 * a2 / 120)
    val y = lit(prm.falseNorthing) + lit(prm.k0) * (bigM - lit(m0) +
      bigN * tanPhi * (a2 / 2 +
        (lit(5.0) - bigT + lit(9.0) * bigC + lit(4.0) * bigC * bigC) *
          a2 * a2 / 24 +
        (lit(61.0) - lit(58.0) * bigT + bigT * bigT + lit(600.0) * bigC -
          lit(330.0 * ep2)) * a2 * a2 * a2 / 720))
    struct(x.as("x"), y.as("y"))
  }

  /** Transverse Mercator inverse (Snyder PP 1395, eqs. 8-16..8-25 with
    * the footpoint-latitude series 3-26): `{x,y} -> {lon,lat}` — the
    * exact partner of [[tmProject]] to series accuracy (<1e-9° inside
    * the zone, round-trip spec-pinned). Same shape as the forward:
    * CRS constants fold on the driver, per-point math is codegen'd
    * column trig. */
  def tmInverse(xy: Column, prm: TmParams): Column = {
    val e2 = prm.e2
    val ep2 = e2 / (1 - e2)
    val c0 = 1 - e2 / 4 - 3 * e2 * e2 / 64 - 5 * e2 * e2 * e2 / 256
    val c2 = 3 * e2 / 8 + 3 * e2 * e2 / 32 + 45 * e2 * e2 * e2 / 1024
    val c4 = 15 * e2 * e2 / 256 + 45 * e2 * e2 * e2 / 1024
    val c6 = 35 * e2 * e2 * e2 / 3072
    def mScalar(phi: Double): Double =
      prm.a * (c0 * phi - c2 * math.sin(2 * phi) +
        c4 * math.sin(4 * phi) - c6 * math.sin(6 * phi))
    val m0 = mScalar(math.toRadians(prm.lat0Deg))
    val e1 = (1 - math.sqrt(1 - e2)) / (1 + math.sqrt(1 - e2))
    val j2 = 3 * e1 / 2 - 27 * e1 * e1 * e1 / 32
    val j4 = 21 * e1 * e1 / 16 - 55 * e1 * e1 * e1 * e1 / 32
    val j6 = 151 * e1 * e1 * e1 / 96
    val j8 = 1097 * e1 * e1 * e1 * e1 / 512

    val mu = (lit(m0) + (xy.getField("y") - lit(prm.falseNorthing)) / prm.k0) /
      lit(prm.a * c0)
    val phi1 = mu + lit(j2) * sin(mu * 2) + lit(j4) * sin(mu * 4) +
      lit(j6) * sin(mu * 6) + lit(j8) * sin(mu * 8)
    val sin1 = sin(phi1); val cos1 = cos(phi1); val tan1 = tan(phi1)
    val c1c = lit(ep2) * cos1 * cos1
    val t1c = tan1 * tan1
    val n1 = lit(prm.a) / sqrt(lit(1.0) - lit(e2) * sin1 * sin1)
    val r1 = lit(prm.a * (1 - e2)) /
      pow(lit(1.0) - lit(e2) * sin1 * sin1, 1.5)
    val d = (xy.getField("x") - lit(prm.falseEasting)) / (n1 * prm.k0)
    val d2 = d * d
    val phi = phi1 - (n1 * tan1 / r1) * (d2 / 2 -
      (lit(5.0) + lit(3.0) * t1c + lit(10.0) * c1c - lit(4.0) * c1c * c1c -
        lit(9.0 * ep2)) * d2 * d2 / 24 +
      (lit(61.0) + lit(90.0) * t1c + lit(298.0) * c1c +
        lit(45.0) * t1c * t1c - lit(252.0 * ep2) -
        lit(3.0) * c1c * c1c) * d2 * d2 * d2 / 720)
    val lam = lit(math.toRadians(prm.lon0Deg)) + (d -
      (lit(1.0) + lit(2.0) * t1c + c1c) * d * d2 / 6 +
      (lit(5.0) - lit(2.0) * c1c + lit(28.0) * t1c -
        lit(3.0) * c1c * c1c + lit(8.0 * ep2) +
        lit(24.0) * t1c * t1c) * d * d2 * d2 / 120) / cos1
    struct(degrees(lam).as("lon"), degrees(phi).as("lat"))
  }

  /** Lambert Conformal Conic inverse (Snyder 15-9..15-11; φ from t by
    * the fixed-point iteration 7-9, unrolled to 6 applications — it
    * converges quadratically, 6 is <1e-12 rad for |φ|<89°). Partner of
    * [[lccProject]]. */
  def lccInverse(xy: Column, prm: LccParams = Epsg3347): Column = {
    import math.{cos => mcos, log => mlog, pow => mpow, sin => msin, sqrt => msqrt, tan => mtan}
    val e = prm.e
    def mScalar(phi: Double) = mcos(phi) / msqrt(1 - e * e * msin(phi) * msin(phi))
    def tScalar(phi: Double) =
      mtan(Math.PI / 4 - phi / 2) *
        mpow((1 + e * msin(phi)) / (1 - e * msin(phi)), e / 2)
    val phi1 = math.toRadians(prm.sp1Deg); val phi2 = math.toRadians(prm.sp2Deg)
    val phi0 = math.toRadians(prm.lat0Deg)
    val n = (mlog(mScalar(phi1)) - mlog(mScalar(phi2))) /
      (mlog(tScalar(phi1)) - mlog(tScalar(phi2)))
    val bigF = mScalar(phi1) / (n * mpow(tScalar(phi1), n))
    val rho0 = prm.a * bigF * mpow(tScalar(phi0), n)

    val dx = xy.getField("x") - lit(prm.falseEasting)
    val dy = lit(rho0) - (xy.getField("y") - lit(prm.falseNorthing))
    val rho = lit(if (n >= 0) 1.0 else -1.0) * sqrt(dx * dx + dy * dy)
    val t = pow(rho / lit(prm.a * bigF), 1.0 / n)
    val theta = atan2(dx, dy) // sign-safe for n > 0 (both EPSG:3347 SPs north)
    val lam = theta / n + lit(math.toRadians(prm.lon0Deg))
    // φ = π/2 − 2 atan(t ((1−e sinφ)/(1+e sinφ))^(e/2)), seeded with
    // the spherical solution; 6 unrolled rounds
    var phi: Column = lit(Math.PI / 2) - atan(t) * 2
    for (_ <- 1 to 6) {
      phi = lit(Math.PI / 2) - atan(t *
        pow((lit(1.0) - lit(e) * sin(phi)) / (lit(1.0) + lit(e) * sin(phi)),
          e / 2)) * 2
    }
    struct(degrees(lam).as("lon"), degrees(phi).as("lat"))
  }

  /** Inverse partner of [[stTransform]]: `{x,y} -> {lon,lat}` for the
    * same SRID families. */
  def stTransformInverse(xy: Column, srid: Int): Column = srid match {
    case 4326 =>
      struct(xy.getField("x").as("lon"), xy.getField("y").as("lat"))
    case 3857 => webMercatorInverse(xy)
    case 3347 => lccInverse(xy)
    case z if z >= 32601 && z <= 32660 =>
      tmInverse(xy, utmParams(z - 32600, north = true))
    case z if z >= 32701 && z <= 32760 =>
      tmInverse(xy, utmParams(z - 32700, north = false))
    case other => throw new IllegalArgumentException(
      s"ST_Transform inverse: unsupported SRID $other " +
        "(supported: 4326, 3857, 3347, 32601-32660, 32701-32760)")
  }

  /** EPSG:3857 Web Mercator forward — the tile-pyramid CRS
    * (spherical: x = a·λ, y = a·ln tan(π/4 + φ/2)). */
  def webMercator(p: Column): Column = {
    val a = 6378137.0
    struct(
      (lit(a) * radians(p.getField("lon"))).as("x"),
      (lit(a) * log(tan(lit(Math.PI / 4) + radians(p.getField("lat")) / 2)))
        .as("y"))
  }

  /** EPSG:3857 inverse — closed form, the exact round-trip of
    * [[webMercator]]. */
  def webMercatorInverse(xy: Column): Column = {
    val a = 6378137.0
    struct(
      degrees(xy.getField("x") / a).as("lon"),
      degrees(atan(exp(xy.getField("y") / lit(a))) * 2 - lit(Math.PI / 2))
        .as("lat"))
  }

  /** General `ST_Transform(geom, srid)` dispatcher over the supported
    * CRS families: 4326 (identity), 3857 (Web Mercator), 3347 (the
    * reference's StatCan Lambert, osm-road-graphs.sql:11), and all 120
    * WGS84 UTM zones (EPSG:32601-32660 north / 32701-32760 south).
    * This covers the projections OSM tooling reaches for in practice;
    * an unknown SRID fails fast at PLAN time (driver-side), not per
    * row. */
  def stTransform(p: Column, srid: Int): Column = srid match {
    case 4326 =>
      struct(p.getField("lon").as("x"), p.getField("lat").as("y"))
    case 3857 => webMercator(p)
    case 3347 => lccProject(p)
    case z if z >= 32601 && z <= 32660 =>
      tmProject(p, utmParams(z - 32600, north = true))
    case z if z >= 32701 && z <= 32760 =>
      tmProject(p, utmParams(z - 32700, north = false))
    case other => throw new IllegalArgumentException(
      s"ST_Transform: unsupported SRID $other " +
        "(supported: 4326, 3857, 3347, 32601-32660, 32701-32760)")
  }

  /** Grid cell id for a point at the given cell size (degrees) — the
    * scale path for the spatial theta self-join J7: equi-join on cell,
    * then exact predicate, instead of the all-pairs ST_Touches join the
    * reference itself flags as "Does not work with large maps"
    * (osm-road-graphs-fix.sql:91).
    */
  def gridCell(p: Column, cellDeg: Double): Column =
    struct(
      floor(p.getField("lon") / cellDeg).cast("long").as("cx"),
      floor(p.getField("lat") / cellDeg).cast("long").as("cy"))

  /** Distinct grid cells covered by a linestring's vertices. */
  def gridCells(line: Column, cellDeg: Double): Column =
    array_distinct(transform(line, p => gridCell(p, cellDeg)))

  /** ST_Extent analog: bounding box of a point column as an aggregate —
    * use inside `agg()`. */
  def extentAgg(p: Column): Column = struct(
    min(p.getField("lon")).as("min_lon"), min(p.getField("lat")).as("min_lat"),
    max(p.getField("lon")).as("max_lon"), max(p.getField("lat")).as("max_lat"))

  /** The 3x3 cell neighborhood of a point — the probe side of
    * [[distanceJoin]]. */
  private[graft] def neighborCells(p: Column, cellDeg: Double): Column = {
    val cx = floor(p.getField("lon") / cellDeg).cast("long")
    val cy = floor(p.getField("lat") / cellDeg).cast("long")
    flatten(transform(sequence(lit(-1), lit(1)), dx =>
      transform(sequence(lit(-1), lit(1)), dy =>
        struct((cx + dx).as("cx"), (cy + dy).as("cy")))))
  }

  // --------------------------------------------------------------------
  // Polygon kernel — the general-geometry surface beyond the point/line
  // ops the reference's own pipelines need: a user porting other
  // PostGIS scripts gets ST_Area / ST_Centroid / ST_Contains / polygon
  // WKT / multilinestring here (ST_ConvexHull lives in
  // [[graft.functions.ConvexHullAgg]]). A ring is an
  // array<struct<lon,lat>> WITHOUT the repeated closing vertex (the
  // closing edge is implied); ST_Dump of any of our multi-geometries is
  // a plain `explode`. All ops are per-row array folds — scan-local,
  // codegen'd, no shuffle, so they scale like any other column op.
  // --------------------------------------------------------------------

  /** Consecutive edges of a ring, closing edge included: the ring
    * zipped against itself rotated by one. */
  private[graft] def ringEdges(ring: Column): Column = {
    val rot = concat(
      slice(ring, lit(2), greatest(size(ring) - 1, lit(0))),
      slice(ring, lit(1), lit(1)))
    zip_with(ring, rot, (a, b) => struct(a.as("a"), b.as("b")))
  }

  private def edgeCross(e: Column): Column =
    e.getField("a").getField("lon") * e.getField("b").getField("lat") -
      e.getField("b").getField("lon") * e.getField("a").getField("lat")

  /** Signed shoelace sum = 2·A with orientation sign (CCW positive), in
    * the ring's own coordinate units. On integer-valued coordinates the
    * result is EXACT (every product and sum representable), which is
    * what makes polygon results portable across engines bit-for-bit. */
  def shoelaceSigned(ring: Column): Column =
    aggregate(ringEdges(ring), lit(0.0), (acc, e) => acc + edgeCross(e))

  /** ST_Area in the ring's own squared coordinate units (planar
    * shoelace; self-intersecting rings get the usual signed-sum
    * semantics). */
  def polygonArea(ring: Column): Column = abs(shoelaceSigned(ring)) / 2

  /** ST_Buffer of a CONVEX polygon with round joins (the PostGIS
    * default join style) in planar coordinates: each edge is offset
    * outward by `r` and consecutive offsets are connected by a circular
    * arc around the shared vertex, sampled at `quadSegs` segments per
    * quarter circle (PostGIS's quad_segs). For a convex ring this IS
    * the exact Minkowski sum boundary poly ⊕ disc(r) — vertex i
    * contributes the arc from its in-edge's outward normal to its
    * out-edge's (sweeping the exterior angle), and offset edges run
    * between consecutive arcs. Input ring must be OPEN and CCW (the
    * repo convention — [[graft.osm.Dissolve]] output shape); output is
    * the buffered ring in the same form. CONVEX-ONLY contract: a
    * reflex vertex would need the offset-edge intersection instead of
    * an arc (and self-intersection cleanup at r beyond the local
    * feature size) — the general-polygon union machinery PostGIS
    * delegates to GEOS; out of scope the way overlapping-interior
    * ST_Union is for [[graft.osm.Dissolve]].
    *
    * Closed-form gate (spec): square side s → area(buffer) ≈
    * s² + 4·s·r + πr², low by exactly πr²·(1 − sinc(π/(8·quadSegs)))
    * from the inscribed-arc sampling.
    *
    * 100 TB shape: pure per-row HOF expression — scan-local, no
    * shuffle, no UDF. */
  def bufferConvex(ring: Column, r: Double, quadSegs: Int = 8): Column =
    // bound once per row: each vertex reads the ring three times
    GraftFunctions.let(ring) { ring =>
      val n = size(ring)
      val twoPi = 2 * math.Pi
      val stepRad = math.Pi / 2 / quadSegs
      flatten(transform(sequence(lit(0), n - 1), i => {
        val cur = element_at(ring, i + 1)
        val prev = element_at(ring, pmod(i - 1 + n, n) + 1)
        val nxt = element_at(ring, pmod(i + 1, n) + 1)
        def normalAngle(a: Column, b: Column): Column = {
          // outward (right-hand) normal of edge a->b for a CCW ring:
          // (dy, -dx) — atan2 normalizes, so no explicit length division
          val dx = b.getField("lon") - a.getField("lon")
          val dy = b.getField("lat") - a.getField("lat")
          atan2(-dx, dy)
        }
        val a1 = normalAngle(prev, cur)
        val delta = pmod(normalAngle(cur, nxt) - a1, lit(twoPi))
        val steps = greatest(ceil(delta / stepRad).cast("int"), lit(1))
        // collinear vertex: delta == 0 would emit the same point at j=0
        // and j=1 (a degenerate zero-length ring edge) — emit one point
        val hi = when(delta > 0d, steps).otherwise(lit(0))
        transform(sequence(lit(0), hi), j => {
          val ang = a1 + delta * j.cast("double") / steps.cast("double")
          struct(
            (cur.getField("lon") + lit(r) * cos(ang)).as("lon"),
            (cur.getField("lat") + lit(r) * sin(ang)).as("lat"))
        })
      }))
    }

  /** ST_Buffer of a POINT: the disc of radius `r` as a regular
    * (4·quadSegs)-gon, CCW from angle 0 — PostGIS point-buffer
    * semantics at the same quad_segs sampling. */
  def bufferPoint(p: Column, r: Double, quadSegs: Int = 8): Column = {
    val sides = 4 * quadSegs
    transform(sequence(lit(0), lit(sides - 1)), j => {
      val ang = j.cast("double") * (2 * math.Pi / sides)
      struct((p.getField("lon") + lit(r) * cos(ang)).as("lon"),
        (p.getField("lat") + lit(r) * sin(ang)).as("lat"))
    })
  }

  /** ST_Area in m² — ST_Transform to the LCC planar CRS, then shoelace,
    * the same project-then-measure shape the reference uses for lengths
    * (osm-road-graphs.sql:11). */
  def polygonAreaM2(ring: Column, prm: LccParams = Epsg3347): Column =
    polygonArea(transform(ring, p => {
      val q = lccProject(p, prm)
      struct(q.getField("x").as("lon"), q.getField("y").as("lat"))
    }))

  /** ST_Centroid of a polygon ring (area-weighted, the PostGIS
    * semantics, not the vertex mean):
    * C = Σ (v_i + v_j)·cross_ij / (3·Σ cross_ij). Degenerate rings
    * (zero signed area) yield null fields via 0/0 — filter them first. */
  def polygonCentroid(ring: Column): Column = {
    val zero = struct(lit(0.0).as("a2"), lit(0.0).as("cx"), lit(0.0).as("cy"))
    val sums = aggregate(ringEdges(ring), zero, (acc, e) => {
      val c = edgeCross(e)
      struct(
        (acc.getField("a2") + c).as("a2"),
        (acc.getField("cx") +
          (e.getField("a").getField("lon") + e.getField("b").getField("lon")) * c).as("cx"),
        (acc.getField("cy") +
          (e.getField("a").getField("lat") + e.getField("b").getField("lat")) * c).as("cy"))
    })
    struct(
      (sums.getField("cx") / (lit(3.0) * sums.getField("a2"))).as("lon"),
      (sums.getField("cy") / (lit(3.0) * sums.getField("a2"))).as("lat"))
  }

  /** ST_Contains(ring, point) by ray casting (odd crossings of the +x
    * ray), valid for any simple ring, convex or not. Points exactly ON
    * an edge are engine-dependent here exactly as they are across
    * PostGIS versions — keep test points off edges (integer points vs
    * quarter-fraction vertices make on-edge hits impossible; see
    * FunctionsSpec). */
  def containsPoint(ring: Column, p: Column): Column = {
    val x = p.getField("lon"); val y = p.getField("lat")
    val crossings = aggregate(ringEdges(ring), lit(0), (acc, e) => {
      val x1 = e.getField("a").getField("lon"); val y1 = e.getField("a").getField("lat")
      val x2 = e.getField("b").getField("lon"); val y2 = e.getField("b").getField("lat")
      val straddles = (y1 > y) =!= (y2 > y)
      val xInt = x1 + (y - y1) / (y2 - y1) * (x2 - x1)
      acc + when(straddles && x < xInt, 1).otherwise(0)
    })
    crossings % 2 === 1
  }

  /** Consecutive segments of an OPEN polyline (no implied closing
    * edge — the linestring counterpart of [[ringEdges]]). */
  private[graft] def lineSegs(line: Column): Column =
    zip_with(
      slice(line, lit(1), greatest(size(line) - 1, lit(0))),
      slice(line, lit(2), greatest(size(line) - 1, lit(0))),
      (a, b) => struct(a.as("a"), b.as("b")))

  /** ST_Intersection(linestring, linestring) dumped to its point set
    * (`osm-road-graphs-fix.sql:96`'s `(ST_Dump(ST_Intersection(a, b)))
    * .geom` over highway pairs): every proper crossing AND endpoint
    * touch between the two polylines, as a sorted-distinct point array
    * (= our multipoint). Segment pairs meet the standard parametric
    * test (t, u ∈ [0, 1] against the cross-product denominator);
    * collinear OVERLAPS contribute no points — PostGIS dumps those as
    * line parts, which callers needing them get from the topological
    * split path instead. A per-row fold over the two vertex arrays:
    * scan-local and codegen'd, so the pair join it rides stays a grid
    * equi-join (the reference's own form is flagged "Does not work
    * with large maps").  */
  def lineIntersections(lineA: Column, lineB: Column): Column = {
    // B's segments are bound once per row, not rebuilt per segment of A
    val hits = GraftFunctions.let(lineSegs(lineB)) { segsB =>
      flatten(transform(lineSegs(lineA), ea =>
        flatten(transform(segsB, eb => {
          val a1 = ea.getField("a"); val a2 = ea.getField("b")
          val b1 = eb.getField("a"); val b2 = eb.getField("b")
          val rx = a2.getField("lon") - a1.getField("lon")
          val ry = a2.getField("lat") - a1.getField("lat")
          val sx = b2.getField("lon") - b1.getField("lon")
          val sy = b2.getField("lat") - b1.getField("lat")
          val qpx = b1.getField("lon") - a1.getField("lon")
          val qpy = b1.getField("lat") - a1.getField("lat")
          // try_divide: parallel/collinear pairs (den = 0) yield null t/u,
          // which fails `between` into the empty branch — ANSI-safe
          // without a second pass over the pair
          val den = rx * sy - ry * sx
          val t = try_divide(qpx * sy - qpy * sx, den)
          val u = try_divide(qpx * ry - qpy * rx, den)
          val hit = array(struct((a1.getField("lon") + t * rx).as("lon"),
            (a1.getField("lat") + t * ry).as("lat")))
          when(t.between(0.0, 1.0) && u.between(0.0, 1.0), hit)
            .otherwise(slice(hit, lit(1), lit(0)))
        }))))
    }
    array_sort(array_distinct(hits))
  }

  /** ST_Intersection(polygon, polygon) for a CONVEX clip ring —
    * Sutherland–Hodgman as an `aggregate` fold: clip the subject ring
    * by each clip edge's half-plane in turn. The clip ring is
    * auto-oriented CCW (shoelace sign), the subject may be any simple
    * ring; result is the clipped ring (vertex order algorithm-defined,
    * starting from the surviving subject vertex sequence), empty when
    * disjoint. This is the tile-clip shape (clip regions are almost
    * always rectangles/convex cells); general concave∩concave remains
    * out of scope as the reference never needs it. Per-row fold —
    * codegen'd, shuffle-free. */
  def convexClip(subject: Column, clip: Column): Column = {
    val ccw = when(shoelaceSigned(clip) < 0, reverse(clip)).otherwise(clip)
    aggregate(ringEdges(ccw), subject, (ring, e) =>
      clipHalfPlane(ring, e.getField("a"), e.getField("b"),
        keepLeft = true))
  }

  /** One Sutherland–Hodgman step: the part of `ring` on one side of
    * the infinite line through a→b — `keepLeft = true` keeps the
    * half-plane to the LEFT of a→b (the inside of a CCW clip ring),
    * `false` keeps the right. Boundary vertices belong to both sides,
    * so the two halves tile the ring exactly (overlap has zero area).
    * Shared kernel of [[convexClip]] (fold of left-keeps) and
    * [[convexMinusTri]] (the difference decomposition needs both
    * sides). */
  private def clipHalfPlane(ring: Column, a: Column, b: Column,
      keepLeft: Boolean): Column = {
    val ex = b.getField("lon") - a.getField("lon")
    val ey = b.getField("lat") - a.getField("lat")
    def side(p: Column): Column = {
      val c = ex * (p.getField("lat") - a.getField("lat")) -
        ey * (p.getField("lon") - a.getField("lon"))
      if (keepLeft) c >= 0.0 else c <= 0.0
    }
    def inter(s: Column, t: Column): Column = {
      val dx = t.getField("lon") - s.getField("lon")
      val dy = t.getField("lat") - s.getField("lat")
      // param along s->t where it meets the a->b line. den == 0 with
      // straddling sides is float-rounding on a near-parallel (or
      // zero-length) edge: the sides' cross products disagree in their
      // last ulp while the denominator cancels exactly — take tt = 0
      // (point s), which is within rounding of the true crossing
      val num = ex * (s.getField("lat") - a.getField("lat")) -
        ey * (s.getField("lon") - a.getField("lon"))
      val den = ey * dx - ex * dy
      val tt = when(den === 0.0, lit(0.0)).otherwise(num / den)
      struct((s.getField("lon") + tt * dx).as("lon"),
        (s.getField("lat") + tt * dy).as("lat"))
    }
    flatten(transform(ringEdges(ring), se => {
      val s = se.getField("a"); val t = se.getField("b")
      when(side(s) && side(t), array(t))
        .when(side(s) && !side(t), array(inter(s, t)))
        .when(!side(s) && side(t), array(inter(s, t), t))
        .otherwise(slice(array(t), lit(1), lit(0)))
    }))
  }

  /** General `ST_Difference(polygon, polygon)` as `ST_Dump`-style
    * convex pieces — the subtraction half of the boolean-op family
    * ([[intersectionPieces]] ∩, [[graft.osm.Dissolve]] ∪). Delegates to
    * the native [[PolygonDifference]] expression (triangulate both
    * rings, fold the ≤3-piece half-plane decomposition of convex-minus-
    * triangle over the subject pieces): a column-HOF formulation of the
    * same fold is tens of thousands of Catalyst nodes and its ANALYSIS
    * dominated runtime (14 s to plan a 7-row fixture), while the native
    * kernel is one plan node and one primitive-array pass per row.
    * Surviving pieces tile `subject ∖ clip` exactly — piece boundaries
    * along triangulation diagonals are decomposition artifacts (the
    * [[intersectionPieces]] caveat), but membership and area are exact.
    * Shuffle-free, scan-local at any scale. */
  def differencePieces(subject: Column, clip: Column): Column =
    graft.functions.GraftFunctions.polygonDifference(subject, clip)

  /** Area of the general polygon difference (planar, coordinate
    * units²): Σ |area(piece)| over [[differencePieces]]. Satisfies the
    * boolean-algebra identity
    * `area(A ∖ B) = area(A) − area(A ∩ B)` (spec-gated). */
  def differenceArea(subject: Column, clip: Column): Column =
    aggregate(differencePieces(subject, clip), lit(0.0),
      (acc, piece) => acc + abs(shoelaceSigned(piece)) / 2)

  /** Area of the symmetric difference `A △ B` — both one-sided
    * differences, no second triangulation pass shared but the whole
    * thing is still one scan-local expression. */
  def symmetricDifferenceArea(a: Column, b: Column): Column =
    differenceArea(a, b) + differenceArea(b, a)

  /** General `ST_Intersection(polygon, polygon)` with a CONCAVE-capable
    * clip ring, as `ST_Dump`-style pieces: triangulate the clip polygon
    * ([[GraftFunctions.earTriangulate]] — triangles partition its
    * interior), [[convexClip]] the subject against each triangle, keep
    * the nonempty rings. Piece boundaries along triangulation diagonals
    * are decomposition artifacts (PostGIS would merge them), but the
    * pieces tile the true intersection exactly, so membership tests and
    * the area sum ([[intersectionArea]]) match `ST_Intersection`. A
    * concave SUBJECT is also fine for area purposes: Sutherland–Hodgman
    * may emit zero-width bridge edges on a concave subject, which
    * cancel in the shoelace sum. Per-row expression fold — shuffle-free,
    * scan-local at any scale. */
  def intersectionPieces(subject: Column, clip: Column): Column =
    filter(
      transform(graft.functions.GraftFunctions.earTriangulate(clip),
        tri => convexClip(subject, tri)),
      piece => size(piece) >= 3)

  /** Area of the general polygon–polygon intersection (planar,
    * coordinate units²): the summed signed areas of
    * [[intersectionPieces]] with a CCW-normalized subject. */
  def intersectionArea(subject: Column, clip: Column): Column = {
    val ccwSubject =
      when(shoelaceSigned(subject) < 0, reverse(subject)).otherwise(subject)
    aggregate(intersectionPieces(ccwSubject, clip), lit(0.0),
      (acc, piece) => acc + shoelaceSigned(piece) / 2)
  }

  /** Pseudo-angle ("diamond angle") of a point around a center —
    * monotone in true angle over (-90°, 270°) but computed with ONLY
    * +,-,abs,÷, all IEEE-exactly-rounded, so two engines order points
    * IDENTICALLY (atan2 is libm-dependent in its last ulp; this is
    * not). The sort key for building star-shaped rings from point sets
    * portably. Center must not coincide with any point (0/0 → NaN). */
  def pseudoAngle(dx: Column, dy: Column): Column = {
    val r = dy / (abs(dx) + abs(dy))
    when(dx >= 0, r).otherwise(lit(2.0) - r)
  }

  private def ptText(p: Column): Column =
    concat(p.getField("lon").cast("string"), lit(" "),
      p.getField("lat").cast("string"))

  /** ST_AsText for a polygon ring — emits the WKT closing vertex. */
  def asTextPolygon(ring: Column): Column =
    concat(lit("POLYGON(("),
      array_join(transform(
        concat(ring, slice(ring, lit(1), lit(1))), ptText _), ", "),
      lit("))"))

  /** ST_Multi(ST_Union(...)) over linestrings — in our model a
    * multilinestring IS the deduplicated collected array of vertex
    * arrays (the general-geometry sibling of [[collectMultiPoint]];
    * PostGIS ST_Union's noding of intersections is what
    * GeometricSplit.crossingSplit does explicitly). Aggregate
    * function: use inside agg(). */
  def collectMultiLine(line: Column): Column =
    array_distinct(collect_list(line))

  /** ST_AsText for a multilinestring. */
  def asTextMultiLine(lines: Column): Column =
    concat(lit("MULTILINESTRING("),
      array_join(transform(lines, l =>
        concat(lit("("),
          array_join(transform(l, ptText _), ", "), lit(")"))), ", "),
      lit(")"))

  private def parsePtList(s: Column): Column =
    transform(split(s, ",\\s*"), t => {
      val xy = split(trim(t), "\\s+")
      struct(
        element_at(xy, 1).cast("double").as("lon"),
        element_at(xy, 2).cast("double").as("lat"))
    })

  /** Parse `POINT(x y)` WKT into our point struct. */
  def parseWktPoint(s: Column): Column =
    element_at(parsePtList(regexp_extract(s, "(?i)POINT\\s*\\(([^)]*)\\)", 1)), 1)

  /** Parse `LINESTRING(x y, ...)` WKT into a vertex array. */
  def parseWktLine(s: Column): Column =
    parsePtList(regexp_extract(s, "(?i)LINESTRING\\s*\\(([^)]*)\\)", 1))

  /** Parse `POLYGON((x y, ...))` WKT (outer ring) into our ring model,
    * dropping the repeated closing vertex when present. */
  def parseWktPolygon(s: Column): Column = {
    val ring = parsePtList(
      regexp_extract(s, "(?i)POLYGON\\s*\\(\\(([^)]*)\\)\\)", 1))
    when(size(ring) > 1 && element_at(ring, -1) === element_at(ring, 1),
      slice(ring, lit(1), size(ring) - 1)).otherwise(ring)
  }

  /** ST_DWithin as a JOIN, grid-bucketed (never all-pairs): every pair
    * of points within `maxMeters`, with the exact haversine distance.
    * Left points report at their home cell; right points probe their
    * 3x3 neighborhood; the equi-join on cell is the only shuffle, and
    * each qualifying pair meets in EXACTLY one cell (the left home
    * cell), so no dedup pass is needed.
    *
    * `cellDeg` must cover `maxMeters` in BOTH axes at the data's
    * latitudes: cellDeg >= maxMeters / (111320 * cos(maxAbsLat)) — the
    * lat axis is checked by the require; the caller owns the cos
    * shrink on lon (pass a bigger cell for high-latitude data; cells
    * merely trade candidate count, never correctness, as long as they
    * are big enough).
    *
    * 100 TB shape: candidates per task are bounded by points-per-cell²
    * x 9, so skew follows spatial density — AQE skew-join or a finer
    * grid both apply; the 9x probe-side explode is the standard PBSM
    * price for single-shuffle spatial joins. */
  def distanceJoin(left: org.apache.spark.sql.DataFrame, leftId: String,
      leftPt: Column, right: org.apache.spark.sql.DataFrame, rightId: String,
      rightPt: Column, maxMeters: Double, cellDeg: Double): org.apache.spark.sql.DataFrame = {
    require(cellDeg * 111320.0 >= maxMeters,
      s"cellDeg $cellDeg too small for maxMeters $maxMeters (lat axis)")
    val l = left.select(col(leftId), leftPt.as("__lp"))
      .withColumn("__cell", gridCell(col("__lp"), cellDeg))
    val r = right.select(col(rightId), rightPt.as("__rp"))
      .withColumn("__cell", explode(neighborCells(col("__rp"), cellDeg)))
    l.join(r, "__cell")
      .withColumn("dist_m", haversineMeters(
        col("__lp.lon"), col("__lp.lat"), col("__rp.lon"), col("__rp.lat")))
      .filter(col("dist_m") <= maxMeters)
      .select(col(leftId), col(rightId), col("dist_m"))
  }

  /** Nearest-neighbor snap as a JOIN, grid-bucketed (never all-pairs):
    * for each query point, the single nearest target within
    * `maxMeters` — `(queryId, targetId, dist_m)`; queries with no
    * target in range drop out (inner semantics). This is the
    * snap-to-network step of the reference's routing workflow
    * (pgRouting's nearest-vertex lookup feeding pgr_createTopology,
    * `osm-road-graphs.sql:247-254` territory): bounded-radius nearest
    * IS the snap-tolerance semantics, so no unbounded ring expansion
    * is needed.
    *
    * Shape: targets report at their home cell, queries probe their
    * 3x3 neighborhood (cellDeg must cover maxMeters, see the
    * require), and the per-query argmin is `min(struct(dist, tid))` —
    * a hash aggregate with map-side partials (each task reduces its
    * candidates to one row per query BEFORE the agg shuffle), not a
    * window sort. Ties on distance break deterministically on the
    * smaller target id.
    *
    * 100 TB shape: two exchanges total (cell equi-join + qid agg, the
    * latter moving at most 9 rows per query), per-task candidate work
    * bounded by targets-per-cell x 9; density skew follows the grid
    * and AQE skew-join applies to the join exchange. */
  def nearestJoin(queries: org.apache.spark.sql.DataFrame, queryId: String,
      qPt: Column, targets: org.apache.spark.sql.DataFrame, targetId: String,
      tPt: Column, maxMeters: Double, cellDeg: Double): org.apache.spark.sql.DataFrame = {
    require(cellDeg * 111320.0 >= maxMeters,
      s"cellDeg $cellDeg too small for maxMeters $maxMeters (lat axis)")
    require(queryId != targetId,
      s"queryId and targetId must differ (both '$queryId') — alias one side")
    val t = targets.select(col(targetId), tPt.as("__tp"))
      .withColumn("__cell", gridCell(col("__tp"), cellDeg))
    val q = queries.select(col(queryId), qPt.as("__qp"))
      .withColumn("__cell", explode(neighborCells(col("__qp"), cellDeg)))
    q.join(t, "__cell")
      .withColumn("__d", haversineMeters(
        col("__qp.lon"), col("__qp.lat"), col("__tp.lon"), col("__tp.lat")))
      .filter(col("__d") <= maxMeters)
      .groupBy(queryId)
      .agg(min(struct(col("__d").as("dist_m"), col(targetId))).as("__best"))
      .select(col(queryId), col(s"__best.$targetId").as(targetId),
        col("__best.dist_m").as("dist_m"))
  }

  /** Every grid cell a ring's bounding box covers — the publish side of
    * [[containsJoin]]. The interior of a ring is inside its vertex
    * bbox, so covering the bbox is exact (conservative on cells, never
    * on answers). `pad` expands the bbox on every side before covering
    * (the publish side of [[nearestEdgeJoin]]: anything within `pad` of
    * the geometry is inside the padded bbox). */
  private[graft] def bboxCells(ring: Column, cellDeg: Double,
      pad: Double = 0.0): Column = {
    def lo(v: Column) = floor((array_min(v) - pad) / cellDeg).cast("long")
    def hi(v: Column) = floor((array_max(v) + pad) / cellDeg).cast("long")
    // each projected coordinate array is bound once for its min and
    // max, and the row of y cells once, not rebuilt per x cell
    GraftFunctions.let(transform(ring, p => p.getField("lon"))) { xs =>
      GraftFunctions.let(transform(ring, p => p.getField("lat"))) { ys =>
        GraftFunctions.let(sequence(lo(ys), hi(ys))) { cys =>
          flatten(transform(sequence(lo(xs), hi(xs)), cx =>
            transform(cys, cy => struct(cx.as("cx"), cy.as("cy")))))
        }
      }
    }
  }

  /** Nearest-EDGE snap as a JOIN, grid-bucketed (never all-pairs): for
    * each query point, the nearest polyline within planar distance
    * `maxDist` (coordinate units — degree space, or [[lccProject]]
    * output for meters), plus the snapped point on it —
    * `(queryId, edgeId, dist, snap_x, snap_y)`. This is the full
    * pgRouting stop-snapping semantics (nearest edge + ST_ClosestPoint
    * projection), one level beyond [[nearestJoin]]'s nearest-vertex.
    *
    * Shape: edges publish every cell of their bbox padded by
    * `maxDist`; query points sit at their single home cell (a point
    * within `maxDist` of an edge lies inside the padded bbox, so the
    * pair meets — and meets exactly once, since a padded bbox lists
    * each cell once). Per-candidate refinement is the native
    * codegen'd [[ClosestPointOnLine]] (one primitive loop per pair),
    * and the per-query argmin is `min(struct(dist2, edgeId, x, y))` —
    * a hash aggregate with map-side partials, no window sort. Ties on
    * exact distance break on the smaller edge id.
    *
    * 100 TB shape: two exchanges (cell equi-join + qid agg); per-task
    * work bounded by edges-overlapping-cell × points-per-cell; the
    * publish explode factor is (bbox+2·pad)/cell per axis — size
    * `cellDeg` ≈ the median edge bbox so it stays O(1); split
    * continent-spanning ways first (the road model always does). */
  def nearestEdgeJoin(queries: org.apache.spark.sql.DataFrame, queryId: String,
      qPt: Column, edges: org.apache.spark.sql.DataFrame, edgeId: String,
      geom: Column, maxDist: Double, cellDeg: Double): org.apache.spark.sql.DataFrame = {
    require(queryId != edgeId,
      s"queryId and edgeId must differ (both '$queryId') — alias one side")
    val q = queries.select(col(queryId), qPt.as("__qp"))
      .withColumn("__cell", gridCell(col("__qp"), cellDeg))
    val e = edges.select(col(edgeId), geom.as("__geom"))
      .withColumn("__cell", explode(bboxCells(col("__geom"), cellDeg, maxDist)))
    q.join(e, "__cell")
      .withColumn("__c", GraftFunctions.closestPointOnLine(
        col("__geom"), col("__qp.lon"), col("__qp.lat")))
      .filter(col("__c.dist2") <= maxDist * maxDist)
      .groupBy(queryId)
      .agg(min(struct(col("__c.dist2").as("dist2"), col(edgeId),
        col("__c.x").as("x"), col("__c.y").as("y"))).as("__best"))
      .select(col(queryId), col(s"__best.$edgeId").as(edgeId),
        col("__best.dist2").as("dist2"),
        col("__best.x").as("snap_x"), col("__best.y").as("snap_y"))
  }

  /** ST_Contains as a JOIN, grid-bucketed (never all-pairs):
    * `(pointId, polyId)` for every point strictly inside a polygon
    * ring. Polygons publish every cell their bbox covers; points sit at
    * their single home cell; the equi-join on cell is the only shuffle,
    * and each (point, polygon) candidate pair meets in EXACTLY one cell
    * (the point's home cell — a polygon lists each covered cell once),
    * so no dedup pass is needed. Refinement is the generic ray cast
    * ([[containsPoint]]), so non-convex rings are fine.
    *
    * 100 TB shape: per-task candidates are bounded by points-per-cell ×
    * polygons-covering-cell; `cellDeg` trades the polygon explode
    * factor against candidate count, never correctness. Continent-sized
    * polygons over a fine grid explode to many cells — coarsen the grid
    * or split such rings first; spatial skew (a dense city cell)
    * follows data density and AQE skew-join applies to the one
    * exchange. */
  def containsJoin(points: org.apache.spark.sql.DataFrame, pointId: String,
      pt: Column, polys: org.apache.spark.sql.DataFrame, polyId: String,
      ring: Column, cellDeg: Double): org.apache.spark.sql.DataFrame = {
    val p = points.select(col(pointId), pt.as("__pt"))
      .withColumn("__cell", gridCell(col("__pt"), cellDeg))
    val g = polys.select(col(polyId), ring.as("__ring"))
      .withColumn("__cell", explode(bboxCells(col("__ring"), cellDeg)))
    p.join(g, "__cell")
      .filter(containsPoint(col("__ring"), col("__pt")))
      .select(col(pointId), col(polyId))
  }
}
