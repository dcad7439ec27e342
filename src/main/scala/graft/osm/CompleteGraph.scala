package graft.osm

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

import graft.functions.{Geo, GraftFunctions => GF}

/** The complete multi-modal network (osm-complete-graphs.sql): one
  * network table for ALL modes, with car/pedestrian/bicycle SMALLINT
  * flags (NULL = unclassified, 0 = restricted, 1 = dedicated) set by an
  * ordered cascade of conditional updates (:63-151).
  *
  * The reference's serial UPDDATE statements become one chained
  * `when().otherwise(current)` column rewrite per statement — same
  * semantics, single immutable plan, order-preserving by construction.
  *
  * `strictOsmSemantics = true` reproduces the reference's
  * AND/OR-precedence quirk exactly (SURVEY §7.4-2): in
  * `SET pedestrian = 1 WHERE pedestrian IS NULL AND foot-designated OR
  * footway IN (...)` (osm-complete-graphs.sql:122-127) the AND binds
  * tighter, so a footway match OVERRIDES an earlier pedestrian = 0.
  * `false` applies the evident intent (NULL-guard distributes over both
  * disjuncts). Same for the bicycle rule (:146-151).
  */
object CompleteGraph {

  /** Step 1 (osm-complete-graphs.sql:8-16): every way with ANY highway
    * tag, with service/access projected alongside. */
  def completeNetwork(ways: DataFrame): DataFrame =
    ways
      .filter(element_at(col("tags"), "highway").isNotNull)
      .select(
        element_at(col("nodes"), 1).as("start_node"),
        element_at(col("nodes"), -1).as("end_node"),
        col("id").as("edge_id"),
        col("tags"), col("nodes"),
        Geo.geodesicLengthMeters(col("linestring")).as("length"),
        element_at(col("tags"), "highway").as("highway"),
        element_at(GF.extractIntsBuiltin(element_at(col("tags"), "maxspeed")), 1)
          .as("speed_limit"),
        element_at(col("tags"), "service").as("service"),
        element_at(col("tags"), "access").as("access"),
        element_at(col("tags"), "oneway").as("oneway"),
        col("linestring").as("geom"))

  private def t(k: String): Column = element_at(col("tags"), k)

  /** The mode-flag cascade (osm-complete-graphs.sql:59-151), statement
    * order preserved. */
  def withModeFlags(net: DataFrame, strictOsmSemantics: Boolean = true): DataFrame = {
    // ALTER TABLE ADD COLUMN ... + SET NULL (:59-66)
    var df = net
      .withColumn("car", lit(null).cast("short"))
      .withColumn("pedestrian", lit(null).cast("short"))
      .withColumn("bicycle", lit(null).cast("short"))

    def upd(colName: String, cond: Column, v: Int): Unit =
      df = df.withColumn(colName,
        when(coalesce(cond, lit(false)), lit(v).cast("short")).otherwise(col(colName)))
    def updAll(cond: Column, v: Int): Unit =
      Seq("car", "pedestrian", "bicycle").foreach(upd(_, cond, v))

    // not-accessible segments (:69-82)
    updAll(col("access").isin("no", "private", "permit", "customers", "forestry",
      "agricultural", "military", "emergency", "bus", "delivery", "restricted"), 0)
    updAll(col("service").isin("drive-through", "emergency_access", "bus"), 0)
    updAll(col("highway").isin("disused", "dismantled", "razed", "rest_area",
      "corridor", "construction", "abandoned", "raceway", "proposed",
      "rest_area", "planned", "platform"), 0)

    // car restricted (:86-99)
    upd("car", t("highway").isin("steps", "footway", "pedestrian", "cycleway",
      "bridleway", "elevator", "sidewalk"), 0)
    upd("car",
      t("bicycle").isin("designated") || t("cycleway").isin("designated") ||
        t("foot").isin("designated") ||
        t("footway").isin("sidewalk", "crossing", "yes") ||
        t("motor_vehicle").isin("no", "private") ||
        t("service").isin("parking_aisle", "parking") ||
        t("bus").isin("designated"), 0)
    // car dedicated (:101-107)
    upd("car", col("car").isNull &&
      t("highway").isin("motorway", "primary", "tertiary", "secondary",
        "primary_link", "tertiary_link", "secondary_link", "trunk",
        "trunk_link", "motorway_link", "motorway_junction"), 1)

    // pedestrian restricted (:111-118)
    upd("pedestrian", t("highway").isin("motorway", "trunk", "trunk_link",
      "motorway_link", "motorway_junction"), 0)
    upd("pedestrian", t("bus").isin("designated"), 0)
    // pedestrian dedicated (:120-127) — the precedence quirk lives here
    upd("pedestrian", col("pedestrian").isNull &&
      t("highway").isin("steps", "footway", "pedestrian", "bridleway",
        "elevator", "sidewalk", "living_street", "path"), 1)
    val pedDisjunct =
      if (strictOsmSemantics)
        (col("pedestrian").isNull && t("foot").isin("designated")) ||
          t("footway").isin("sidewalk", "crossing", "yes")
      else
        col("pedestrian").isNull && (t("foot").isin("designated") ||
          t("footway").isin("sidewalk", "crossing", "yes"))
    upd("pedestrian", pedDisjunct, 1)

    // bicycle restricted (:133-140)
    upd("bicycle", t("highway").isin("motorway", "trunk", "trunk_link",
      "motorway_link", "motorway_junction"), 0)
    upd("bicycle", t("bus").isin("designated"), 0)
    // bicycle dedicated (:142-151) — same quirk shape
    upd("bicycle", col("bicycle").isNull &&
      t("highway").isin("cycleway", "living_street"), 1)
    val bikeDisjunct =
      if (strictOsmSemantics)
        (col("bicycle").isNull && t("bicycle").isin("designated")) ||
          t("cycleway").isin("designated")
      else
        col("bicycle").isNull && (t("bicycle").isin("designated") ||
          t("cycleway").isin("designated"))
    upd("bicycle", bikeDisjunct, 1)

    df
  }

  /** The full chain: network -> imputation -> mode flags. Steps 2-4
    * (osm-complete-graphs.sql:22-46) impute with PERCENTILE_CONT(0.5),
    * the road graph's median: one imputation for both networks. */
  def build(ways: DataFrame, strictOsmSemantics: Boolean = true): DataFrame =
    withModeFlags(RoadGraph.imputeSpeedLimits(completeNetwork(ways)),
      strictOsmSemantics)
}
