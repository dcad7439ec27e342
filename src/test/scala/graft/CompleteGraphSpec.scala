package graft

import org.apache.spark.sql.functions._

import graft.osm.{CompleteGraph, OsmModel, RoadGraph}

class CompleteGraphSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val t = OsmModel.microFixture(spark)

  test("complete network includes every way with a highway tag") {
    val ids = CompleteGraph.completeNetwork(t.ways)
      .select("edge_id").collect().map(_.getLong(0)).toSet
    assert(ids === Set(101L, 102L, 103L, 104L, 105L, 106L, 107L, 109L))
  }

  test("mode-flag cascade: hand-computed expectations per fixture way") {
    val flags = CompleteGraph.build(t.ways)
      .select("edge_id", "car", "pedestrian", "bicycle").collect()
      .map(r => r.getLong(0) ->
        (Option(r.get(1)), Option(r.get(2)), Option(r.get(3)))).toMap
    val S0 = Some(0.toShort); val S1 = Some(1.toShort)
    assert(flags(101L) === ((None, None, None)))    // residential: unclassified
    assert(flags(103L) === ((S1, None, None)))      // primary: car-dedicated
    assert(flags(104L) === ((S1, S0, S0)))          // motorway
    assert(flags(105L) === ((S0, S1, None)))        // footway sidewalk
    assert(flags(107L) === ((S0, S0, S0)))          // access=private blanket 0
  }

  test("speed imputation via percentile_cont path") {
    // the complete network shares the road graph's imputation: built-in
    // median, which Spark runs as percentile(speed_limit, 0.5)
    val sl = RoadGraph.imputeSpeedLimits(CompleteGraph.completeNetwork(t.ways))
      .select("edge_id", "speed_limit").collect()
      .map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(sl(102L) === Some(60)) // tertiary median imputed
    assert(sl(105L) === None)     // footway: no speeds in class
  }

  test("precedence quirk: footway=crossing on a motorway — strict overrides ped=0, fixed keeps it") {
    val weird = t.ways.filter($"id" === 104)
      .withColumn("tags", map_concat($"tags",
        map(lit("footway"), lit("crossing"))))
    val strict = CompleteGraph.build(weird, strictOsmSemantics = true)
      .select("pedestrian").head.getShort(0)
    assert(strict === 1, "strict: OR-precedence lets footway override pedestrian=0")
    val fixed = CompleteGraph.build(weird, strictOsmSemantics = false)
      .select("pedestrian").head.getShort(0)
    assert(fixed === 0, "fixed: NULL-guard distributes, motorway stays restricted")
  }
}
