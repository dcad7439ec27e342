package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** The query contract (SURVEY §7): every query by name, and for each one
  * the DuckDB oracle SQL that must return identical rows. Each query is
  * declared once, next to its oracle, in one family object of
  * `graft.queries`; the two maps are derived from those lists. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_flagship_tag_freq")(spark, "/root/testdata/sf0.001")

  /** Every query, family by family. */
  lazy val registry: Seq[Query] = Query.requireDistinct(
    RelationalQueries.all ++ OsmQueries.all ++ RoutingQueries.all ++
      GraphQueries.all ++ GeoQueries.all ++ TextQueries.all ++
      DedupQueries.all ++ VectorQueries.all ++ StreamingQueries.all)

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.build).toMap

  lazy val oracleSql: Map[String, String] =
    registry.map(q => q.name -> q.oracle).toMap
}
