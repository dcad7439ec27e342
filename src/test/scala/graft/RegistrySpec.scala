package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.StreamingQueries

/** The query registry's shape, checked without a Spark session: every
  * query is declared once, next to a non-blank oracle. */
class RegistrySpec extends AnyFunSuite {
  private val names = SparkEntry.registry.map(_.name)

  test("registry: 220 queries, every name distinct") {
    assert(names.size === 220)
    assert(names.distinct.size === names.size)
  }

  test("registry: queries and oracleSql cover the same names") {
    assert(SparkEntry.queries.keySet === SparkEntry.oracleSql.keySet)
    assert(SparkEntry.queries.keySet === names.toSet)
  }

  test("registry: no oracle is blank") {
    val blank = SparkEntry.registry
      .filter(q => q.oracle == null || q.oracle.trim.isEmpty).map(_.name)
    assert(blank.isEmpty, blank)
  }

  test("registry: the streaming family is exactly the six trigger-loop rows") {
    assert(StreamingQueries.all.map(_.name) === Seq("q_e_dedup_stream",
      "q_e_interval_join", "q_e_neardup_stream", "q_cc_wet_stream",
      "q_cc_curation_stream", "q_s_index_stream"))
  }

  test("requireDistinct: passes distinct names, throws on a repeated one") {
    val build: (SparkSession, String) => DataFrame = (_, _) => null
    val a = Query("q_a", build, "SELECT 1")
    val b = Query("q_b", build, "SELECT 2")
    assert(Query.requireDistinct(Seq(a, b)) === Seq(a, b))
    val e = intercept[IllegalArgumentException](
      Query.requireDistinct(Seq(a, b, a.copy(oracle = "SELECT 3"))))
    assert(e.getMessage.contains("q_a"))
    assert(!e.getMessage.contains("q_b"))
  }
}
