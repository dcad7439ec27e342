package graft

import java.io.File

import scala.io.Source

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.StreamingQueries

/** The query registry's shape, checked without a Spark session: every
  * query is declared once, next to a non-blank oracle, and no oracle
  * derivation or fixture build is pasted twice. */
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

  test("duplication audit: no 12-line run appears twice in queries/") {
    // Reads the sources like KernelInventorySpec (sbt's working
    // directory is the project root). A run is 12 consecutive non-blank
    // lines, compared trimmed; the same run in two places means a
    // derivation was pasted instead of composed from QueryHelpers.
    val run = 12
    val files = new File("src/main/scala/graft/queries").listFiles()
      .filter(_.getName.endsWith(".scala")).sortBy(_.getName).toSeq
    assert(files.size >= 10, files)
    // (window text, file, index among the file's non-blank lines, line)
    val windows = files.flatMap { f =>
      val src = Source.fromFile(f, "UTF-8")
      val lines = try src.getLines().toVector finally src.close()
      lines.zipWithIndex.map { case (l, i) => (l.trim, i + 1) }
        .filter(_._1.nonEmpty).sliding(run).filter(_.size == run)
        .zipWithIndex.map { case (w, k) =>
          (w.map(_._1).mkString("\n"), f.getName, k, w.head._2) }
    }
    val repeated = windows.groupBy(_._1).values.filter(_.size > 1).toSeq
    val dup = repeated.flatten.map(w => (w._2, w._3)).toSet
    // report each repeated run once, at its first window
    val runs = repeated.flatMap { ws =>
      ws.filterNot(w => dup((w._2, w._3 - 1))).take(1).map { first =>
        s"${first._2}:${first._4} == " + ws.filterNot(_ eq first)
          .map(w => s"${w._2}:${w._4}").mkString(", ")
      }
    }.sorted
    if (runs.nonEmpty)
      fail(s"${runs.size} repeated $run-line runs:\n${runs.mkString("\n")}")
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
