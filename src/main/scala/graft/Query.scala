package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registry query: `build` returns the Spark result over the tables
  * in a testdata directory, and `oracle` is the DuckDB SQL that must
  * return the identical rows over the same parquet tables (same column
  * names and types, deterministic order). A query's family is the
  * object in `graft.queries` that declares it. */
final case class Query(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: String)

object Query {
  /** Returns `qs` unchanged, or throws naming every repeated name. */
  def requireDistinct(qs: Seq[Query]): Seq[Query] = {
    val repeated = qs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(repeated.isEmpty,
      s"query names declared more than once: ${repeated.toSeq.sorted.mkString(", ")}")
    qs
  }
}
