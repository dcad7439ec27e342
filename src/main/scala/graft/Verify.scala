package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    // write timestamps as INT64 micros (the modern parquet logical
    // type, what DuckDB writes) — the INT96 legacy default would
    // fail the driver's physical-schema compare on timestamp outputs
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_ONLY=<regex> restricts to matching queries (dev loop
    // only — the driver never sets it); oracle_sql.json is filtered the
    // same way so tools/check.py compares exactly what was dumped.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.r)
    def wanted(name: String) = only.forall(_.findFirstIn(name).isDefined)
    SparkEntry.queries.filter(kv => wanted(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      finally spark.catalog.clearCache() // operators persist internally
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => wanted(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    // a SPARK_GRAFT_ONLY run writes its subset to a DISTINCT filename:
    // pointing a filtered dev run at the canonical outDir must never
    // silently replace the full oracle artifact with a partial one
    val oracleFile =
      if (only.isDefined) "oracle_sql.partial.json" else "oracle_sql.json"
    Files.writeString(Paths.get(s"$outDir/$oracleFile"), json)
    spark.stop()
  }
}
