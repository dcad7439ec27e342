package graft

import org.apache.spark.sql.SparkSession

/** The engine's session: `local[cpus]` with the graft SQL extensions
  * and functions, `cpus` shuffle partitions, UTC session time, parquet
  * nanosecond timestamps read as longs, no UI and WARN logging. The
  * mains and the test suite build their session here and set their own
  * extras on the result.
  *
  * `GraftFunctions.register` also switches `lower`/`upper` to the JVM's
  * case mapping, which keeps the first `lower()` from building Spark's
  * ICU title-case table (3.2 GB allocated, ~0.9 s CPU); see its doc for
  * the 134 post-Unicode-13 code points where the two mappings differ. */
object GraftSession {
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.register(spark)
    spark
  }
}
