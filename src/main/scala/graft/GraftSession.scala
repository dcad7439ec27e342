package graft

import org.apache.spark.sql.SparkSession

/** The engine's session: `local[cpus]` with the graft SQL extensions
  * and functions, `cpus` shuffle partitions, UTC session time, parquet
  * nanosecond timestamps read as longs, no UI and WARN logging. The
  * mains and the test suite build their session here and set their own
  * extras on the result. */
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
