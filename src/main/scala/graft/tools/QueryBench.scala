package graft.tools


import graft.SparkEntry

/** Ad-hoc single-query timer: `runMain graft.tools.QueryBench <sfDir>
  * <iters> <query...>` — same session config as [[graft.Bench]], prints
  * one line per (query, iteration) so warm-up vs steady-state and
  * run-to-run variance are visible (the all-queries Bench runs each
  * query once and can't separate noise from regression).
  */
object QueryBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val iters = args(1).toInt
    val names = args.drop(2).toSeq
    val spark = graft.GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)

    names.foreach { name =>
      (1 to iters).foreach { i =>
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()
        println(f"[qbench] $name iter $i: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
    }
    spark.stop()
  }
}
