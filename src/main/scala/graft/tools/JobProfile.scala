package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

import graft.SparkEntry

/** Per-job wall-clock profile of one query: `runMain
  * graft.tools.JobProfile <sfDir> <query...>` — attaches a
  * SparkListener and prints every job's duration, stage count, task
  * count and call-site, so an overhead-dominated query (many tiny
  * driver-loop jobs) can be told apart from a compute-dominated one
  * (guide §1: decide whether the time is compute, shuffle, or
  * scheduling before touching anything). Also prints the gaps BETWEEN
  * jobs (pure driver work: planning, codegen, collect post-processing,
  * file-system calls), which job timings alone hide.
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args.drop(1).toSeq
    val spark = graft.GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)

    case class J(id: Int, start: Long, var end: Long = -1L,
      var stages: Int = 0, var tasks: Int = 0, site: String)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, J]()
    val order = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.put(e.jobId, J(e.jobId, e.time,
          site = Option(e.properties)
            .map(_.getProperty("callSite.short", "?")).getOrElse("?")))
        order.add(e.jobId)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val j = jobs.get(e.jobId); if (j != null) j.end = e.time
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        // attribute to the most recent unfinished job (good enough for
        // a sequential driver loop)
        val it = order.iterator()
        var last: J = null
        while (it.hasNext) { val j = jobs.get(it.next()); if (j != null && j.end < 0) last = j }
        if (last != null) {
          last.stages += 1
          last.tasks += e.stageInfo.numTasks
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)

    names.foreach { name =>
      jobs.clear(); order.clear()
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      Thread.sleep(300) // let listener events drain
      val js = {
        val it = order.iterator()
        val b = scala.collection.mutable.ArrayBuffer.empty[J]
        while (it.hasNext) b += jobs.get(it.next())
        b.toSeq
      }
      var prevEnd = -1L
      var jobSum = 0.0
      println(f"[jobprofile] ==== $name wall=$wall%.2f s, jobs=${js.size}")
      js.foreach { j =>
        val dur = (j.end - j.start) / 1e3
        val gap = if (prevEnd > 0) (j.start - prevEnd) / 1e3 else 0.0
        jobSum += dur
        if (dur > 0.05 || gap > 0.05)
          println(f"[jobprofile]   job ${j.id}%4d dur=$dur%7.3f s gap_before=$gap%7.3f s stages=${j.stages}%3d tasks=${j.tasks}%5d  ${j.site}")
        prevEnd = j.end
      }
      println(f"[jobprofile] ---- $name wall=$wall%.2f s jobs=${js.size} job_time=$jobSum%.2f s driver_gaps=${wall - jobSum}%.2f s")
    }
    spark.stop()
  }
}
