package org.apache.spark.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Engine counters per benchmark span, gathered from the listener bus.
  *
  * Each job carries the span it ran under in the local property
  * [[SpanListener.Prop]]; stage and task events are attributed through
  * the job's stages. The class lives in an `org.apache.spark` package only
  * to reach `listenerBus.waitUntilEmpty`, so a span's counters are read
  * after every event it caused has been delivered.
  */
final class SpanCounters {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var executorCpuNs = 0L; var executorRunMs = 0L; var gcMs = 0L
  var shuffleReadBytes = 0L; var shuffleWriteBytes = 0L
  var fetchWaitMs = 0L; var spillBytes = 0L
  var recordsOut = 0L; var bytesOut = 0L; var tasksWithRows = 0L
}

class SpanListener extends SparkListener {
  private val spans = mutable.LinkedHashMap.empty[String, SpanCounters]
  private val stageSpan = new ConcurrentHashMap[Int, String]()
  private val jobStart = mutable.Map.empty[Int, Long]
  private val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  private def of(span: String): SpanCounters =
    spans.getOrElseUpdate(span, new SpanCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties)
      .flatMap(p => Option(p.getProperty(SpanListener.Prop))).getOrElse("none")
    of(span).jobs += 1
    e.stageIds.foreach(stageSpan.put(_, span))
    jobStart(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(t0 => jobIntervals += ((t0, e.time)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      of(stageSpan.getOrDefault(e.stageInfo.stageId, "none")).stages += 1
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = of(stageSpan.getOrDefault(e.stageId, "none"))
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.executorCpuNs += m.executorCpuTime
      c.executorRunMs += m.executorRunTime
      c.gcMs += m.jvmGCTime
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      val rows = m.outputMetrics.recordsWritten
      c.recordsOut += rows
      c.bytesOut += m.outputMetrics.bytesWritten
      if (rows > 0 || m.inputMetrics.recordsRead > 0) c.tasksWithRows += 1
    }
  }

  /** Delivers every pending event, then hands back and forgets the
    * counters and the job intervals gathered so far. */
  def drain(sc: SparkContext): (Map[String, SpanCounters], Seq[(Long, Long)]) = {
    sc.listenerBus.waitUntilEmpty()
    synchronized {
      val out = (spans.toMap, jobIntervals.toList)
      spans.clear(); jobIntervals.clear(); stageSpan.clear()
      out
    }
  }
}

object SpanListener {
  val Prop = "perfbench.span"
}
