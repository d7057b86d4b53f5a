package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._

/** Benchmark-owned listener. Every job carries the local property
  * [[Probe.Key]] = "op|layer|span" that the harness sets around each
  * layer call (local properties are inherited by the threads Spark SQL
  * uses for broadcasts and subqueries, unlike a bare job group), so each
  * job, stage and task is attributed to the operation and layer that
  * caused it. */
final class Probe extends SparkListener {
  private val stageTag = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, (String, Long)]()
  /** (tag, start epoch ms, end epoch ms) of every finished job. */
  val jobs = new ConcurrentLinkedQueue[(String, Long, Long)]()
  val aggs = new ConcurrentHashMap[String, Probe.Agg]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(Probe.Key)))
      .getOrElse("-1|unattributed|-1")
    jobStart.put(e.jobId, (tag, e.time))
    e.stageIds.foreach(stageTag.put(_, tag))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val s = jobStart.remove(e.jobId)
    if (s != null) jobs.add((s._1, s._2, e.time))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = aggs.computeIfAbsent(stageTag.getOrDefault(e.stageId, "-1|unattributed|-1"),
      _ => new Probe.Agg)
    a.tasks += 1
    a.taskMs += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      a.inputRecords += m.inputMetrics.recordsRead
      a.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      a.shuffleReadRecords += m.shuffleReadMetrics.recordsRead
      a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      a.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
      a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
}

object Probe {
  val Key = "perfbench.tag"

  /** Task totals of one tag; updated only from the listener thread. */
  final class Agg {
    var tasks = 0L
    var inputRecords = 0L
    var shuffleReadBytes = 0L
    var shuffleReadRecords = 0L
    var shuffleWriteBytes = 0L
    var shuffleWriteRecords = 0L
    var spillBytes = 0L
    val taskMs = ArrayBuffer.empty[Long]
  }
}
