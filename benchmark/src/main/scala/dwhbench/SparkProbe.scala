package dwhbench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.collection.mutable

/** Spark-side counts per benchmark operation, measured from outside the
  * program: jobs are attributed to an op by the job tag the calling
  * thread set ([[SparkProbe.tagged]]) or, for micro-batch jobs, by the
  * streaming batch id they carry. Listener events arrive asynchronously;
  * read [[perOp]] and [[progressEvents]] only after the session has
  * stopped (which drains the listener bus). */
final class SparkProbe extends SparkListener {
  import SparkProbe._

  final class OpStats {
    var jobs, stages, tasks = 0L
    var schedDelayMs, taskRunMs, taskCpuMs, gcMs = 0.0
    var inputBytes, shuffleReadBytes, shuffleWriteBytes, spillBytes = 0L
    val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)] // ms, ms
  }

  private val ops = new ConcurrentHashMap[Long, OpStats]()
  private val jobOp = new ConcurrentHashMap[Int, Long]()
  private val jobStart = new ConcurrentHashMap[Int, Long]()
  private val stageOp = new ConcurrentHashMap[Int, Long]()
  private val progress = mutable.ArrayBuffer.empty[StreamingQueryListener
    .QueryProgressEvent]

  /** Micro-batch jobs count only for this streaming query id. */
  @volatile var liveQueryId: String = ""

  private def stats(op: Long): OpStats =
    ops.computeIfAbsent(op, _ => new OpStats)

  private def opOf(props: java.util.Properties): Option[Long] =
    Option(props).flatMap { p =>
      Option(p.getProperty("spark.job.tags")).toSeq
        .flatMap(_.split(",")).collectFirst {
          case t if t.startsWith(TagPrefix) =>
            t.stripPrefix(TagPrefix).toLong
        }
        .orElse(Option(p.getProperty("streaming.sql.batchId"))
          .filter(_ => p.getProperty("sql.streaming.queryId") == liveQueryId)
          .map(b => BatchOpBase + b.toLong))
    }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    opOf(e.properties).foreach { op =>
      jobOp.put(e.jobId, op)
      jobStart.put(e.jobId, e.time)
      e.stageIds.foreach(stageOp.put(_, op))
      val s = stats(op)
      s.synchronized { s.jobs += 1 }
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobOp.get(e.jobId)).foreach { op =>
      val s = stats(op)
      s.synchronized { s.jobSpans += ((jobStart.get(e.jobId), e.time)) }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageOp.get(e.stageInfo.stageId)).foreach { op =>
      val s = stats(op)
      s.synchronized { s.stages += 1 }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageOp.get(e.stageId)).foreach { op =>
      val s = stats(op)
      val m = e.taskMetrics
      val i = e.taskInfo
      s.synchronized {
        s.tasks += 1
        if (m != null) {
          s.taskRunMs += m.executorRunTime
          s.taskCpuMs += m.executorCpuTime / 1e6
          s.gcMs += m.jvmGCTime
          s.inputBytes += m.inputMetrics.bytesRead
          s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          // the Spark UI's scheduler delay: task duration not spent
          // deserializing, running, serializing or fetching the result
          s.schedDelayMs += math.max(0L, i.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime -
            (if (i.gettingResult) i.finishTime - i.gettingResultTime
             else 0L))
        }
      }
    }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(
        e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.synchronized { progress += e }
  }

  def perOp(op: Long): Option[OpStats] = Option(ops.get(op))

  def progressEvents: Seq[StreamingQueryListener.QueryProgressEvent] =
    progress.synchronized(progress.toList)
}

object SparkProbe {
  val TagPrefix = "dwhbench-op-"
  /** Op ids of micro-batch `b` are `BatchOpBase + b`. */
  val BatchOpBase = 1000000L

  /** Run `body` with the calling thread's jobs tagged as op `op`. */
  def tagged[T](sc: SparkContext, op: Long)(body: => T): T = {
    val tag = TagPrefix + op
    sc.addJobTag(tag)
    try body finally sc.removeJobTag(tag)
  }

  /** Length of the union of `[start, end]` intervals. */
  def unionMs(spans: Seq[(Long, Long)]): Long =
    spans.sortBy(_._1).foldLeft((0L, Long.MinValue)) {
      case ((acc, hi), (s, e)) =>
        if (e <= hi) (acc, hi)
        else (acc + e - math.max(s, hi), e)
    }._1
}
