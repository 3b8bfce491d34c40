package org.apache.spark.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval. `trace` groups the spans of one operation (a
  * query execution or a micro-batch); `parent` is the id of the span
  * that caused it, or -1 for a root. Times are epoch milliseconds.
  */
final case class Span(id: Long, name: String, trace: String, parent: Long,
    startMs: Double, endMs: Double)

/** Spans kept in memory and written out when the run ends. */
final class SpanLog {
  private val next = new java.util.concurrent.atomic.AtomicLong(0)
  private val buf = mutable.ArrayBuffer.empty[Span]
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()

  /** Epoch milliseconds with nanoTime resolution. */
  def nowMs(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  def add(name: String, trace: String, parent: Long,
      startMs: Double, endMs: Double): Long = synchronized {
    val id = next.getAndIncrement()
    buf += Span(id, name, trace, parent, startMs, endMs)
    id
  }

  def spans: Seq[Span] = synchronized(buf.toList)
}

/** Scheduler, task and shuffle counters per job group, read from Spark's
  * own listener events. The benchmark registers it only in traced runs.
  *
  * `groupOf` maps a job's properties to the operation it belongs to:
  * the job group for batch queries, the micro-batch id for streams.
  */
final class SchedulerTrace(groupOf: java.util.Properties => Option[String])
    extends SparkListener {

  final class Counts {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var taskWaitMs = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L; var input = 0L
    /** max / median task duration of each stage with 2+ tasks */
    val skews = mutable.ArrayBuffer.empty[Double]
    /** (job start, job end) epoch ms */
    val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]

    def toMap: Map[String, Any] = synchronized(Map(
      "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
      "task_wait_ms" -> taskWaitMs, "executor_run_ms" -> runMs,
      "executor_cpu_ms" -> cpuNs / 1e6, "gc_ms" -> gcMs,
      "shuffle_write_bytes" -> shuffleWrite, "shuffle_read_bytes" -> shuffleRead,
      "spill_bytes" -> spill, "input_bytes" -> input, "stage_skews" -> skews.toList,
      "job_spans" -> jobSpans.toList.map(x => List(x._1, x._2))))
  }

  private val byGroup = new ConcurrentHashMap[String, Counts]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val stageSubmitted = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageTaskMs = new ConcurrentHashMap[Int, mutable.ArrayBuffer[Long]]()
  private val jobGroup = new ConcurrentHashMap[Int, (String, Long)]()

  private def counts(g: String): Counts = byGroup.computeIfAbsent(g, _ => new Counts)

  def snapshot: Map[String, Counts] = byGroup.asScala.toMap

  override def onJobStart(e: SparkListenerJobStart): Unit =
    groupOf(e.properties).foreach { g =>
      val c = counts(g)
      c.synchronized { c.jobs += 1; c.stages += e.stageIds.size }
      e.stageIds.foreach(stageGroup.put(_, g))
      jobGroup.put(e.jobId, (g, e.time))
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobGroup.remove(e.jobId)).foreach { case (g, start) =>
      val c = counts(g)
      c.synchronized { c.jobSpans += (start -> e.time) }
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    e.stageInfo.submissionTime.foreach(t =>
      stageSubmitted.put(e.stageInfo.stageId, t))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageGroup.get(e.stageId)).foreach { g =>
      val c = counts(g)
      val info = e.taskInfo
      val m = Option(e.taskMetrics)
      c.synchronized {
        c.tasks += 1
        Option(stageSubmitted.get(e.stageId)).foreach(s =>
          c.taskWaitMs += math.max(0L, info.launchTime - s))
        m.foreach { tm =>
          c.runMs += tm.executorRunTime
          c.cpuNs += tm.executorCpuTime
          c.gcMs += tm.jvmGCTime
          c.shuffleWrite += tm.shuffleWriteMetrics.bytesWritten
          c.shuffleRead += tm.shuffleReadMetrics.totalBytesRead
          c.spill += tm.memoryBytesSpilled + tm.diskBytesSpilled
          c.input += tm.inputMetrics.bytesRead
        }
      }
      val ds = stageTaskMs.computeIfAbsent(e.stageId,
        _ => mutable.ArrayBuffer.empty[Long])
      ds.synchronized { ds += info.duration }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val id = e.stageInfo.stageId
    stageSubmitted.remove(id)
    val ds = Option(stageTaskMs.remove(id)).map(_.sorted).getOrElse(Nil)
    Option(stageGroup.remove(id)).foreach { g =>
      if (ds.size >= 2) {
        val med = ds(ds.size / 2).max(1L)
        val c = counts(g)
        c.synchronized { c.skews += ds.last.toDouble / med }
      }
    }
  }
}

object SchedulerTrace {
  /** Block until every event posted so far reached the listeners. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
