package stmtbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

/** Wall-clock milliseconds with sub-millisecond resolution, on the same
  * time base as Spark's listener events (`System.currentTimeMillis`). */
object Clock {
  private val wall0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs(): Double = wall0 + (System.nanoTime() - nano0) / 1e6
}

/** One span of the trace: a layer boundary the benchmark's own code
  * crossed, or a Spark job / stage / streaming trigger rebuilt from the
  * listener and progress surfaces. `parent` is -1 for a root. */
final case class Span(id: Int, parent: Int, name: String, startMs: Double, endMs: Double,
                      attrs: Map[String, Any] = Map.empty)

/** In-memory span store, written out once when the run ends. */
final class Tracer {
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty

  def add(parent: Int, name: String, startMs: Double, endMs: Double,
          attrs: Map[String, Any] = Map.empty): Int = {
    spans += Span(spans.size, parent, name, startMs, endMs, attrs)
    spans.size - 1
  }

  /** Per span name: count, total and self time. A span's self time is
    * its duration minus the part of it its children cover. */
  def selfTimes: Map[String, Map[String, Double]] = {
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (name, ss) =>
      val self = ss.map { s =>
        val kids = children.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs)).toSeq
        (s.endMs - s.startMs) - Stats.unionLength(kids, s.startMs, s.endMs)
      }
      name -> Map("count" -> ss.size.toDouble,
        "total_ms" -> ss.map(s => s.endMs - s.startMs).sum, "self_ms" -> self.sum)
    }
  }
}

/** A finished Spark job with its tasks' metrics. `queryId` is the
  * streaming query that ran it, if any. */
final class JobRecord(val id: Int, val startMs: Long, val queryId: Option[String],
                      val stageIds: Seq[Int]) {
  var endMs: Long = -1L
  var failed = false
  var tasks = 0
  var failedTasks = 0
  var runMs = 0L
  var inputBytes = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  /** completed stages that carry both timestamps: (stageId, submit, complete) */
  val stages: mutable.ArrayBuffer[(Int, Long, Long)] = mutable.ArrayBuffer.empty
}

/** Records Spark jobs, stages and tasks from the listener bus. Read it
  * only after the bus has been flushed (`GraftSqlBridge.awaitListenerBus`),
  * so every event of a finished epoch has been delivered. */
final class JobRecorder extends SparkListener {
  private val open = mutable.LinkedHashMap.empty[Int, JobRecord]
  private val stageJob = mutable.Map.empty[Int, JobRecord]
  /** Completed stages without a submission or completion time: counted
    * here, never read as a zero-length stage. */
  var stagesMissingTimes = 0

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val q = Option(e.properties).flatMap(p => Option(p.getProperty("sql.streaming.queryId")))
    val j = new JobRecord(e.jobId, e.time, q, e.stageIds)
    open(e.jobId) = j
    e.stageIds.foreach(stageJob(_) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    open.get(e.jobId).foreach { j =>
      j.endMs = e.time
      j.failed = e.jobResult != JobSucceeded
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).foreach { j =>
      j.tasks += 1
      if (!e.taskInfo.successful) j.failedTasks += 1
      Option(e.taskMetrics).foreach { m =>
        j.runMs += m.executorRunTime
        j.inputBytes += m.inputMetrics.bytesRead
        j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    stageJob.get(si.stageId).foreach { j =>
      (si.submissionTime, si.completionTime) match {
        case (Some(a), Some(b)) => j.stages += ((si.stageId, a, b))
        case _ => stagesMissingTimes += 1
      }
    }
  }

  /** Removes and returns every finished job. */
  def take(): Seq[JobRecord] = synchronized {
    val done = open.values.filter(_.endMs >= 0).toSeq
    done.foreach { j => open.remove(j.id); j.stageIds.foreach(stageJob.remove) }
    done
  }
}

/** New data-carrying micro-batch progress of the runner's queries since
  * the last call. `processAllAvailable` returns only after a trigger
  * that found no new data, and a trigger's progress is recorded before
  * the next trigger starts, so after a drain every batch it ran is here. */
final class ProgressTracker(queries: () => Seq[StreamingQuery]) {
  private val seen = mutable.Map.empty[java.util.UUID, Long]

  def take(): Seq[StreamingQueryProgress] = queries().flatMap { q =>
    val last = seen.getOrElse(q.id, -1L)
    val fresh = q.recentProgress.toSeq
      .filter(p => p.batchId > last && p.durationMs.containsKey("addBatch"))
    fresh.lastOption.foreach(p => seen(q.id) = p.batchId)
    fresh
  }
}

object Progress {
  def startMs(p: StreamingQueryProgress): Double =
    java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble

  def duration(p: StreamingQueryProgress, key: String): Double =
    Option(p.durationMs.get(key)).map(_.doubleValue).getOrElse(0.0)

  /** The trigger's phases run in this order before `addBatch`. */
  private val beforeAddBatch = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning")

  def addBatchStartMs(p: StreamingQueryProgress): Double =
    startMs(p) + beforeAddBatch.map(duration(p, _)).sum
}
