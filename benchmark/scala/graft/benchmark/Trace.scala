package graft.benchmark

import java.util.Properties

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Raw trace of one traced window: spans around the benchmark's own calls,
  * one record per Spark stage and job, and streaming progress totals.
  * Nothing is aggregated here beyond summing task metrics into their
  * stage; `metrics.py` turns the records into per-layer counters.
  */
object Trace {
  /** Local property carrying the active span's tag into every job and
    * stage submitted from the benchmark's thread. */
  val TagKey = "graft.benchmark.span"

  final case class Span(tag: String, kind: String, startMs: Double, endMs: Double)

  /** The graft module of the innermost graft frame in a stage's call site
    * (`StageInfo.details`, innermost frame first). A stage with no graft
    * frame was launched either by Spark's stream execution ("streaming") or
    * by the benchmark's own result write ("sink"). */
  def layerOf(callSite: String): String =
    callSite.linesIterator.map(_.trim)
      .find(f => f.startsWith("graft.") && !f.startsWith("graft.benchmark."))
      .map { frame =>
        val parts = frame.takeWhile(_ != '(').split('.')
        parts(1) match {
          case "operators" if parts(2).startsWith("Dedup") => "operators.Dedup"
          case "operators" if parts(2).startsWith("SimilaritySearch") =>
            "operators.SimilaritySearch"
          case m @ ("queries" | "plans" | "operators" | "la" | "storage" |
              "streaming" | "advisor") => m
          case "functions" | "api" => "operators"
          case "model" => "queries"
          case "sources" => "streaming"
          case _ => "plans" // top-level graft objects: the session extensions
        }
      }
      .getOrElse(
        if (callSite.contains("org.apache.spark.sql.execution.streaming")) "streaming"
        else "sink")
}

/** Stage and job records; every task-end lands in exactly one stage record,
  * so the stage CPU sums to the listener's total. */
final class StageListener extends SparkListener {
  import StageListener._

  private val stageRecs = mutable.LinkedHashMap.empty[(Int, Int), StageRec]
  private val submitted = mutable.HashSet.empty[Int]
  private val jobRecs = mutable.LinkedHashMap.empty[Int, JobRec]
  private var totalCpuNs = 0L

  private def tagOf(p: Properties): String =
    Option(p).flatMap(x => Option(x.getProperty(Trace.TagKey))).orNull

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val s = e.stageInfo
    submitted += s.stageId
    stageRecs((s.stageId, s.attemptNumber())) = new StageRec(s.stageId,
      s.attemptNumber(), tagOf(e.properties), Trace.layerOf(s.details),
      s.submissionTime.getOrElse(System.currentTimeMillis()))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val r = stageRecs.getOrElseUpdate((e.stageId, e.stageAttemptId),
      new StageRec(e.stageId, e.stageAttemptId, null, "sink", e.taskInfo.launchTime))
    r.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      r.cpuNs += m.executorCpuTime
      totalCpuNs += m.executorCpuTime
      r.deserMs += m.executorDeserializeTime
      r.gcMs += m.jvmGCTime
      r.schedMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime -
        (if (e.taskInfo.gettingResultTime > 0)
          e.taskInfo.finishTime - e.taskInfo.gettingResultTime else 0L))
      r.shuffleB += m.shuffleWriteMetrics.bytesWritten
      r.spillB += m.diskBytesSpilled
      r.resultB += m.resultSize
      r.ioB += m.inputMetrics.bytesRead + m.outputMetrics.bytesWritten
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val result = e.stageInfos.maxByOption(_.stageId)
    jobRecs(e.jobId) = new JobRec(e.jobId, e.time, e.stageIds,
      result.map(s => Trace.layerOf(s.details)).getOrElse("sink"))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobRecs.get(e.jobId).foreach { j =>
      j.endMs = e.time
      j.skipped = j.stageIds.count(id => !submitted.contains(id))
    }
  }

  def json: String = synchronized {
    val stages = stageRecs.values.map { r =>
      Json.arr(r.id, r.attempt, r.tag, r.layer, r.submitMs, r.cpuNs, r.deserMs,
        r.gcMs, r.schedMs, r.shuffleB, r.spillB, r.resultB, r.ioB, r.tasks)
    }
    val jobs = jobRecs.values.map(j =>
      Json.arr(j.id, j.startMs, j.endMs, j.stageIds.size, j.skipped, j.layer))
    Json.obj("stages" -> Json.raw(stages.mkString("[", ",", "]")),
      "jobs" -> Json.raw(jobs.mkString("[", ",", "]")),
      "cpu_total_ns" -> totalCpuNs)
  }
}

object StageListener {
  final class StageRec(val id: Int, val attempt: Int, val tag: String,
      val layer: String, val submitMs: Long) {
    var cpuNs, deserMs, gcMs, schedMs, shuffleB, spillB, resultB, ioB, tasks = 0L
  }
  final class JobRec(val id: Int, val startMs: Long, val stageIds: Seq[Int],
      val layer: String) {
    var endMs = -1L
    var skipped = 0
  }
}

/** Streaming progress totals. Registered through
  * `spark.sql.streaming.streamingQueryListeners`, so every session's query
  * manager (graft runs streams in child sessions) gets an instance; all
  * instances add into the one shared accumulator, and only while tracing.
  */
class StreamListener extends StreamingQueryListener {
  import StreamingQueryListener._
  override def onQueryStarted(e: QueryStartedEvent): Unit =
    if (StreamListener.enabled) StreamListener.started(e.runId.toString, e.timestamp)
  override def onQueryProgress(e: QueryProgressEvent): Unit =
    if (StreamListener.enabled) StreamListener.progress(e.progress)
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
}

object StreamListener {
  @volatile var enabled = false
  private val startMs = mutable.HashMap.empty[String, Long]
  private val firstBatchMs = mutable.HashMap.empty[String, Long]
  private val durations = mutable.LinkedHashMap.empty[String, Long]
  private var batches = 0L

  private def epochMs(iso: String): Long = java.time.Instant.parse(iso).toEpochMilli

  private def started(runId: String, ts: String): Unit = synchronized {
    startMs(runId) = epochMs(ts)
  }

  private def progress(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Unit =
    synchronized {
      batches += 1
      firstBatchMs.getOrElseUpdate(p.runId.toString, epochMs(p.timestamp))
      p.durationMs.forEach((k, v) => durations(k) = durations.getOrElse(k, 0L) + v)
    }

  def json: String = synchronized {
    val startSum = firstBatchMs.iterator.collect {
      case (id, first) if startMs.contains(id) => first - startMs(id)
    }.sum
    Json.obj("queries" -> startMs.size, "batches" -> batches,
      "start_ms" -> startSum,
      "duration_ms" -> Json.raw(Json.obj(durations.toSeq.map { case (k, v) =>
        k -> (v: Any) }: _*)))
  }
}
