package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.json4s.{JObject, JValue}
import org.json4s.JsonDSL._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Measures the engine from outside through Spark's public listeners.
  *
  * Every job is attributed to the op that submitted it, through job
  * properties set on the submitting thread (inherited by the threads graft
  * spawns for concurrent legs) or, for streaming micro-batches, the
  * batch id Spark sets itself. Only jobs submitted in a traced pass
  * (job property `perfbench.traced`, read from the job itself because
  * the bus may deliver a job's start after its pass has ended) are
  * followed: their counters, job and stage spans and per-stage task
  * times feed the per-layer metrics and are written out when the run
  * ends. Other jobs cost the listener one property or map lookup per
  * event.
  *
  * All callbacks run on Spark's single listener thread; readers call
  * [[Probe.snapshot]] only after the SparkContext has stopped, which
  * drains the listener bus. */
final class Probe extends SparkListener {
  /** set by the harness during traced passes; gates its own spans */
  @volatile var tracing = false

  final class Counts {
    var jobs, stages, stagesSkipped, tasks = 0L
    var constructJobs = 0L
    var taskDurMs, runMs, gcMs = 0L
    var cpuNs = 0L
    var inBytes, inRecords, outBytes, outRecords = 0L
    var shWriteBytes, shWriteRecords, shReadBytes, fetchWaitMs = 0L
    var spillDiskBytes, peakMemBytes = 0L
    var commitMs = 0L
    /** the stage with the longest submit-to-complete wall: (wall, skew) */
    var slowStageMs = -1L
    var slowStageSkew = 0.0

    def json: JObject =
      ("jobs" -> jobs) ~ ("stages" -> stages) ~ ("stages_skipped" -> stagesSkipped) ~
      ("tasks" -> tasks) ~ ("construct_jobs" -> constructJobs) ~
      ("task_dur_ms" -> taskDurMs) ~ ("run_ms" -> runMs) ~ ("gc_ms" -> gcMs) ~
      ("cpu_ns" -> cpuNs) ~ ("in_bytes" -> inBytes) ~ ("in_records" -> inRecords) ~
      ("out_bytes" -> outBytes) ~ ("out_records" -> outRecords) ~
      ("sh_write_bytes" -> shWriteBytes) ~ ("sh_write_records" -> shWriteRecords) ~
      ("sh_read_bytes" -> shReadBytes) ~ ("fetch_wait_ms" -> fetchWaitMs) ~
      ("spill_disk_bytes" -> spillDiskBytes) ~ ("peak_mem_bytes" -> peakMemBytes) ~
      ("commit_ms" -> commitMs) ~ ("slow_stage_ms" -> slowStageMs) ~
      ("slow_stage_skew" -> slowStageSkew)
  }

  /** op key → counts; the op key is the `perfbench.op` job property or
    * `batch:<id>` for a streaming micro-batch */
  private val counts = mutable.LinkedHashMap.empty[String, Counts]
  private val jobOp = mutable.HashMap.empty[Int, String]
  private val jobStages = mutable.HashMap.empty[Int, Seq[Int]]
  private val jobExec = mutable.HashMap.empty[Int, Long]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stageSubmit = mutable.HashMap.empty[Int, Long]
  private val stageTaskMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
  private val ranStages = mutable.HashSet.empty[Int]
  /** SQL execution id → (op, last task end of its jobs, wrote output) */
  private val execWrites = mutable.HashMap.empty[Long, (String, Long, Boolean)]
  /** appended from the listener thread and the harness thread alike */
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[JValue]

  /** (op, parent span) of a job: a micro-batch job hangs under its
    * batch, any other under the phase it was submitted in */
  private def opOf(props: java.util.Properties): Option[(String, String)] =
    Option(props).flatMap { p =>
      // the stream thread inherits the properties of the thread that
      // started it, so the batch id decides first
      Option(p.getProperty("streaming.sql.batchId")) match {
        case Some(b) =>
          val op = s"batch:${p.getProperty("sql.streaming.queryId")}:$b"
          Some(op -> op)
        case None => Option(p.getProperty(Probe.OpKey)).map { op =>
          op -> Option(p.getProperty(Probe.PhaseKey)).fold(op)(ph => s"$op/$ph")
        }
      }
    }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    opOf(e.properties).filter(_ => e.properties.getProperty(Probe.TracedKey) == "true")
      .foreach { case (op, parent) =>
        val c = counts.getOrElseUpdate(op, new Counts)
        c.jobs += 1
        if (parent.endsWith("/operators.construct")) c.constructJobs += 1
        jobOp(e.jobId) = op
        jobStages(e.jobId) = e.stageIds
        e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
        Option(e.properties.getProperty("spark.sql.execution.id"))
          .foreach(x => jobExec(e.jobId) = x.toLong)
        spans.add(("kind" -> "job") ~ ("id" -> s"job${e.jobId}") ~ ("op" -> op) ~
          ("parent" -> parent) ~ ("start_ms" -> e.time))
        ()
      }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobOp.get(e.jobId).foreach { op =>
      val c = counts(op)
      val st = jobStages.getOrElse(e.jobId, Nil)
      c.stagesSkipped += st.count(s => !ranStages.contains(s))
      spans.add(("kind" -> "job_end") ~ ("id" -> s"job${e.jobId}") ~ ("end_ms" -> e.time))
      ()
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val id = e.stageInfo.stageId
    if (stageJob.contains(id)) {
      ranStages += id
      stageSubmit(id) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
      stageTaskMs(id) = mutable.ArrayBuffer.empty
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    for (job <- stageJob.get(info.stageId); op <- jobOp.get(job)) {
      val c = counts(op)
      c.stages += 1
      val start = stageSubmit.getOrElse(info.stageId, 0L)
      val end = info.completionTime.getOrElse(start)
      val taskMs = stageTaskMs.remove(info.stageId).getOrElse(mutable.ArrayBuffer.empty)
      if (end - start > c.slowStageMs && taskMs.nonEmpty) {
        val sorted = taskMs.sorted
        val med = sorted((sorted.size - 1) / 2).max(1L)
        c.slowStageMs = end - start
        c.slowStageSkew = sorted.last.toDouble / med
      }
      spans.add(("kind" -> "stage") ~ ("id" -> s"stage${info.stageId}") ~ ("op" -> op) ~
        ("parent" -> s"job$job") ~ ("start_ms" -> start) ~ ("end_ms" -> end) ~
        ("tasks" -> info.numTasks))
      ()
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (job <- stageJob.get(e.stageId); op <- jobOp.get(job)
         if e.taskMetrics != null) {
      val c = counts(op)
      val m = e.taskMetrics
      c.tasks += 1
      c.taskDurMs += e.taskInfo.duration
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.inBytes += m.inputMetrics.bytesRead
      c.inRecords += m.inputMetrics.recordsRead
      c.outBytes += m.outputMetrics.bytesWritten
      c.outRecords += m.outputMetrics.recordsWritten
      c.shWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.shWriteRecords += m.shuffleWriteMetrics.recordsWritten
      c.shReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      c.spillDiskBytes += m.diskBytesSpilled
      c.peakMemBytes = c.peakMemBytes.max(m.peakExecutionMemory)
      stageTaskMs.get(e.stageId).foreach(_ += e.taskInfo.duration)
      jobExec.get(job).foreach { x =>
        val (o, last, wrote) = execWrites.getOrElse(x, (op, 0L, false))
        execWrites(x) = (o, last.max(e.taskInfo.finishTime),
          wrote || m.outputMetrics.bytesWritten > 0)
      }
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      execWrites.remove(s.executionId)
    case end: SparkListenerSQLExecutionEnd =>
      execWrites.remove(end.executionId).foreach {
        case (op, last, true) if last > 0 => counts(op).commitMs += end.time - last
        case _ => ()
      }
    case _ => ()
  }

  /** Harness-side span (op roots and their phases), recorded only when
    * tracing. Times are epoch milliseconds. */
  def span(kind: String, id: String, op: String, parent: String,
      startMs: Double, endMs: Double): Unit =
    if (tracing) {
      spans.add(("kind" -> kind) ~ ("id" -> id) ~ ("op" -> op) ~ ("parent" -> parent) ~
        ("start_ms" -> startMs) ~ ("end_ms" -> endMs))
      ()
    }

  def snapshot: (JObject, List[JValue]) =
    (JObject(counts.toList.map { case (k, v) => k -> (v.json: JValue) }),
      spans.toArray(Array.empty[JValue]).toList)
}

object Probe {
  val OpKey = "perfbench.op"
  val PhaseKey = "perfbench.phase"
  val TracedKey = "perfbench.traced"
}

/** Keeps each micro-batch's `StreamingQueryProgress` durations. It is
  * registered in untraced runs too, since the micro-batches are the
  * ops of `ingest_stream`: once per batch, part of every baseline. */
final class StreamProbe extends StreamingQueryListener {
  val batches = mutable.ArrayBuffer.empty[JObject]
  import StreamingQueryListener._
  def onQueryStarted(e: QueryStartedEvent): Unit = ()
  def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  def onQueryProgress(e: QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    if (p.numInputRows > 0) {
      val d = p.durationMs
      def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
      batches += ("op" -> s"batch:${p.id}:${p.batchId}") ~ ("batch" -> p.batchId) ~
        ("end_ms" -> (java.time.Instant.parse(p.timestamp).toEpochMilli +
          ms("triggerExecution"))) ~
        ("rows" -> p.numInputRows) ~
        ("trigger_ms" -> ms("triggerExecution")) ~ ("add_batch_ms" -> ms("addBatch")) ~
        ("plan_ms" -> ms("queryPlanning")) ~
        ("commit_ms" -> (ms("walCommit") + ms("commitOffsets")))
    }
  }
}
