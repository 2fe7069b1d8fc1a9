package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Counts the work Spark does inside each phase and tables span of a
  * traced pass.
  *
  * Events are buffered while the pass runs; [[detach]] drains the listener
  * bus and attributes them. A job belongs to the span whose
  * `setJobGroup(query, phase)` tag it carries; a job without such a tag
  * (a streaming micro-batch runs under its own run-id group) belongs to the
  * span that was open when it was submitted. Stages and tasks follow their
  * job; a streaming progress event follows its trigger start time.
  */
final class Tracer(spans: Spans) extends SparkListener {
  import Tracer._

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageSubmit = mutable.LinkedHashMap.empty[Int, Long]
  private val tasks = ArrayBuffer.empty[Task]
  private val batches = ArrayBuffer.empty[Batch]
  private var firstSpan = 0

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
    val ml = e.stageInfos.exists(_.details.contains("org.apache.spark.ml."))
    jobs(e.jobId) = Job(prop("spark.jobGroup.id"), prop("spark.job.description"),
      e.time, ml, e.time)
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageSubmit(e.stageInfo.stageId) =
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = Option(e.taskMetrics)
    def metric(f: org.apache.spark.executor.TaskMetrics => Long) = m.map(f).getOrElse(0L)
    tasks += Task(e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime,
      metric(_.executorCpuTime), metric(_.jvmGCTime),
      metric(_.shuffleWriteMetrics.bytesWritten), metric(_.shuffleReadMetrics.totalBytesRead),
      metric(_.diskBytesSpilled), !e.taskInfo.successful)
  }

  val streams: StreamingQueryListener = new StreamingQueryListener {
    import StreamingQueryListener._
    def onQueryStarted(e: QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: QueryProgressEvent): Unit = Tracer.this.synchronized {
      val p = e.progress
      def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      val ops = Option(p.stateOperators).map(_.toSeq).getOrElse(Nil)
      batches += Batch(java.time.Instant.parse(p.timestamp).toEpochMilli, p.runId.toString,
        d("triggerExecution"), d("addBatch"), d("walCommit"),
        ops.map(_.numRowsTotal).sum, ops.map(_.commitTimeMs).sum)
    }
  }

  def attach(spark: SparkSession): Unit = {
    firstSpan = spans.all.size
    spark.sparkContext.addSparkListener(this)
    spark.streams.addListener(streams)
  }

  def detach(spark: SparkSession): Unit = {
    org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.streams.removeListener(streams)
    synchronized { attribute(); clear() }
  }

  private def clear(): Unit = {
    jobs.clear(); stageJob.clear(); stageSubmit.clear(); tasks.clear(); batches.clear()
  }

  private def attribute(): Unit = {
    val targets = spans.all.drop(firstSpan)
      .filter(s => s.kind == "phase" || s.kind == "tables").toSeq
    def tagOf(s: Span) = if (s.kind == "tables") ("tables", s.query) else (s.query, s.phase)
    def openAt(t: Long) = targets.filter(s => s.startMs <= t).lastOption
    val jobSpan = jobs.flatMap { case (id, j) =>
      val tagged = targets.filter(s => tagOf(s) == ((j.group, j.desc)))
      val span =
        if (tagged.isEmpty) openAt(j.startMs).filter(_.kind == "phase")
        else tagged.find(s => s.startMs - 1 <= j.startMs && j.startMs <= s.endMs + 1)
          .orElse(tagged.lastOption)
      span.map(id -> _)
    }
    targets.foreach { s =>
      Seq("jobs", "stages", "tasks", "task_s", "cpu_s", "gc_s", "task_wait_s",
        "max_task_s", "shuffle_write_mb", "shuffle_read_mb", "spill_mb",
        "task_failures", "ml_s", "batches", "trigger_s", "add_batch_s",
        "wal_commit_s", "state_rows", "state_commit_s").foreach(s.put(_, 0.0))
    }
    jobSpan.foreach { case (id, s) =>
      s.add("jobs", 1)
      val j = jobs(id)
      if (j.ml) s.add("ml_s", (j.endMs - j.startMs) / 1e3)
    }
    def spanOfStage(stage: Int) = stageJob.get(stage).flatMap(jobSpan.get)
    stageSubmit.keys.foreach(st => spanOfStage(st).foreach(_.add("stages", 1)))
    val mb = 1024.0 * 1024.0
    tasks.foreach { t =>
      spanOfStage(t.stage).foreach { s =>
        val dur = (t.finish - t.launch) / 1e3
        s.add("tasks", 1)
        s.add("task_s", dur)
        s.add("cpu_s", t.cpuNs / 1e9)
        s.add("gc_s", t.gcMs / 1e3)
        s.add("task_wait_s",
          math.max(0L, t.launch - stageSubmit.getOrElse(t.stage, t.launch)) / 1e3)
        s.put("max_task_s", math.max(s.stats("max_task_s"), dur))
        s.add("shuffle_write_mb", t.shWrite / mb)
        s.add("shuffle_read_mb", t.shRead / mb)
        s.add("spill_mb", t.spill / mb)
        if (t.failed) s.add("task_failures", 1)
      }
    }
    val lastState = mutable.Map.empty[(Int, String), Long]
    batches.foreach { b =>
      openAt(b.startMs).filter(_.kind == "phase").foreach { s =>
        s.add("batches", 1)
        s.add("trigger_s", b.triggerMs / 1e3)
        s.add("add_batch_s", b.addBatchMs / 1e3)
        s.add("wal_commit_s", b.walMs / 1e3)
        s.add("state_commit_s", b.stateCommitMs / 1e3)
        lastState((s.id, b.run)) = b.stateRows
      }
    }
    lastState.foreach { case ((id, _), rows) => spans.all(id).add("state_rows", rows.toDouble) }
  }
}

object Tracer {
  private final case class Job(group: String, desc: String, startMs: Long, ml: Boolean,
                               var endMs: Long)
  private final case class Task(stage: Int, launch: Long, finish: Long, cpuNs: Long,
                                gcMs: Long, shWrite: Long, shRead: Long, spill: Long,
                                failed: Boolean)
  private final case class Batch(startMs: Long, run: String, triggerMs: Long,
                                 addBatchMs: Long, walMs: Long, stateRows: Long,
                                 stateCommitMs: Long)
}
