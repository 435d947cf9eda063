package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.storage.RDDBlockId

/** Records what a run's Spark jobs did, as flat rows kept in memory and
  * written out once the run ends. Every timestamp is epoch milliseconds
  * from the event itself, so late delivery on the listener bus cannot
  * move a record into the wrong pass.
  *
  * `full = false` keeps only per-task (finish time, records read), which
  * the untraced run needs for `input_rows_per_s`; `full = true` is the
  * traced run: jobs, stages, per-stage task metrics, cached-block sizes
  * and streaming progress.
  */
final class Tracer(full: Boolean) extends SparkListener {
  private val lock = new Object
  val taskRecords = ArrayBuffer.empty[(Long, Long)]
  val jobs = ArrayBuffer.empty[Map[String, Any]]
  val stages = ArrayBuffer.empty[Map[String, Any]]
  val blocks = ArrayBuffer.empty[(Long, Double)]
  val progress = ArrayBuffer.empty[Map[String, Any]]

  private val jobStarts = scala.collection.mutable.Map.empty[Int, (Long, String, Seq[Int])]
  private val submitted = scala.collection.mutable.Set.empty[Int]
  private val stageTasks = scala.collection.mutable.Map.empty[(Int, Int), Array[Double]]
  private val blockBytes = scala.collection.mutable.Map.empty[String, Long]
  private var cachedBytes = 0L

  // per-stage task sums, in this order
  private val TaskFields = Seq("tasks", "run_ms", "cpu_ns", "gc_ms", "deser_ms",
    "sched_delay_ms", "input_bytes", "records_in", "output_bytes",
    "shuffle_write_bytes", "shuffle_read_bytes", "fetch_wait_ms", "spill_bytes")

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val info = e.taskInfo
    lock.synchronized {
      val rec = m.inputMetrics.recordsRead
      if (rec > 0) taskRecords += ((info.finishTime, rec))
      if (full) {
        val a = stageTasks.getOrElseUpdate((e.stageId, e.stageAttemptId),
          new Array[Double](TaskFields.size))
        val sched = math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          info.gettingResultTime)
        val sr = m.shuffleReadMetrics
        val vals = Seq(1.0, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
          m.executorDeserializeTime, sched, m.inputMetrics.bytesRead, rec,
          m.outputMetrics.bytesWritten, m.shuffleWriteMetrics.bytesWritten,
          sr.remoteBytesRead + sr.localBytesRead, sr.fetchWaitTime,
          m.memoryBytesSpilled + m.diskBytesSpilled)
        vals.zipWithIndex.foreach { case (v, i) => a(i) += v.toDouble }
      }
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (full) {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    lock.synchronized {
      jobStarts(e.jobId) = (e.time, group, e.stageInfos.map(_.stageId))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (full) lock.synchronized {
    jobStarts.remove(e.jobId).foreach { case (start, group, stageIds) =>
      jobs += Map("id" -> e.jobId, "start" -> start, "end" -> e.time,
        "group" -> group, "stages" -> stageIds.size,
        "skipped" -> stageIds.count(id => !submitted(id)),
        "ok" -> (e.jobResult == JobSucceeded))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    if (full) lock.synchronized { submitted += e.stageInfo.stageId }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (full) {
    val s = e.stageInfo
    lock.synchronized {
      val sums = stageTasks.remove((s.stageId, s.attemptNumber()))
        .getOrElse(new Array[Double](TaskFields.size))
      stages += (Map[String, Any]("id" -> s.stageId,
        "start" -> s.submissionTime.getOrElse(0L),
        "end" -> s.completionTime.getOrElse(0L)) ++ TaskFields.zip(sums))
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = if (full) {
    val b = e.blockUpdatedInfo
    if (b.blockId.isInstanceOf[RDDBlockId]) lock.synchronized {
      val size = if (b.storageLevel.isValid) b.memSize + b.diskSize else 0L
      val key = s"${b.blockManagerId.executorId}/${b.blockId}"
      cachedBytes += size - blockBytes.getOrElse(key, 0L)
      if (size == 0) blockBytes.remove(key) else blockBytes(key) = size
      blocks += ((System.currentTimeMillis(), cachedBytes.toDouble))
    }
  }

  /** Micro-batch progress of every streaming query the run starts. */
  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs
      def ms(k: String): Long = if (d.containsKey(k)) d.get(k).longValue else 0L
      lock.synchronized {
        progress += Map("run" -> p.runId.toString, "batch" -> p.batchId,
          "start" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
          "trigger_ms" -> ms("triggerExecution"), "planning_ms" -> ms("queryPlanning"),
          "wal_ms" -> ms("walCommit"), "add_batch_ms" -> ms("addBatch"),
          "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum,
          "input_rows" -> p.numInputRows)
      }
    }
  }

  def snapshot: Map[String, Any] = lock.synchronized {
    Map("tasks" -> taskRecords.map { case (t, r) => Seq(t, r) }.toSeq,
      "jobs" -> jobs.toSeq, "stages" -> stages.toSeq,
      "blocks" -> blocks.map { case (t, b) => Seq(t, b) }.toSeq,
      "progress" -> progress.toSeq)
  }
}
