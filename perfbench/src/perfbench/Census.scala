package perfbench

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

import scala.collection.mutable

/** Traced-run observer. Registered only with `--trace 1`; it watches the
  * program from outside through Spark's public listener interfaces and
  * attributes every job, stage and task to the span (one timed op) whose
  * job group was set when the job was submitted. Everything stays in
  * memory until the run ends. */
final class Census extends SparkListener {
  final class StageRec(val group: String, val start: Long)
  final class GroupRec {
    var jobs = 0
    var stages = 0
    var tasks = 0
    var taskMs = 0L
    var schedDelayMs = 0L
    var nonemptyTasks = 0
    var failedTasks = 0
    var shuffleReadBytes = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
    var singleTaskStageMs = 0L
    val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
  }

  private val aliases = mutable.HashMap.empty[String, String]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val stages = mutable.HashMap.empty[Int, StageRec]
  private val groups = mutable.HashMap.empty[String, GroupRec]

  private def group(g: String): GroupRec = groups.getOrElseUpdate(g, new GroupRec)

  /** Jobs submitted under job group `from` belong to span `to` (a
    * streaming query submits its micro-batch jobs under its run id). */
  def alias(from: String, to: String): Unit = synchronized { aliases(from) = to }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val raw = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    val g = aliases.getOrElse(raw, raw)
    group(g).jobs += 1
    e.stageIds.foreach(id => stageGroup(id) = g)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val info = e.stageInfo
    val rec = new StageRec(stageGroup.getOrElse(info.stageId, ""),
      info.submissionTime.getOrElse(System.currentTimeMillis()))
    stages(info.stageId) = rec
    group(rec.group).stages += 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    stages.remove(info.stageId).foreach { rec =>
      val end = info.completionTime.getOrElse(System.currentTimeMillis())
      val g = group(rec.group)
      g.intervals += ((rec.start, end))
      if (info.numTasks == 1) g.singleTaskStageMs += end - rec.start
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val g = group(stageGroup.getOrElse(e.stageId, ""))
    g.tasks += 1
    if (e.reason != Success) g.failedTasks += 1
    val info = e.taskInfo
    val m = e.taskMetrics
    if (m != null) {
      g.taskMs += m.executorRunTime
      val gettingResult = if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
      g.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - gettingResult)
      if (m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead > 0) g.nonemptyTasks += 1
      g.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      g.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      g.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** The census of one span's job group (empty if it ran no job). */
  def of(g: String): GroupRec = synchronized(groups.getOrElse(g, new GroupRec))
}

object Census {
  /** Wall time of [start, end] not covered by any of `intervals`, and
    * the longest single uncovered gap. */
  def uncovered(start: Long, end: Long, intervals: Seq[(Long, Long)]): (Long, Long) = {
    var cursor = start
    var total = 0L
    var maxGap = 0L
    intervals.map { case (a, b) => (math.max(a, start), math.min(b, end)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (a > cursor) { total += a - cursor; maxGap = math.max(maxGap, a - cursor) }
        cursor = math.max(cursor, b)
      }
    if (end > cursor) { total += end - cursor; maxGap = math.max(maxGap, end - cursor) }
    (total, maxGap)
  }
}

/** Streaming side of the census: sums `StreamingQueryProgress` over
  * every micro-batch of the queries `track`ed (the timed feeds). Events
  * arrive on the listener bus; drain it before reading `sums`. */
final class StreamCensus extends StreamingQueryListener {
  private val runs = java.util.concurrent.ConcurrentHashMap.newKeySet[java.util.UUID]()
  val sums: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap(
    "batches" -> 0.0, "nonempty_batches" -> 0.0, "trigger_ms" -> 0.0,
    "add_batch_ms" -> 0.0, "planning_ms" -> 0.0, "wal_commit_ms" -> 0.0,
    "state_rows" -> 0.0, "state_commit_ms" -> 0.0)

  /** Counts the progress of the query run `runId` from now on. */
  def track(runId: java.util.UUID): Unit = runs.add(runId)

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    if (runs.contains(e.progress.runId)) synchronized {
      val p = e.progress
      def dur(k: String): Double = Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      def add(k: String, v: Double): Unit = sums(k) = sums(k) + v
      add("batches", 1)
      if (p.numInputRows > 0) add("nonempty_batches", 1)
      add("trigger_ms", dur("triggerExecution"))
      add("add_batch_ms", dur("addBatch"))
      add("planning_ms", dur("queryPlanning"))
      add("wal_commit_ms", dur("walCommit"))
      p.stateOperators.foreach { s =>
        add("state_rows", s.numRowsUpdated.toDouble)
        add("state_commit_ms", s.commitTimeMs.toDouble)
      }
    }
}
