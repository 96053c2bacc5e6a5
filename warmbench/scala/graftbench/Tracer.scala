package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark's own counters for one call of one traced pass. Listener threads
  * write it (under its lock); the calling thread reads it once the bus is
  * drained. */
final class Span(val call: String, val layer: String) {
  var t0Ms = 0L
  var t1Ms = 0L
  var failed = false
  // scheduler
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var failedTasks = 0L
  var untaggedTasks = 0L
  var taskCpuNs = 0L
  var taskRunMs = 0L
  var taskGcMs = 0L
  var inputRecords = 0L
  var inputBytes = 0L
  var shuffleWriteBytes = 0L
  var shuffleWriteRecords = 0L
  var shuffleReadBytes = 0L
  var fetchWaitMs = 0L
  var spillBytes = 0L
  var outputBytes = 0L
  var persistBytes = 0L
  val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  // SQL
  var planningMs = 0L
  // streaming progress
  var batches = 0L
  var streamInputRows = 0L
  var addBatchMs = 0L
  var walCommitMs = 0L
  var commitOffsetsMs = 0L
  var queryPlanningMs = 0L
  var stateCommitMs = 0L
  /** per streaming run: peak state rows and bytes over its batches */
  val statePeak = mutable.Map.empty[java.util.UUID, (Long, Long)]

  def wallMs: Long = t1Ms - t0Ms

  /** Call time during which no task of this call was running. */
  def driverBusyMs: Long = {
    val iv = taskIntervals.iterator
      .map { case (a, b) => (math.max(a, t0Ms), math.min(b, t1Ms)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var covered = 0L
    var end = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a >= end) { covered += b - a; end = b }
      else if (b > end) { covered += b - end; end = b }
    }
    wallMs - covered
  }
}

/** One listener for the scheduler, SQL executions and streaming progress.
  * Stages are attributed to the span whose id the submitting thread carried
  * in the `Tracer.TagKey` local property (inherited by streaming and
  * broadcast threads); everything without a tag goes to the open span. */
final class Tracer extends SparkListener with QueryExecutionListener {
  @volatile var open: Span = _
  private val byTag = new ConcurrentHashMap[String, Span]()
  private val stageSpan = new ConcurrentHashMap[Int, Span]()

  def register(id: String, s: Span): Unit = byTag.put(id, s)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tag = Option(e.properties).flatMap(p =>
      Option(p.getProperty(Tracer.TagKey)))
    val s = tag.flatMap(t => Option(byTag.get(t))).orNull
    if (s != null) e.stageIds.foreach(stageSpan.put(_, s))
    val target = if (s != null) s else open
    if (target != null) target.synchronized { target.jobs += 1 }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = Option(stageSpan.get(e.stageInfo.stageId)).getOrElse(open)
    if (s != null) s.synchronized { s.stages += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val tagged = stageSpan.get(e.stageId)
    val s = if (tagged != null) tagged else open
    if (s == null) return
    s.synchronized {
      s.tasks += 1
      if (tagged == null) s.untaggedTasks += 1
      if (e.reason != org.apache.spark.Success)
        s.failedTasks += 1
      val info = e.taskInfo
      if (info != null) s.taskIntervals += ((info.launchTime, info.finishTime))
      val m = e.taskMetrics
      if (m != null) {
        s.taskCpuNs += m.executorCpuTime
        s.taskRunMs += m.executorRunTime
        s.taskGcMs += m.jvmGCTime
        s.inputRecords += m.inputMetrics.recordsRead
        s.inputBytes += m.inputMetrics.bytesRead
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
        s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        s.spillBytes += m.diskBytesSpilled
        s.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val b = e.blockUpdatedInfo
    val s = open
    if (s != null && b.blockId.isRDD && b.storageLevel.isValid)
      s.synchronized { s.persistBytes += b.memSize + b.diskSize }
  }

  private def planning(qe: QueryExecution): Unit = {
    val s = open
    if (s != null) {
      val ms = qe.tracker.phases.values.map(_.durationMs).sum
      s.synchronized { s.planningMs += ms }
    }
  }
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
    planning(qe)
  override def onFailure(f: String, qe: QueryExecution, ex: Exception)
      : Unit = planning(qe)

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent)
        : Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val s = open
      if (s == null) return
      val p = e.progress
      def d(k: String): Long =
        Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      s.synchronized {
        s.batches += 1
        s.streamInputRows += p.numInputRows
        s.addBatchMs += d("addBatch")
        s.walCommitMs += d("walCommit")
        s.commitOffsetsMs += d("commitOffsets")
        s.queryPlanningMs += d("queryPlanning")
        s.stateCommitMs += p.stateOperators.map(_.commitTimeMs).sum
        val rows = p.stateOperators.map(_.numRowsTotal).sum
        val bytes = p.stateOperators.map(_.memoryUsedBytes).sum
        val (r0, b0) = s.statePeak.getOrElse(p.runId, (0L, 0L))
        s.statePeak(p.runId) = (math.max(r0, rows), math.max(b0, bytes))
      }
    }
  }
}

object Tracer {
  val TagKey = "graftbench.span"

  /** Per-pass layer and engine metrics from the spans of one traced pass. */
  def passMetrics(spans: Seq[Span], layers: Seq[String]): Map[String, Double] = {
    val m = mutable.LinkedHashMap.empty[String, Double]
    def sec(ms: Long): Double = ms / 1000.0
    layers.foreach { l =>
      val ss = spans.filter(_.layer == l)
      m(s"$l.call_s") = sec(ss.map(_.wallMs).sum)
      m(s"$l.calls") = ss.size.toDouble
      m(s"$l.failed") = ss.count(_.failed).toDouble
      m(s"$l.jobs") = ss.map(_.jobs).sum.toDouble
      m(s"$l.input_bytes") = ss.map(_.inputBytes).sum.toDouble
      m(s"$l.output_bytes") = ss.map(_.outputBytes).sum.toDouble
    }
    val st = spans.filter(_.layer == "streaming")
    m("streaming.batches") = st.map(_.batches).sum.toDouble
    m("streaming.input_rows") = st.map(_.streamInputRows).sum.toDouble
    m("streaming.add_batch_s") = sec(st.map(_.addBatchMs).sum)
    m("streaming.wal_commit_s") = sec(st.map(_.walCommitMs).sum)
    m("streaming.commit_offsets_s") = sec(st.map(_.commitOffsetsMs).sum)
    m("streaming.query_planning_s") = sec(st.map(_.queryPlanningMs).sum)
    m("streaming.state_commit_s") = sec(st.map(_.stateCommitMs).sum)
    m("streaming.state_rows") =
      st.map(_.statePeak.values.map(_._1).sum).sum.toDouble
    m("streaming.state_bytes") =
      st.map(_.statePeak.values.map(_._2).sum).sum.toDouble
    def tot(f: Span => Long): Double = spans.map(f).sum.toDouble
    m("spark.planning_s") = sec(spans.map(_.planningMs).sum)
    m("spark.jobs") = tot(_.jobs)
    m("spark.stages") = tot(_.stages)
    m("spark.tasks") = tot(_.tasks)
    m("spark.untagged_tasks") = tot(_.untaggedTasks)
    m("spark.task_cpu_s") = tot(_.taskCpuNs) / 1e9
    m("spark.task_run_s") = sec(spans.map(_.taskRunMs).sum)
    m("spark.task_wait_s") =
      m("spark.task_run_s") - m("spark.task_cpu_s")
    m("spark.task_gc_s") = sec(spans.map(_.taskGcMs).sum)
    m("spark.input_records") = tot(_.inputRecords)
    m("spark.input_bytes") = tot(_.inputBytes)
    m("spark.shuffle_write_bytes") = tot(_.shuffleWriteBytes)
    m("spark.shuffle_write_records") = tot(_.shuffleWriteRecords)
    m("spark.shuffle_read_bytes") = tot(_.shuffleReadBytes)
    m("spark.shuffle_fetch_wait_s") = sec(spans.map(_.fetchWaitMs).sum)
    m("spark.spill_bytes") = tot(_.spillBytes)
    m("spark.output_bytes") = tot(_.outputBytes)
    m("spark.persist_bytes") = tot(_.persistBytes)
    m("spark.failed_tasks") = tot(_.failedTasks)
    m("driver.busy_s") = sec(spans.map(_.driverBusyMs).sum)
    m.toMap
  }
}
