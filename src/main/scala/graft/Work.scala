package graft

import java.util.UUID
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.graft.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** The work a piece of code makes Spark do, read from Spark's own task and
  * streaming-progress metrics (no stopwatch): shuffle write volume and
  * spill over its stages — the communication cost a plan change moves —
  * the Spark jobs it started, and, per streaming run it launches,
  * micro-batches, peak state and the commit-path times. */
object Work {
  /** One streaming run (one `runId`), summed or peaked over its progress
    * events. Peaks are the max across batches of the sum over the run's
    * state operators; a stateless run reads 0/0. */
  final case class Run(name: String, dataBatches: Int = 0,
                       peakStateRows: Long = 0, peakStateBytes: Long = 0,
                       addBatchMs: Long = 0, walCommitMs: Long = 0,
                       commitOffsetsMs: Long = 0, queryPlanningMs: Long = 0,
                       stateCommitMs: Long = 0)

  /** Shuffle write and spill over attempt-0 stages (a retried attempt
    * would count its writes twice), the jobs started, plus the streaming
    * runs in start order. */
  final case class Report(shuffleBytes: Long, shuffleRecords: Long,
                          spillBytes: Long, jobs: Long, runs: Seq[Run])

  /** Run `thunk` on `spark` and return its result with the work it did.
    * The bus is drained before the listeners attach, so events of earlier
    * work are not counted, and again after the thunk, so all of its own
    * are. Other jobs on the same SparkContext in that window count too,
    * and streaming runs of the same session. */
  def measure[T](spark: SparkSession)(thunk: => T): (T, Report) = {
    val sc = spark.sparkContext
    val bytes, records, spill, jobs = new AtomicLong
    val runs = scala.collection.mutable.LinkedHashMap.empty[UUID, Run]
    def update(id: UUID, name: String)(f: Run => Run): Unit =
      runs.synchronized {
        runs(id) = f(runs.getOrElse(id,
          Run(Option(name).getOrElse(id.toString))))
      }
    val stages = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (e.stageInfo.attemptNumber() == 0) {
          val m = e.stageInfo.taskMetrics
          bytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          records.addAndGet(m.shuffleWriteMetrics.recordsWritten)
          spill.addAndGet(m.diskBytesSpilled)
        }
    }
    val streams = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit =
        update(e.runId, e.name)(identity)
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        val p = e.progress
        def ms(k: String): Long =
          Option(p.durationMs.get(k)).fold(0L)(_.longValue)
        val ops = p.stateOperators
        update(p.runId, p.name)(r => r.copy(
          dataBatches = r.dataBatches + (if (p.numInputRows > 0) 1 else 0),
          peakStateRows = r.peakStateRows max ops.map(_.numRowsTotal).sum,
          peakStateBytes = r.peakStateBytes max ops.map(_.memoryUsedBytes).sum,
          addBatchMs = r.addBatchMs + ms("addBatch"),
          walCommitMs = r.walCommitMs + ms("walCommit"),
          commitOffsetsMs = r.commitOffsetsMs + ms("commitOffsets"),
          queryPlanningMs = r.queryPlanningMs + ms("queryPlanning"),
          stateCommitMs = r.stateCommitMs + ops.map(_.commitTimeMs).sum))
      }
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    ListenerBus.drain(sc)
    sc.addSparkListener(stages)
    spark.streams.addListener(streams)
    try {
      val result = thunk
      ListenerBus.drain(sc)
      (result, Report(bytes.get, records.get, spill.get, jobs.get,
        runs.synchronized(runs.values.toList)))
    } finally {
      spark.streams.removeListener(streams)
      sc.removeSparkListener(stages)
    }
  }
}
