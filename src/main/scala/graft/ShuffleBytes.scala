package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Dev tool: total shuffle WRITE volume (bytes + records) for named catalog
  * queries — the direct evidence behind "this replan changes what the
  * corpus-wide shuffle CARRIES", which small-SF wall-clock cannot see (at
  * sf0.1 both span-dedup plans shuffle megabytes; at 100 TB the difference
  * is petabytes vs terabytes). Sums every stage's shuffleWriteMetrics over
  * one noop-sink execution per query.
  * Usage: sbt "runMain graft.ShuffleBytes <sfDir> <query> [query...]" */
object ShuffleBytes {
  /** Wait for the async listener bus to deliver every stage event: a 1 s
    * head start (two instant reads agreeing on the INITIAL zeros is not
    * evidence the bus is drained — the r14 ADVICE under-count), then
    * three consecutive 250 ms reads must agree, bounded at 15 s. A
    * genuinely zero-shuffle query pays ~1.75 s; correctness of the
    * numbers beats dev-tool latency. Shared with graft.IvfPrice. */
  def drainListenerBus(
      counters: java.util.concurrent.atomic.AtomicLong*): Unit = {
    Thread.sleep(1000)
    var prev = Seq.empty[Long]
    var agree = 0
    var waited = 1000L
    while (agree < 3 && waited < 15000) {
      val cur = counters.map(_.get)
      agree = if (cur == prev) agree + 1 else 1
      prev = cur
      Thread.sleep(250)
      waited += 250
    }
  }

  /** Stage-metrics totals for one measured execution. */
  final case class StageTotals(bytes: Long, records: Long, spill: Long)

  /** Run `thunk` once under an attempt-0 stage-metrics listener and
    * return the shuffle-write + spill totals after draining the async
    * bus. Retried stage attempts would double-count the attempt-0
    * writes; in local mode attempt 0 is the only one that runs to
    * completion. Extracted r16: this block had been hand-copied into
    * each pricing tool (IvfPrice/BpePrice and the since-removed PqDev)
    * and the copies had already drifted once (the r15 median fix) — one
    * copy, one fix. */
  def measureStages(spark: org.apache.spark.sql.SparkSession)(
      thunk: => Unit): StageTotals = {
    // Quiesce BEFORE attaching: the async bus may still hold stage
    // events from preceding UNMEASURED work (a prior tag's warm runs, a
    // recall sweep, doc-mode vocabulary training) — a listener present
    // at dispatch time would be handed those stale events and the
    // measured totals inflate. Same drain discipline, attach side.
    locally {
      val seen = new java.util.concurrent.atomic.AtomicLong
      val probe = new SparkListener {
        override def onStageCompleted(s: SparkListenerStageCompleted)
            : Unit = seen.incrementAndGet()
      }
      spark.sparkContext.addSparkListener(probe)
      try drainListenerBus(seen)
      finally spark.sparkContext.removeSparkListener(probe)
    }
    val bytes = new java.util.concurrent.atomic.AtomicLong
    val recs = new java.util.concurrent.atomic.AtomicLong
    val spill = new java.util.concurrent.atomic.AtomicLong
    val lst = new SparkListener {
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        if (s.stageInfo.attemptNumber() == 0) {
          bytes.addAndGet(
            s.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
          recs.addAndGet(
            s.stageInfo.taskMetrics.shuffleWriteMetrics.recordsWritten)
          spill.addAndGet(s.stageInfo.taskMetrics.diskBytesSpilled)
        }
    }
    spark.sparkContext.addSparkListener(lst)
    try { thunk; drainListenerBus(bytes, recs, spill) }
    finally spark.sparkContext.removeSparkListener(lst)
    StageTotals(bytes.get, recs.get, spill.get)
  }

  /** True warm median — even counts average the two middles (the r15
    * ADVICE fix, now in ONE place); cold fallback when no warm runs. */
  def warmMedian(cold: Double, warm: Seq[Double]): Double = {
    val s = warm.sorted
    if (s.isEmpty) cold
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ShuffleBytes <sfDir> <query...>")
    val sf = args(0)
    val spark = Tables.localSession("shufflebytes", 32)
    spark.range(1000).selectExpr("sum(id)").collect() // session warm-up
    for (q <- args.drop(1)) {
      val t = measureStages(spark) {
        SparkEntry.queries(q)(spark, sf)
          .write.mode("overwrite").format("noop").save()
      }
      println(s"## $q shuffle_bytes=${t.bytes} shuffle_records=${t.records}" +
        s" disk_spill=${t.spill}")
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
    }
    spark.stop()
  }
}
