package graft

import java.sql.Timestamp

import graft.streaming.Streaming
import graft.streaming.Streaming.Event
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class StreamingSpec extends AnyFunSuite {
  import TestSpark._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("streaming windowed agg over MemoryStream matches batch semantics") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = Streaming.startToMemory(mem.toDF(), "win_test")
    try {
      mem.addData(
        Event(ts("2024-01-01 10:05:00"), 1L, "click", 1.0),
        Event(ts("2024-01-01 10:45:00"), 2L, "click", 2.0),
        Event(ts("2024-01-01 11:05:00"), 1L, "view", 5.0))
      q.processAllAvailable()
      val out = spark.table("win_test")
        .groupBy("win_start", "event_type")
        .agg(max("cnt").as("cnt"),
          max("sum_value_cents").as("sum_value_cents"))
        .collect()
        .map(r => (r.getTimestamp(0).toString, r.getString(1),
          r.getAs[Long]("cnt"), r.getAs[Long]("sum_value_cents")))
        .toSet
      assert(out === Set(
        ("2024-01-01 10:00:00.0", "click", 2L, 300L),
        ("2024-01-01 11:00:00.0", "view", 1L, 500L)))
      // batch run of the same transform agrees EXACTLY (integer cents —
      // a raw double sum would only agree up to accumulation order)
      val batch = Streaming.windowedCounts(
        Seq(Event(ts("2024-01-01 10:05:00"), 1L, "click", 1.0),
          Event(ts("2024-01-01 10:45:00"), 2L, "click", 2.0),
          Event(ts("2024-01-01 11:05:00"), 1L, "view", 5.0)).toDF())
        .collect().map(r => (r.getTimestamp(0).toString, r.getString(1),
          r.getAs[Long]("cnt"), r.getAs[Long]("sum_value_cents"))).toSet
      assert(batch === out)
    } finally q.stop()
  }

  test("mapGroupsWithState accumulates per-user running totals across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = Streaming.runningTotals(mem.toDS())
      .writeStream.format("memory").queryName("state_test")
      .outputMode("update").start()
    try {
      mem.addData(Event(ts("2024-01-01 10:00:00"), 1L, "click", 2.0),
        Event(ts("2024-01-01 10:01:00"), 1L, "click", 3.0))
      q.processAllAvailable()
      mem.addData(Event(ts("2024-01-01 10:02:00"), 1L, "view", 5.0))
      q.processAllAvailable()
      val last = spark.table("state_test")
        .filter(col("user_id") === 1L)
        .orderBy(desc("events")).limit(1).collect()(0)
      assert(last.getAs[Long]("events") === 3L)
      assert(last.getAs[Double]("total") === 10.0)
    } finally q.stop()
  }

  test("flatMapGroupsWithState sessionizer matches batch session_window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // a real slice of the events table: every session for these users must
    // come out of the stream exactly as the batch session_window computes it
    val sample = Tables.events(spark, sf)
      .filter(col("user_id") % 25 === 0)
      .select("ts", "user_id", "event_type", "value")
      .as[Event].collect().toSeq
    val maxTs = sample.map(_.ts.getTime).max
    val mem = MemoryStream[Event]
    val q = Streaming.sessionizeStream(mem.toDS())
      .writeStream.format("memory").queryName("sess_test")
      .outputMode("append").start()
    try {
      mem.addData(sample: _*)
      q.processAllAvailable() // closes intra-stream sessions; watermark→maxTs
      // two sentinel batches: the first fires timeouts for sessions ending
      // ≤ maxTs−gap, and advances the watermark past every remaining
      // session; the second fires those. Sentinel user −1 stays open.
      mem.addData(Event(new Timestamp(maxTs + 5 * 3600 * 1000L), -1L, "x", 0.0))
      q.processAllAvailable()
      mem.addData(Event(new Timestamp(maxTs + 6 * 3600 * 1000L), -1L, "x", 0.0))
      q.processAllAvailable()
      val streamed = spark.table("sess_test")
        .filter(col("user_id") >= 0)
        .collect()
        .map(r => (r.getAs[Long]("user_id"),
          r.getAs[Timestamp]("session_start").toString, r.getAs[Long]("cnt")))
        .toSet
      val batch = sample.toDF()
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("user_id"), col("session_window.start"), col("cnt"))
        .collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).toString, r.getLong(2)))
        .toSet
      assert(streamed === batch)
    } finally q.stop()
  }

  test("sessionizer timeout fires on strictly-below watermark, not equal") {
    // pins the emission rule the q_stream_sessions oracle states: a
    // session whose timeout (end+gap) EQUALS the watermark stays open;
    // one strictly below it flushes
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = Streaming.sessionizeStream(mem.toDS())
      .writeStream.format("memory").queryName("sess_edge_test")
      .outputMode("append").start()
    try {
      mem.addData(Event(ts("2024-01-01 10:00:00"), 1L, "click", 1.0))
      q.processAllAvailable()
      // watermark advances to exactly user 1's timeout (10:00 + 30min)
      mem.addData(Event(ts("2024-01-01 10:30:00"), 2L, "click", 1.0))
      q.processAllAvailable()
      val atBoundary = spark.table("sess_edge_test")
        .filter(col("user_id") === 1L).count()
      assert(atBoundary === 0L, "timeout == watermark must NOT fire")
      // one more minute: watermark passes the timeout strictly
      mem.addData(Event(ts("2024-01-01 10:31:00"), 2L, "click", 1.0))
      q.processAllAvailable()
      val past = spark.table("sess_edge_test")
        .filter(col("user_id") === 1L).collect()
      assert(past.length === 1 && past(0).getAs[Long]("cnt") === 1L,
        "timeout strictly below watermark must fire")
    } finally q.stop()
  }

  test("multi-batch sessionizer: split source really batches; finals withheld") {
    // the spec that fails if someone silently reverts the split source to
    // the one-file assumption: the run must execute >1 DATA micro-batch
    val (out, work) = Work.measure(spark)(
      SparkEntry.queries("q_stream_sessions_multi")(spark, sf).collect())
    assert(work.runs.last.dataBatches >= 2,
      s"split source must arrive as multiple micro-batches, " +
        s"got ${work.runs.last.dataBatches}")
    // emission rule: all sessions except each user's final one — the
    // disorder-covering watermark never fires a timeout, so emitted count
    // = total sessions − distinct users (content is oracle-gated)
    val batchSessions = SparkEntry.queries("q_window_session")(spark, sf)
      .collect()
    val nUsers = batchSessions.map(_.getLong(0)).distinct.length
    assert(out.length === batchSessions.length - nUsers)
    // and every emitted session matches a batch session exactly
    val batchSet = batchSessions
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    out.foreach { r =>
      assert(batchSet.contains((r.getLong(0), r.getString(1), r.getLong(2))),
        s"streamed session not in batch gaps-and-islands: $r")
    }
  }

  test("stream-static join reproduces the batch join+agg exactly") {
    val got = Streaming.streamEnrich(spark, sf)
    val ev = Tables.events(spark, sf)
    val dim = Tables.customer(spark, sf)
      .select(col("c_custkey"), col("c_mktsegment").as("segment"))
    val expect = ev.join(dim, ev("user_id") === dim("c_custkey"))
      .groupBy(date_format(date_trunc("day", col("ts")), "yyyy-MM-dd")
        .as("day"), col("segment"))
      .agg(count(lit(1)).as("cnt"),
        (sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          * 100).cast(org.apache.spark.sql.types.LongType)
          .as("sum_value_cents"))
    assert(got.count() > 0)
    assert(got.except(expect).isEmpty && expect.except(got).isEmpty)
  }

  test("streaming drift monitor reproduces the batch derivation exactly") {
    import org.apache.spark.sql.types.{DecimalType, LongType}
    val got = Streaming.streamDrift(spark, sf)
    // batch twin: same bins, same counters, same exact numerators
    def binOf(c: org.apache.spark.sql.Column) =
      when(c.isNull, lit(-1L)).when(c <= 0L, lit(0L))
        .otherwise(length(bin(c)).cast(LongType))
    val ev = Tables.events(spark, sf)
      .select(date_format(date_trunc("day", col("ts")), "yyyy-MM-dd")
        .as("day"),
        binOf((col("value").cast(DecimalType(18, 2)) * 100).cast(LongType))
          .as("bin"))
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
    val wDay = org.apache.spark.sql.expressions.Window.partitionBy("day")
    val base = ev.groupBy("bin").agg(count(lit(1)).as("bc"))
      .withColumn("bt", sum(col("bc")).over(wAll))
    val expect = ev.groupBy("day", "bin").agg(count(lit(1)).as("n"))
      .withColumn("dt", sum(col("n")).over(wDay))
      .join(base, Seq("bin"))
      .select(col("day"), col("bin"), col("n"), col("bc"),
        abs(col("n") * col("bt") - col("bc") * col("dt")).as("drift_num"))
    assert(got.count() > 0)
    assert(got.except(expect).isEmpty && expect.except(got).isEmpty)
    // a day matching the baseline mix exactly would zero every cell; the
    // monitor must actually be measuring something on this data
    assert(got.filter(col("drift_num") > 0).count() > 0)
  }

  test("streaming MG top-k equals the exact batch per-day top-5") {
    val got = Streaming.streamTopkUsers(spark, sf)
    // exactness precondition: bucket cardinality below the MG capacity,
    // so the summary is the exact count map (no decrements ever fire)
    val distinctBuckets = Tables.events(spark, sf)
      .select(pmod(col("user_id"), lit(97L))).distinct().count()
    assert(distinctBuckets <= 128, s"$distinctBuckets buckets > capacity")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("day").orderBy(col("cnt").desc, col("bucket").asc)
    val expect = Tables.events(spark, sf)
      .select(date_format(date_trunc("day", col("ts")), "yyyy-MM-dd")
        .as("day"),
        pmod(col("user_id"), lit(97L))
          .cast(org.apache.spark.sql.types.StringType).as("bucket"))
      .groupBy("day", "bucket").agg(count(lit(1)).as("cnt"))
      .withColumn("rank", row_number().over(w)
        .cast(org.apache.spark.sql.types.LongType))
      .filter(col("rank") <= 5L)
      .select("day", "rank", "bucket")
    assert(got.count() > 0)
    assert(got.except(expect).isEmpty && expect.except(got).isEmpty)
  }

  test("streaming changepoint reproduces the batch detector exactly") {
    val got = Streaming.streamChangepoint(spark, sf)
    val expect = graft.operators.Behavior.changepoint(spark, sf)
    assert(got.count() > 0)
    assert(got.except(expect).isEmpty && expect.except(got).isEmpty)
    // the planted shift is visible through the streaming path too
    assert(got.filter(col("is_shift") === 1L).count() > 0)
  }

  test("interval-join state EVICTS once the watermark passes (measured)") {
    // The 100 TB claim behind q_stream_range's 16 MB StateBytes row is
    // not "state is big but bounded" — it is that buffered rows are
    // REMOVED once the opposite watermark passes them, so state tracks
    // rate × horizon, not stream length. The AvailableNow file source
    // can never show that (one batch, one watermark update), so this
    // drives MemoryStream waves through the production join shape
    // (streamRangeJoinOf) with a 1-hour delay and reads state rows from
    // StreamingQueryProgress after each wave.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val src = mem.toDF()
      .withColumn("event_id",
        (col("user_id") * 1000 + hour(col("ts"))).cast("long"))
    val joined = Streaming.streamRangeJoinOf(src, "1 hour")
    val q = joined.writeStream.format("memory").queryName("evict_test")
      .outputMode("append").start()
    def stateRows: Long =
      q.lastProgress.stateOperators.map(_.numRowsTotal).sum
    try {
      // wave 1: three users, purchase + in-window click each — all six
      // rows must sit in the two-sided join state
      mem.addData(
        Event(ts("2024-01-01 10:00:00"), 1L, "purchase", 10.0),
        Event(ts("2024-01-01 12:00:00"), 1L, "click", 1.0),
        Event(ts("2024-01-01 10:30:00"), 4L, "purchase", 5.0),
        Event(ts("2024-01-01 11:00:00"), 4L, "click", 1.0),
        Event(ts("2024-01-01 09:00:00"), 6L, "purchase", 2.0),
        Event(ts("2024-01-01 09:30:00"), 6L, "click", 1.0))
      q.processAllAvailable()
      val peak = stateRows
      assert(peak === 6L, s"all six wave-1 rows must be buffered, got $peak")
      assert(spark.table("evict_test").count() === 3L,
        "each user's in-window pair emits once")
      // wave 2: BOTH sides jump 4 days ahead — the global watermark is
      // the min across the two watermark nodes, so both must advance
      // before anything can evict (this batch still runs on the old
      // watermark: no eviction yet)
      mem.addData(
        Event(ts("2024-01-05 02:00:00"), 2L, "click", 1.0),
        Event(ts("2024-01-05 01:00:00"), 3L, "purchase", 3.0))
      q.processAllAvailable()
      // wave 3: one more pair, a batch that RUNS with the advanced
      // watermark — Jan 5 00:00 is past every wave-1 eviction bound
      // (clicks: wm > click_ts; purchases: wm > purchase_ts + 1 day)
      mem.addData(
        Event(ts("2024-01-05 05:00:00"), 5L, "purchase", 7.0),
        Event(ts("2024-01-05 06:00:00"), 5L, "click", 1.0))
      q.processAllAvailable()
      val after = stateRows
      assert(after < peak,
        s"wave-1 state must evict under the advanced watermark " +
          s"(peak $peak, after $after)")
      assert(after <= 4L,
        s"only the four wave-2/3 rows may remain, got $after")
      assert(spark.table("evict_test").count() === 4L,
        "the post-eviction pair must still emit — eviction is cleanup, " +
          "not data loss")
    } finally q.stop()
  }

  test("dedup state EVICTS at the horizon; a post-horizon duplicate " +
    "re-emits (the within-watermark contract, measured)") {
    // dropDuplicatesWithinWatermark's 100 TB story: per-hash state lives
    // ONE horizon, so memory tracks rate × horizon — and the flip side
    // of that bound is semantic, not just spatial: a duplicate arriving
    // AFTER its key expired is a NEW document by contract. Both halves
    // measured here through the production dedupStream with a 1-hour
    // delay.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Streaming.Doc]
    val q = Streaming.dedupStream(mem.toDS(), "1 hour").toDF()
      .writeStream.format("memory").queryName("dedup_evict_test")
      .outputMode("append").start()
    def stateRows: Long =
      q.lastProgress.stateOperators.map(_.numRowsTotal).sum
    def emitted: Long = spark.table("dedup_evict_test").count()
    try {
      // wave 1: two hashes + an in-horizon duplicate of the first —
      // the duplicate is suppressed and adds no state
      mem.addData(
        Streaming.Doc(ts("2024-01-01 10:00:00"), 1L, 111L),
        Streaming.Doc(ts("2024-01-01 10:10:00"), 2L, 222L),
        Streaming.Doc(ts("2024-01-01 10:20:00"), 3L, 111L))
      q.processAllAvailable()
      assert(emitted === 2L, "in-horizon duplicate must be suppressed")
      val peak = stateRows
      assert(peak === 2L, s"one state row per surviving hash, got $peak")
      // wave 2 advances the watermark 3 days; wave 3 RUNS under it —
      // both wave-1 hashes are then past their 1-hour lifetime
      mem.addData(Streaming.Doc(ts("2024-01-04 10:00:00"), 4L, 333L))
      q.processAllAvailable()
      mem.addData(Streaming.Doc(ts("2024-01-04 10:05:00"), 5L, 444L))
      q.processAllAvailable()
      val after = stateRows
      assert(after < peak + 2,
        s"expired hashes must leave the store (peak $peak + 2 young, " +
          s"got $after)")
      assert(emitted === 4L)
      // the semantics half: hash 111 again, long past its horizon —
      // it must EMIT (state was evicted, so this is a new key by the
      // within-watermark contract; a global-dedup reading would be wrong)
      mem.addData(Streaming.Doc(ts("2024-01-04 10:10:00"), 6L, 111L))
      q.processAllAvailable()
      assert(emitted === 5L,
        "post-horizon duplicate must re-emit — expiry is the contract, " +
          "not a leak")
    } finally q.stop()
  }

  test("windowed-agg state drops closed windows (measured)") {
    // windowedCounts documents "state dropped 2 hours past the
    // watermark"; this measures it: hour-10 buckets must leave the store
    // once the watermark passes their close. State grain = open window
    // buckets, never the stream.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = Streaming.startToMemory(mem.toDF(), "win_evict_test")
    def stateRows: Long =
      q.lastProgress.stateOperators.map(_.numRowsTotal).sum
    try {
      mem.addData(
        Event(ts("2024-01-01 10:05:00"), 1L, "click", 1.0),
        Event(ts("2024-01-01 10:15:00"), 2L, "view", 2.0),
        Event(ts("2024-01-01 10:25:00"), 3L, "click", 3.0))
      q.processAllAvailable()
      val peak = stateRows
      assert(peak === 2L,
        s"hour-10 holds (click, view) buckets only, got $peak")
      // jump to hour 20 (watermark 18:00 ≫ hour-10 close + 2h), then one
      // more batch that runs under the advanced watermark
      mem.addData(Event(ts("2024-01-01 20:05:00"), 4L, "click", 1.0))
      q.processAllAvailable()
      mem.addData(Event(ts("2024-01-01 20:10:00"), 5L, "view", 1.0))
      q.processAllAvailable()
      val after = stateRows
      assert(after === 2L,
        s"only hour-20's two buckets may remain — hour-10 must be " +
          s"dropped, got $after")
    } finally q.stop()
  }

  test("stream-stream interval join reproduces the batch range join") {
    val got = Streaming.streamRangeJoin(spark, sf)
    val expect = graft.operators.RangeJoin.query(spark, sf)
    assert(got.count() === expect.count())
    assert(got.except(expect).isEmpty && expect.except(got).isEmpty)
  }

  test("exactly-once sink: re-running the stream leaves the table unchanged") {
    val first = Streaming.streamToParquet(spark, sf).collect()
    // second full run replays every batch into the same sink path —
    // the overwrite must rewrite, never duplicate
    val second = Streaming.streamToParquet(spark, sf).collect()
    assert(first.nonEmpty)
    assert(first.toSeq === second.toSeq)
    // and the sink round-trip equals the direct batch aggregate
    val batch = Tables.events(spark, sf)
      .groupBy(date_format(date_trunc("day", col("ts")), "yyyy-MM-dd")
        .as("day"), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        (sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          * 100).cast(org.apache.spark.sql.types.LongType)
          .as("sum_value_cents"))
      .orderBy("day", "event_type").collect()
    assert(first.toSeq === batch.toSeq)
  }

  test("flat sink: a batch that changes one group keeps every group") {
    // the production sink (streamToParquet's) over two micro-batches where
    // the second changes only the click group: the table it rewrites must
    // still hold the purchase group, with the click group at wave 2's sum
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val out = java.nio.file.Files
      .createTempDirectory("graft_sink_flat").toString + "/t"
    val mem = MemoryStream[(String, String, Long)]
    val agg = mem.toDF().toDF("day", "event_type", "v")
      .groupBy("day", "event_type").agg(sum("v").as("cnt"))
    def table(): Map[String, Long] = Tables.parquet(spark, out).collect()
      .map(r => r.getAs[String]("event_type") -> r.getAs[Long]("cnt")).toMap
    val (_, work) = Work.measure(spark) {
      val q = Streaming.parquetSinkOf(agg, out).start()
      try {
        mem.addData(("2024-01-01", "click", 5L),
          ("2024-01-01", "purchase", 3L))
        q.processAllAvailable()
        assert(table() === Map("click" -> 5L, "purchase" -> 3L))
        mem.addData(("2024-01-01", "click", 4L))
        q.processAllAvailable()
      } finally q.stop()
    }
    assert(work.runs.last.dataBatches === 2, work)
    assert(table() === Map("click" -> 9L, "purchase" -> 3L))
  }

  test("stream results are state-layout independent: 8 vs 32 stores equal") {
    // the graft.stream.shufflePartitions knob changes ONLY the state-store
    // instance count; emitted results must be identical — the precondition
    // for Bench (8) and Verify (session default) gating the same contract
    val key = "graft.stream.shufflePartitions"
    def run() = Seq(
      Streaming.streamTumbling(spark, sf).collect().toSeq,
      Streaming.streamRangeJoin(spark, sf).collect().toSeq)
    spark.conf.set(key, "8")
    val at8 = try run() finally spark.conf.unset(key)
    val atDefault = run()
    assert(at8 === atDefault)
    // and the knob must not leak into the session after a run
    assert(spark.conf.get("spark.sql.shuffle.partitions") !== "8")
  }

  test("stream curate gate reproduces the batch predicate; truly stateless") {
    val (got, work) = Work.measure(spark)(Streaming.streamCurate(spark, sf))
    // the batch form of the same two-stage predicate, built from the
    // registered batch operator: q_repetition's survivors restricted to
    // the chain's en-filter — cross-checked via q_curate_chain's columns
    val rep = SparkEntry.queries("q_repetition")(spark, sf)
      .select(col("doc_id"), col("n_tok"), col("dup_2gram_frac"),
        col("repetitive"))
    val gotRows = got.collect()
    assert(gotRows.nonEmpty)
    val repById = rep.collect().map(r => r.getLong(0) -> r).toMap
    gotRows.foreach { r =>
      val b = repById(r.getLong(0))
      // repetition metrics agree with the batch kernel and the doc passed
      // the repetition gate
      assert(r.getLong(1) === b.getLong(1))
      assert(r.getDouble(2) === b.getDouble(2))
      assert(!b.getBoolean(3))
    }
    // every batch doc passing BOTH gates is present (en-filter parity is
    // pinned by the DuckDB oracle; here we pin the repetition side)
    assert(work.runs.last.dataBatches >= 1)
  }

  /** `f` over a fresh temp directory whose name ends in `suffix`,
    * deleted afterwards. */
  private def withTempDir[T](suffix: String)(f: String => T): T = {
    val dir = java.nio.file.Files.createTempDirectory("graft_" + suffix)
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    try f(dir.toString) finally rm(dir.toFile)
  }

  private def rows(q: String, dir: String) =
    SparkEntry.queries(q)(spark, dir).collect().toSeq

  test("directory-form tables stream in place: the same rows as the " +
      "single files in one data batch, and the split source still batches") {
    withTempDir("dirform") { dir =>
      // a Spark write makes each table a DIRECTORY of part files
      Seq("events", "documents").foreach { t =>
        Tables.parquet(spark, s"$sf/$t.parquet").repartition(3)
          .write.parquet(s"$dir/$t.parquet")
        assert(new java.io.File(s"$dir/$t.parquet").list()
          .count(_.startsWith("part-")) === 3, t)
      }
      Seq("q_stream_tumbling", "q_stream_sessions", "q_stream_curate")
        .foreach { q =>
          val (got, work) = Work.measure(spark)(rows(q, dir))
          assert(got.nonEmpty && got === rows(q, sf), q)
          assert(work.runs.last.dataBatches === 1, q)
        }
      val (_, multi) = Work.measure(spark)(
        rows("q_stream_sessions_multi", dir))
      assert(multi.runs.last.dataBatches >= 2,
        s"got ${multi.runs.last.dataBatches} data batches")
    }
  }

  test("a directory name with glob metacharacters streams literally") {
    withTempDir("g[1]{a,b}*?") { dir =>
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$sf/events.parquet"),
        java.nio.file.Paths.get(s"$dir/events.parquet"))
      val got = rows("q_stream_tumbling", dir)
      assert(got.nonEmpty && got === rows("q_stream_tumbling", sf))
    }
  }

  test("two threads stage one split source once: both multi-batch runs " +
      "return their single-thread answers") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val qs = Seq("q_stream_sessions_multi", "q_stream_funnel")
    val expect = qs.map(rows(_, sf))
    withTempDir("split") { dir =>
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$sf/events.parquet"),
        java.nio.file.Paths.get(s"$dir/events.parquet"))
      val runs = qs.map(q => Future(rows(q, dir)))
      assert(runs.map(Await.result(_, 5.minutes)) === expect)
    }
  }

  test("streaming dedup keeps first-seen doc per content hash") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Streaming.Doc]
    val q = Streaming.dedupStream(mem.toDS())
      .writeStream.format("memory").queryName("dedup_test")
      .outputMode("append").start()
    try {
      mem.addData(
        Streaming.Doc(ts("2024-01-01 10:00:00"), 1L, 111L),
        Streaming.Doc(ts("2024-01-01 10:01:00"), 2L, 222L),
        Streaming.Doc(ts("2024-01-01 10:02:00"), 3L, 111L)) // dup of doc 1
      q.processAllAvailable()
      mem.addData( // second batch: dup arrives within the watermark window
        Streaming.Doc(ts("2024-01-01 10:10:00"), 4L, 222L))
      q.processAllAvailable()
      val ids = spark.table("dedup_test").collect()
        .map(_.getAs[Long]("doc_id")).toSet
      assert(ids === Set(1L, 2L))
    } finally q.stop()
  }

  test("S5 model save/load round-trips predictions exactly") {
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_model_rt"
    val ds = graft.ml.TreePipeline.dataset(spark, sf, sampleMod = 9)
    val pipe = new org.apache.spark.ml.Pipeline().setStages(
      graft.ml.TreePipeline.featureStages() :+
        new org.apache.spark.ml.regression.RandomForestRegressor()
          .setFeaturesCol("features").setLabelCol("label")
          .setNumTrees(5).setMaxDepth(4).setSeed(123))
    val m = graft.ml.ModelIO.fitAndCheckpoint(pipe, ds, dir)
    val loaded = graft.ml.ModelIO.load(spark, dir)
    val a = m.transform(ds).select("l_orderkey", "prediction")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val b = loaded.transform(ds).select("l_orderkey", "prediction")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(a === b)
  }

  test("S3 parquet checkpoint round-trips schema and content") {
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_ckpt"
    val src = Tables.nation(spark, sf)
    graft.sources.CsvIO.checkpoint(src, path)
    val back = graft.sources.CsvIO.loadCheckpoint(spark, path)
    assert(back.schema === src.schema)
    assert(back.collect().toSet === src.collect().toSet)
  }

  test("P6 data-driven prune drops exactly the >threshold-NA columns") {
    import spark.implicits._
    val df = Seq(
      (1, Some("a"), None: Option[Double]),
      (2, None, Some(1.0)),
      (3, None, Some(2.0)),
      (4, Some("d"), Some(3.0))
    ).toDF("id", "mostly_null", "some_null")
    val pruned = graft.operators.Relational
      .columnsToPrune(df, threshold = 0.4, keep = Set("id"))
    assert(pruned === Seq("mostly_null")) // 50% > 40%; some_null 25% stays
  }

  test("embedding-cosine near-dup returns only above-threshold pairs") {
    val out = SparkEntry.queries("q_embed_neardup")(spark, sf).collect()
    assert(out.nonEmpty)
    assert(out.forall(_.getAs[Double]("cos") >= 0.35))
    // symmetric-dedup invariant: each unordered pair reported once, a < b
    assert(out.forall(r => r.getAs[Long]("a") < r.getAs[Long]("b")))
  }

  test("S1/S4 csv round-trip preserves content exactly") {
    val out = SparkEntry.queries("q_csv_roundtrip")(spark, sf).collect()(0)
    assert(out.getAs[Long]("rows") === Tables.customer(spark, sf).count())
    assert(out.getAs[Long]("keys") === out.getAs[Long]("rows"))
  }

  test("streaming funnel: multi-batch run equals the batch funnel exactly") {
    val (streamed, work) = Work.measure(spark)(
      SparkEntry.queries("q_stream_funnel")(spark, sf).collect()
        .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getDouble(3))))
    assert(work.runs.last.dataBatches >= 2,
      "funnel must be exercised under REAL multi-batch arrival, got " +
        s"${work.runs.last.dataBatches}")
    val batch = SparkEntry.queries("q_funnel")(spark, sf).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(streamed.toSeq === batch.toSeq,
      "incremental greedy state diverged from the batch min()-chain")
  }

  test("Work.measure reads streaming state: keyed run bounded by key " +
    "domain, stateless gate reads zero") {
    // what `DevTools work` reports per streaming run, pinned: a keyed-state
    // run reports >0 state rows bounded by its key domain (one state
    // entry per user for the running-totals mapGroupsWithState)…
    val (_, keyed) = Work.measure(spark)(
      SparkEntry.queries("q_stream_totals")(spark, sf).collect())
    assert(keyed.runs.nonEmpty, "the streaming run must be measured")
    val tot = keyed.runs.last
    assert(tot.peakStateRows > 0 && tot.peakStateBytes > 0,
      s"keyed state must be visible to the meter, got $tot")
    val users = Tables.events(spark, sf)
      .select("user_id").distinct().count()
    assert(tot.peakStateRows <= users,
      s"state rows ${tot.peakStateRows} must be bounded by the " +
        s"$users-user key domain")
    // …and the deliberately stateless ingest gate measures EXACTLY zero
    // (the "no state store" design claim, as a number)
    val (_, gate) = Work.measure(spark)(
      SparkEntry.queries("q_stream_curate")(spark, sf).collect())
    assert(gate.runs.nonEmpty && gate.runs.last.peakStateRows === 0L &&
      gate.runs.last.peakStateBytes === 0L,
      s"stateless gate must read 0/0, got ${gate.runs.lastOption}")
  }

  test("two streaming queries run concurrently under one measure both " +
    "report their run") {
    // Two streaming queries driven from separate threads (the parallel
    // Verify mode's shape): the meter keys runs by runId, so each
    // completed run must appear as its own entry.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val (_, work) = Work.measure(spark) {
      def run(q: String) = Future(SparkEntry.queries(q)(spark, sf).collect())
      val (fa, fb) = (run("q_stream_totals"), run("q_stream_curate"))
      Await.result(fa, 5.minutes); Await.result(fb, 5.minutes)
    }
    val names = work.runs.map(_.name)
    assert(names.exists(_.startsWith("graft_stream_totals")),
      s"totals run missing from $names")
    assert(names.exists(_.startsWith("graft_stream_curate")),
      s"curate run missing from $names")
    assert(names.size >= 2, s"both concurrent runs must report, got $names")
  }
}
