package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState,
  GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.{DoubleType, LongType, StringType}

/** Structured Streaming surface (builder brief: readStream → transforms →
  * writeStream; watermark + windowed agg; mapGroupsWithState custom state).
  *
  * The reference is batch-only (SURVEY §2.10) — this is the scale extension:
  * the SAME tumbling-window aggregation `EventWindows.tumbling` runs in
  * batch, applied here to an unbounded stream with a watermark bounding
  * state. Tested end-to-end over MemoryStream (StreamingSpec); in
  * production the source swaps for kafka/files without touching the
  * transform (that separation is the point of the lazy plan).
  */
object Streaming {

  final case class Event(ts: Timestamp, user_id: Long, event_type: String,
                         value: Double)
  final case class UserRunning(user_id: Long, events: Long, total: Double)

  /** Watermarked tumbling-window count/sum — works on a batch OR streaming
    * DataFrame; streaming state is dropped 2 hours past the watermark.
    * The sum is EXACT integer cents (the file-wide discipline): a raw
    * double sum folds in accumulation order, so the promised
    * batch ≡ streaming equality would hold only up to last-ulp noise
    * once window populations grow. */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        sum((col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2))
          * 100).cast(org.apache.spark.sql.types.LongType))
          .as("sum_value_cents"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("cnt"), col("sum_value_cents"))

  /** Custom per-key state: running per-user totals via mapGroupsWithState
    * (the reference has no analogue; brief-required stateful operator).
    * State is one tiny record per user — bounded by key cardinality. */
  def runningTotals(events: Dataset[Event]): Dataset[UserRunning] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[UserRunning, UserRunning](
        GroupStateTimeout.NoTimeout) {
        (user: Long, batch: Iterator[Event], state: GroupState[UserRunning]) =>
          val prev = state.getOption.getOrElse(UserRunning(user, 0L, 0.0))
          val (n, v) = batch.foldLeft((0L, 0.0)) { case ((c, s), e) =>
            (c + 1, s + e.value)
          }
          val next = UserRunning(user, prev.events + n, prev.total + v)
          state.update(next)
          next
      }
  }

  /** The mapGroupsWithState running totals executed as a REAL streaming
    * run (readStream → Update-mode memory sink), oracle-gated. `value` is
    * converted to CENTS before entering the typed fold, so every addend
    * is integer-valued in the Double field and the per-user sum is exact
    * long-in-double arithmetic — order-independent across batches and
    * shuffle layouts, hence replayable by the DuckDB oracle (the raw
    * double sum would depend on iterator order). Update mode emits one
    * row per user per batch; the max-(events, total) pick keeps each
    * user's LAST emission, so the query stays correct if the source ever
    * splits into multiple micro-batches. */
  def streamTotals(spark: org.apache.spark.sql.SparkSession,
                   dir: String): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}
    import spark.implicits._
    val events = eventsStream(spark, dir)
      .select(col("ts"), col("user_id"), col("event_type"),
        (col("value").cast(DecimalType(18, 2)) * 100)
          .cast(DoubleType).as("value"))
      .as[Event]
    runToMemory(runningTotals(events).toDF(), "graft_stream_totals",
        OutputMode.Update())
      .groupBy("user_id")
      .agg(max(struct(col("events"), col("total"))).as("s"))
      .select(col("user_id"), col("s.events").as("events"),
        col("s.total").cast(LongType).as("total_cents"))
      .orderBy("user_id")
  }

  final case class OpenSession(user_id: Long, start: Timestamp,
                               end: Timestamp, events: Long)
  final case class SessionOut(user_id: Long, session_start: Timestamp,
                              cnt: Long)

  /** Epoch microseconds of a Timestamp — the precision the events table
    * actually carries. getTime() alone truncates to ms, which is NOT safe
    * for gap comparisons (see sessionizeStream); getNanos() holds the full
    * fractional second, so rebuild micros from whole seconds + nanos. */
  private def micros(t: Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  /** Streaming sessionization via flatMapGroupsWithState (brief-required
    * stateful operator; the streaming form of `EventWindows.sessions`):
    * per user, events within `gapMinutes` of the previous one extend the
    * open session; a larger gap closes it (emitted downstream, Append
    * mode); an event-time timeout at `end + gap` flushes a session once
    * the watermark passes it, so state is bounded by the number of
    * concurrently-open sessions — the standard continuous-sessionization
    * design. Gap semantics match `session_window` / the DuckDB
    * gaps-and-islands oracle: a gap of exactly `gapMinutes` starts a new
    * session (equivalence-tested in StreamingSpec). */
  def sessionizeStream(events: Dataset[Event], gapMinutes: Int = 30,
                       watermarkDelay: String = "0 seconds"): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val gapMs = gapMinutes * 60L * 1000L
    val gapUs = gapMs * 1000L
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, batch: Iterator[Event], state: GroupState[OpenSession]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(SessionOut(s.user_id, s.start, s.events))
          } else {
            val sorted = batch.toArray.sortBy(e => micros(e.ts))
            val closed = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
            var open = state.getOption
            sorted.foreach { e =>
              open match {
                // gap compare in MICROSECONDS: session_window and the
                // gaps-and-islands oracle compare full timestamp
                // precision, and events carry sub-millisecond micros — a
                // gap in (30min-1ms, 30min) must split the session on
                // both sides, so ms truncation here would silently
                // diverge. Only the timeout timestamp (a state-eviction
                // bound, not a session-boundary decision) stays in ms,
                // the unit GroupState requires.
                case Some(s) if micros(e.ts) - micros(s.end) < gapUs =>
                  // extend with min/max, not overwrite: an allowed late
                  // event (watermarkDelay > 0) arriving in a later batch
                  // may precede the open session's bounds, and rewinding
                  // `end` would mis-measure the next gap (session_window
                  // merges such an event into the existing window)
                  open = Some(s.copy(
                    start = if (micros(e.ts) < micros(s.start)) e.ts
                            else s.start,
                    end = if (micros(e.ts) > micros(s.end)) e.ts else s.end,
                    events = s.events + 1))
                case Some(s) =>
                  closed += SessionOut(s.user_id, s.start, s.events)
                  open = Some(OpenSession(user, e.ts, e.ts, 1L))
                case None =>
                  open = Some(OpenSession(user, e.ts, e.ts, 1L))
              }
            }
            open.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.end.getTime + gapMs)
            }
            closed.iterator
          }
      }
  }

  /** The flatMapGroupsWithState sessionizer executed as a REAL streaming
    * job over the events parquet (readStream → AvailableNow → memory sink,
    * Append mode), oracle-checked. Emission semantics, which the DuckDB
    * oracle states exactly: every session CLOSED by a later event's
    * ≥30-minute gap is emitted inline in the data microbatch; then
    * AvailableNow runs a no-data batch with the watermark advanced to
    * max(ts), which fires the event-time timeout for each user's final
    * session IF its timeout timestamp (end + gap, in ms) is strictly
    * below the watermark — only final sessions ending within the gap of
    * max(ts) remain open (unemitted) when the query terminates. The
    * streaming-specific emission rule is part of the verified contract,
    * not an approximation.
    *
    * The 0-second watermark is safe here because the source sets no
    * per-trigger file cap, so the whole table — one file or a directory
    * of parts — arrives as ONE data batch, structurally (a multi-batch
    * source would need a disorder-covering delay like streamRangeJoin's,
    * and a different oracle, since the emission rule above is
    * watermark-dependent). */
  def streamSessions(spark: org.apache.spark.sql.SparkSession,
                     dir: String): DataFrame = {
    import spark.implicits._
    val events = eventsStream(spark, dir)
      .select("ts", "user_id", "event_type", "value")
      .as[Event]
    runToMemory(sessionizeStream(events).toDF(), "graft_stream_sessions",
        OutputMode.Append())
      .select(col("user_id"),
        date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss")
          .as("session_start"),
        col("cnt"))
      .orderBy("user_id", "session_start")
  }

  /** File-split width for the multi-batch sessionizer run. */
  val SplitFiles = 4

  /** The sessionizer under MULTI-BATCH arrival — the stress streamSessions
    * structurally avoids (its source is one data batch). The source is the
    * events table split into `SplitFiles` chronological time-range files
    * (one micro-batch each), and the watermark is DISORDER-COVERING
    * (31 days ≥ the data's span), so no event is ever late regardless of
    * how the files batch — the same discipline as streamRangeJoin.
    *
    * The emission rule, which the oracle states exactly: every session
    * closed by a later event's ≥30-minute gap emits inline in whatever
    * micro-batch that event arrives; and because the watermark never
    * advances past ANY event time (delay ≥ span), no event-time timeout
    * fires before termination — each user's FINAL session is withheld.
    * Chronological range-split batches + within-batch sort make the
    * incremental sessionization equal batch gaps-and-islands exactly, so
    * the oracle is simply "all sessions minus each user's last",
    * independent of where the file boundaries fall. */
  def streamSessionsMulti(spark: org.apache.spark.sql.SparkSession,
                          dir: String): DataFrame = {
    import spark.implicits._
    val events = eventsStream(spark, dir, SplitFiles)
      .select("ts", "user_id", "event_type", "value")
      .as[Event]
    runToMemory(
        sessionizeStream(events, watermarkDelay = "31 days").toDF(),
        "graft_stream_sessions_multi", OutputMode.Append())
      .select(col("user_id"),
        date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss")
          .as("session_start"),
        col("cnt"))
      .orderBy("user_id", "session_start")
  }

  final case class FunnelSt(user_id: Long, t1: Long, t2: Long, t3: Long)
  final case class FunnelProgress(user_id: Long, steps: Int)

  /** Streaming ordered funnel: the continuous form of
    * [[graft.operators.Behavior.funnel]]. Per-user state is the greedy
    * earliest-completion timestamp triple (micros; -1 = step open) —
    * CONSTANT size per user, the streaming analogue of the batch
    * operator's one-timestamp-per-step design. Each micro-batch sorts its
    * own group slice by event time (intra-batch disorder) and folds the
    * greedy update; chronological micro-batches (the range-split source)
    * keep the fold equal to the batch greedy, which [[graft.PropertySpec]]
    * proves equal to the exhaustive witness search. Update mode emits the
    * user's current step count each batch; the last emission per user is
    * the final funnel position (monotone — later batches can only extend). */
  def funnelStream(events: Dataset[Event]): Dataset[FunnelProgress] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[FunnelSt, FunnelProgress](
        GroupStateTimeout.NoTimeout) {
        (user: Long, batch: Iterator[Event], state: GroupState[FunnelSt]) =>
          var st = state.getOption.getOrElse(FunnelSt(user, -1L, -1L, -1L))
          batch.toArray.sortBy(e => micros(e.ts)).foreach { e =>
            val t = micros(e.ts)
            e.event_type match {
              case "view" if st.t1 < 0 => st = st.copy(t1 = t)
              case "click" if st.t1 >= 0 && st.t2 < 0 && t > st.t1 =>
                st = st.copy(t2 = t)
              case "purchase" if st.t2 >= 0 && st.t3 < 0 && t > st.t2 =>
                st = st.copy(t3 = t)
              case _ =>
            }
          }
          state.update(st)
          FunnelProgress(user,
            Seq(st.t1, st.t2, st.t3).count(_ >= 0))
      }
  }

  /** The streaming funnel as a REAL multi-batch run (4 chronological
    * time-range files, one micro-batch each), post-aggregated to the SAME
    * 3-row report as the batch operator and gated by the SAME oracle —
    * the hash match proves the incremental state fold reproduces the
    * batch min()-chain exactly. */
  def streamFunnel(spark: org.apache.spark.sql.SparkSession,
                   dir: String): DataFrame = {
    import org.apache.spark.sql.types.{DoubleType, LongType}
    import spark.implicits._
    val events = eventsStream(spark, dir, SplitFiles)
      .select("ts", "user_id", "event_type", "value")
      .as[Event]
    val sink = runToMemory(funnelStream(events).toDF(),
      "graft_stream_funnel", OutputMode.Update())
    // final per-user position = max emission (monotone); then the report
    val per = sink.groupBy("user_id").agg(max(col("steps")).as("steps"))
    val counts = per.agg(
      sum(when(col("steps") >= 1, 1L).otherwise(0L)).as("n1"),
      sum(when(col("steps") >= 2, 1L).otherwise(0L)).as("n2"),
      sum(when(col("steps") >= 3, 1L).otherwise(0L)).as("n3"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("step")
    counts
      .select(explode(array(
        struct(lit(1).as("step"), lit("view").as("step_name"),
          col("n1").cast(LongType).as("users")),
        struct(lit(2).as("step"), lit("click").as("step_name"),
          col("n2").cast(LongType).as("users")),
        struct(lit(3).as("step"), lit("purchase").as("step_name"),
          col("n3").cast(LongType).as("users")))).as("s"))
      .select(col("s.step").as("step"), col("s.step_name").as("step_name"),
        col("s.users").as("users"))
      .withColumn("conv_prev",
        round(col("users").cast(DoubleType) /
          nullif(coalesce(lag(col("users"), 1).over(w), col("users")),
            lit(0L)), 6))
      .orderBy("step")
  }

  final case class Doc(ts: Timestamp, doc_id: Long, content_hash: Long)

  /** Streaming exact dedup: the streaming half of `operators.Dedup` —
    * first-seen wins per content hash, with the watermark bounding the
    * dedup state to the late-data horizon (without it, state grows with
    * every distinct document ever seen; with it, a hash is only held for
    * `delay` of event time — the standard design for continuous ingest
    * dedup at corpus scale). `delay` must cover the source's maximum
    * disorder: a duplicate arriving later than that re-enters as new. */
  def dedupStream(docs: Dataset[Doc], delay: String = "1 hour"): Dataset[Doc] =
    docs
      .withWatermark("ts", delay)
      .dropDuplicatesWithinWatermark("content_hash")

  /** The streaming dedup executed as a REAL streaming run over the events
    * parquet, oracle-gated: event stream → (ts, doc_id=event_id,
    * content_hash=user_id) → dropDuplicatesWithinWatermark → the deduped
    * hash set. Emitting only the KEY SET is deliberate: within a
    * micro-batch, WHICH duplicate row survives is processing-order
    * dependent (both in Spark streaming and any batch `dropDuplicates`),
    * so the payload of the survivor is not a stable contract — the set of
    * surviving hashes is, and it's what the DuckDB oracle states
    * (DISTINCT user_id). PRODUCTION WATERMARK SIZING (same rule as
    * streamRangeJoin): `delay` in `dedupStream` = the INGEST DISORDER
    * bound, not the data span — it is both the late-duplicate horizon and
    * the per-hash state lifetime. This replay passes the full 31-day span
    * because a storage-order file replay's disorder IS the span; a
    * continuous source with ≤1 hour of skew passes "1 hour". */
  def streamDedup(spark: org.apache.spark.sql.SparkSession,
                  dir: String): DataFrame = {
    import spark.implicits._
    val docs = eventsStream(spark, dir)
      .select(col("ts"), col("event_id").as("doc_id"),
        col("user_id").as("content_hash"))
      .as[Doc]
    runToMemory(dedupStream(docs, delay = "31 days").toDF(),
        "graft_stream_dedup", OutputMode.Append())
      .select(col("content_hash"))
      .orderBy("content_hash")
  }

  /** writeStream wiring for the windowed agg (update mode; the test drives
    * it with a memory sink, production swaps the sink only). */
  def startToMemory(events: DataFrame, queryName: String) =
    windowedCounts(events)
      .writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode(OutputMode.Update())
      .start()

  private val runSeq = new java.util.concurrent.atomic.AtomicInteger(0)

  /** readStream over `table` of `dir` where it lies — the ONE copy of
    * the source wiring every streaming run shares. The path is a
    * one-entry Hadoop glob, `dir/{table.parquet}`: the file-stream source
    * rejects a plain file path, and a directory path would stream every
    * table beside this one. Through the glob a single parquet file and a
    * Spark-written directory of part files both stream whole, in one
    * micro-batch. The schema is read from the table's footer first, so a
    * missing or empty table fails here, before the stream starts.
    *
    * `files > 1` streams a copy of the table range-split on `ts` into
    * that many files with ascending mtimes, and the source (oldest mtime
    * first, `maxFilesPerTrigger=1`) replays them as `files` chronological
    * micro-batches — the multi-batch arrival a continuous deployment
    * sees. */
  private def fileStream(spark: org.apache.spark.sql.SparkSession,
                         dir: String, table: String,
                         files: Int = 1): DataFrame = {
    val schema = graft.Tables.parquet(spark, s"$dir/$table.parquet").schema
    val root = if (files == 1) dir else splitCopy(spark, dir, table, files)
    spark.readStream.schema(schema)
      .options(if (files == 1) Map.empty[String, String]
        else Map("maxFilesPerTrigger" -> "1"))
      .parquet(s"${graft.Tables.literal(root)}/{$table.parquet}")
  }

  /** The events stream with `ts` normalized via `Tables.withEventTs`. */
  private def eventsStream(spark: org.apache.spark.sql.SparkSession,
                           dir: String, files: Int = 1): DataFrame =
    graft.Tables.withEventTs(fileStream(spark, dir, "events", files))

  private val splitLock = new Object

  /** Stage `table` as `n` TIME-RANGE-SPLIT parquet files with strictly
    * increasing modification times: `repartitionByRange(ts)` makes file
    * k's max ts ≤ file k+1's min ts. Staged once per process into its
    * scratch space (removed at exit), under a lock so that concurrent
    * streams of one process never write the same copy; the `_SPLIT_DONE`
    * marker is made last, so a staging that failed part-way is redone. */
  private def splitCopy(spark: org.apache.spark.sql.SparkSession,
                        dir: String, table: String, n: Int): String =
      splitLock.synchronized {
    import java.nio.file.{Files, Paths}
    val root = graft.sources.CsvIO.scratch(s"stream_${table}_split$n", dir)
    val done = Paths.get(root, "_SPLIT_DONE")
    if (!Files.exists(done)) {
      val out = s"$root/$table.parquet"
      graft.Tables.parquet(spark, s"$dir/$table.parquet")
        .repartitionByRange(n, col("ts"))
        .write.mode("overwrite").parquet(out)
      new java.io.File(out).listFiles().map(_.toPath)
        .filter(_.getFileName.toString.startsWith("part-"))
        .sortBy(_.getFileName.toString) // part index = range index
        .zipWithIndex.foreach { case (p, i) =>
          Files.setLastModifiedTime(p,
            java.nio.file.attribute.FileTime.fromMillis(
              1600000000000L + i * 60000L))
        }
      Files.createFile(done)
    }
    root
  }

  /** State-store sizing knob: streaming state lives in ONE store instance
    * per shuffle partition and every micro-batch commits every instance,
    * so at small per-key state volumes the commit constant dominates and
    * CPU-count-sized partitioning (32 here) overpays. Streaming runs honor
    * `graft.stream.shufflePartitions` when set (Bench sets 8; Verify
    * leaves the session default, so correctness is gated at BOTH
    * layouts — result equality across layouts is also pinned by a
    * StreamingSpec test). Production sizes this by state volume per
    * key-range, not executor count; the session value is restored after
    * the run because the knob must never leak into batch queries. */
  // Serializes the save/mutate/run/restore window below (r16, ADVICE
  // low): session confs are process-global per SparkSession, so two
  // runToMemory calls racing on the SAME session (the concurrent-runs
  // spec; any caller driving streaming queries from multiple threads)
  // could overlap their save/restore windows — one restoring the other's
  // mid-run override or saving an already-overridden value as "before".
  // The override must hold for the WHOLE run (micro-batch planning
  // re-reads spark.sql.shuffle.partitions for stateless stages), so the
  // lock spans start-to-restore; concurrent streaming runs on one
  // session serialize, which is correct-by-construction and cheap at
  // AvailableNow catalog sizes. A DataFrame is bound to its session, so
  // per-run spark.newSession() isolation isn't reachable from here.
  private val streamConfLock = new Object
  private def withStreamShuffle[T](
      spark: org.apache.spark.sql.SparkSession)(f: => T): T =
      streamConfLock.synchronized {
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    val want = spark.conf.getOption("graft.stream.shufflePartitions")
    want.foreach(spark.conf.set(key, _))
    try f finally spark.conf.set(key, before)
  }

  /** Run a streaming frame to completion (AvailableNow) into a uniquely
    * named memory sink and return the sink table — the shared tail of
    * every oracle-gated streaming run. */
  private def runToMemory(df: DataFrame, prefix: String,
                          mode: OutputMode): DataFrame =
    withStreamShuffle(df.sparkSession) {
      import org.apache.spark.sql.streaming.Trigger
      val name = s"${prefix}_${runSeq.incrementAndGet()}"
      val q = df.writeStream
        .format("memory").queryName(name)
        .outputMode(mode)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      df.sparkSession.table(name)
    }

  /** The ingest-side curation gate executed as a REAL streaming run:
    * documents arrive as a file stream and the curate-chain's first two
    * stages — language ID (token_profile) and the repetition filter
    * (repeat_stats) — run per micro-batch, dropping non-English and
    * boilerplate docs in flight. Deliberately STATELESS (no watermark, no
    * state store): every kernel is a narrow per-row projection, so the
    * gate rides each micro-batch at scan speed and deploys in front of
    * dedup/decontam (which need state or batch jobs) exactly as a
    * production filter-on-ingest does. The oracle is the identical batch
    * predicate — streaming execution itself passes the hash gate. */
  def streamCurate(spark: org.apache.spark.sql.SparkSession,
                   dir: String): DataFrame = {
    val docs = fileStream(spark, dir, "documents")
      .withColumn("nt", regexp_replace(lower(col("text")), "\\s+", " "))
    val gated = docs
      .withColumn("tp", expr(
        s"token_profile(nt, ${graft.operators.TextAnalysis.langProfileLit})"))
      .filter(graft.operators.TextAnalysis.isEnglish(col("tp")))
      .withColumn("rs", expr("repeat_stats(nt)"))
      .withColumn("n_tok", element_at(col("rs"), 1))
      .withColumn("dup_2gram_frac",
        when(col("n_tok") < 2, lit(0.0)).otherwise(
          round(lit(1.0) - element_at(col("rs"), 4).cast(DoubleType) /
            (col("n_tok") - 1).cast(DoubleType), 4)))
      .filter(col("dup_2gram_frac") <=
        graft.operators.TextAnalysis.RepetitionThreshold)
      .select(col("doc_id"), col("n_tok"), col("dup_2gram_frac"))
    runToMemory(gated, "graft_stream_curate", OutputMode.Append())
      .orderBy("doc_id")
  }

  /** The tumbling-window aggregation executed as a REAL Structured
    * Streaming job, oracle-checked: readStream over the events parquet
    * (file-stream source), the same window/agg transform as the batch
    * `EventWindows.tumbling`, Trigger.AvailableNow (process everything,
    * then stop), complete-mode memory sink. The returned table must equal
    * the batch result — q_stream_tumbling shares q_window_tumbling's
    * DuckDB oracle, so streaming execution itself passes the hash gate.
    * In production the source swaps for kafka/files-in-motion and the
    * sink for a table; the transform is untouched. */
  def streamTumbling(spark: org.apache.spark.sql.SparkSession,
                     dir: String): DataFrame = {
    val agg = eventsStream(spark, dir)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), EventWindows.sumValueCents)
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss")
          .as("hour_start"),
        col("event_type"), col("cnt"), col("sum_value_cents"))
    runToMemory(agg, "graft_stream_tumbling", OutputMode.Complete())
      .orderBy("hour_start", "event_type")
  }

  /** The sliding-window aggregation executed as a REAL streaming job —
    * completes the batch↔streaming window parity (tumbling and session
    * already have streaming twins): same 2h/1h window/agg transform as
    * the batch `EventWindows.sliding`, complete-mode memory sink, shared
    * batch oracle. Each event updates TWO window states; the overlap is
    * exactly what the streaming state store deduplicates against
    * recomputation. */
  def streamSliding(spark: org.apache.spark.sql.SparkSession,
                    dir: String): DataFrame = {
    val agg = eventsStream(spark, dir)
      .groupBy(window(col("ts"), "2 hours", "1 hour"))
      .agg(count(lit(1)).as("cnt"), EventWindows.sumValueCents)
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss")
          .as("win_start"),
        col("cnt"), col("sum_value_cents"))
    runToMemory(agg, "graft_stream_sliding", OutputMode.Complete())
      .orderBy("win_start")
  }

  /** Stream–static join executed as a REAL streaming job: the events
    * file-stream enriched against the static customer dimension
    * (user_id = c_custkey), then a daily windowed count/sum per market
    * segment — the standard "enrich the stream against a slowly-changing
    * table" pattern. The static side re-plans per micro-batch, so it
    * carries NO broadcast hint: customer is fact-proportional, and
    * Catalyst/AQE picks broadcast only while it actually fits.
    * Oracle: the equivalent batch join+agg stated in DuckDB — streaming
    * execution itself must reproduce the batch answer through the hash
    * gate (same discipline as streamTumbling). */
  def streamEnrich(spark: org.apache.spark.sql.SparkSession,
                   dir: String): DataFrame = {
    val events = eventsStream(spark, dir)
    val dim = graft.Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment").as("segment"))
    val agg = events
      .join(dim, events("user_id") === dim("c_custkey"))
      .groupBy(window(col("ts"), "1 day"), col("segment"))
      .agg(count(lit(1)).as("cnt"), EventWindows.sumValueCents)
      .select(
        date_format(col("window.start"), "yyyy-MM-dd").as("day"),
        col("segment"), col("cnt"), col("sum_value_cents"))
    runToMemory(agg, "graft_stream_enrich", OutputMode.Complete())
      .orderBy("day", "segment")
  }

  /** Streaming → parquet with idempotent restarts — the exactly-once
    * sink discipline for files: Complete output mode hands every
    * micro-batch the whole aggregate, and `foreachBatch` overwrites ONE
    * flat table with it, so replaying a batch (failure/restart, or a full
    * re-run) rewrites the same table instead of appending duplicates, and
    * a batch that changed only some groups still leaves every group in
    * the table. A non-watermarked aggregate keeps every group in state
    * under any output mode, so Complete mode costs no extra state, only
    * a per-batch write of the aggregate (one row per day × event type).
    * The query returns the parquet read BACK from the sink, so the
    * driver's oracle gates the entire write→read lifecycle (same pattern
    * as the CSV round-trip); idempotence itself is pinned by running the
    * stream twice in the spec. */
  def streamToParquet(spark: org.apache.spark.sql.SparkSession,
                      dir: String): DataFrame = withStreamShuffle(spark) {
    import org.apache.spark.sql.streaming.Trigger
    val out = graft.sources.CsvIO.scratch("stream_sink_q", dir)
    val agg = eventsStream(spark, dir)
      .groupBy(
        date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"),
        col("event_type"))
      .agg(count(lit(1)).as("cnt"), EventWindows.sumValueCents)
    parquetSinkOf(agg, out)
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()
    graft.Tables.parquet(spark, out).orderBy("day", "event_type")
  }

  /** The sink of [[streamToParquet]]: a streaming aggregate written as one
    * flat parquet table at `out`, rewritten whole by every micro-batch.
    * The caller picks the trigger and starts it. */
  private[graft] def parquetSinkOf(agg: DataFrame,
                                   out: String): DataStreamWriter[Row] =
    agg.writeStream
      .outputMode(OutputMode.Complete())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode("overwrite").parquet(out)
        ()
      }

  /** Stream–stream interval join executed as a REAL streaming job: the
    * attribution pairs of `RangeJoin.query` (clicks inside same-user 24h
    * post-purchase windows), but with BOTH sides unbounded streams. The
    * event-time range condition (`click_ts` in [purchase_ts,
    * purchase_ts + 1 day)) plus watermarks on both sides is exactly what
    * lets Spark bound the join state: a buffered purchase can be evicted
    * once the click watermark passes its window end, and vice versa —
    * without the range bound the state would grow forever. Append mode
    * (inner join emits once per matched pair). Oracle: the SAME DuckDB
    * inequality join as q_range_join — the streaming execution must
    * reproduce the batch pair set through the hash gate. */
  /** PRODUCTION WATERMARK SIZING: `delay` must bound the source's INGEST
    * DISORDER — how far behind the newest-seen event a straggler can
    * arrive — NOT the dataset's time span. The default covers this replay
    * (the file-stream source reads a ~30-day table in storage order, so
    * the replay's "disorder" IS the span); a continuous deployment with,
    * say, ≤2 hours of cross-partition skew should pass "2 hours", which
    * bounds both sides' join state to ~that horizon per key instead of
    * holding a month of events. Too small silently drops matching pairs;
    * too large only costs state. */
  def streamRangeJoin(spark: org.apache.spark.sql.SparkSession,
                      dir: String, delay: String = "31 days"): DataFrame = {
    // one source wiring (schema probe + file stream), two branches.
    // With a 0-second watermark, correctness would silently depend on the
    // table arriving as ONE micro-batch — if the source ever split,
    // out-of-time-order events in later batches would fall behind the
    // watermark and matching pairs would be dropped. Trigger.AvailableNow
    // bounds the run, so the wide delay costs state (both sides
    // buffered), not an unbounded stream.
    val joined = streamRangeJoinOf(eventsStream(spark, dir), delay)
    runToMemory(joined, "graft_stream_range", OutputMode.Append())
      .orderBy("user_id", "click_id", "purchase_ts")
  }

  /** The join shape of [[streamRangeJoin]] over a caller-supplied event
    * source — the *Of delegation variant that lets specs drive
    * MemoryStream waves through the PRODUCTION plan (watermark-driven
    * state eviction is unobservable on the single-batch file source:
    * AvailableNow ends before any second watermark update). `src` needs
    * (ts, user_id, event_type, event_id). */
  def streamRangeJoinOf(src: DataFrame, delay: String): DataFrame = {
    val clicks = src
      .filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", delay)
    val purchases = src
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", delay)
    clicks.join(purchases,
        col("user_id") === col("p_user") &&
        col("click_ts") >= col("purchase_ts") &&
        col("click_ts") < col("purchase_ts") + expr("INTERVAL 1 DAY"))
      .select("user_id", "click_id", "click_ts", "purchase_ts")
  }

  /** Streaming drift monitor — the continuous form of
    * [[graft.operators.Behavior.valueDrift]]: each daily tumbling window's
    * value distribution is binned (the same floor-log₂ exact-DECIMAL-cents
    * bins, no libm) and joined IN-STREAM against the broadcast
    * whole-history baseline histogram; each (day, bin) cell reports its
    * count beside the baseline's and the EXACT integer drift numerator
    * |n·bt − bc·dt| — the per-cell total-variation contribution a
    * monitoring job alarms on when a day's ingest distribution walks away
    * from history.
    *
    * Streaming shape: the bin derivation is a stateless narrow projection;
    * the baseline is a static ≤64-row dimension (stream–static broadcast
    * join, re-used every micro-batch); the ONLY state is the windowed
    * count keyed by (day, bin) — days × bins cells, independent of event
    * volume. The per-day totals and numerators are a post-run projection
    * over that bounded result table. Oracle: the identical batch
    * derivation — streaming execution itself passes the hash gate. */
  def streamDrift(spark: org.apache.spark.sql.SparkSession,
                  dir: String): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, LongType}
    def binOf(c: org.apache.spark.sql.Column) =
      when(c.isNull, lit(-1L)).when(c <= 0L, lit(0L))
        .otherwise(length(bin(c)).cast(LongType))
    def cents(c: org.apache.spark.sql.Column) =
      (c.cast(DecimalType(18, 2)) * 100).cast(LongType)
    // global window over a BOUNDED table only: `base` is one row per bin
    // (≤64 magnitude bins + null/zero sentinels), never the event stream
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
    val base = graft.Tables.events(spark, dir)
      .select(binOf(cents(col("value"))).as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("bc"))
      .withColumn("bt", sum(col("bc")).over(wAll))
    val agg = eventsStream(spark, dir)
      .select(col("ts"), binOf(cents(col("value"))).as("bin"))
      .join(broadcast(base), Seq("bin"))
      .groupBy(window(col("ts"), "1 day"), col("bin"))
      .agg(count(lit(1)).as("n"), first(col("bc")).as("bc"),
        first(col("bt")).as("bt"))
      .select(date_format(col("window.start"), "yyyy-MM-dd").as("day"),
        col("bin"), col("n"), col("bc"), col("bt"))
    val res = runToMemory(agg, "graft_stream_drift", OutputMode.Complete())
    val wDay = org.apache.spark.sql.expressions.Window.partitionBy("day")
    res.withColumn("dt", sum(col("n")).over(wDay))
      .select(col("day"), col("bin"), col("n"), col("bc"),
        abs(col("n") * col("bt") - col("bc") * col("dt")).as("drift_num"))
      .orderBy("day", "bin")
  }

  /** Streaming per-window top-k via the CUSTOM mergeable Misra–Gries
    * aggregate ([[graft.functions.MisraGriesAgg]]) running INSIDE
    * Structured Streaming state — the point being demonstrated: a
    * TypedImperativeAggregate's serialize/merge cycle is exactly what
    * the state store needs, so the same UDAF that serves batch heavy
    * hitters becomes an incrementally-maintained streaming summary with
    * no new code. Each daily window tracks its top user buckets
    * (user_id mod 97 — a bounded audience segmentation).
    *
    * Exactness: capacity 128 > 97 distinct buckets, so the MG summary
    * never decrements — it IS the exact per-window count map, and the
    * emitted order (count desc, bucket-string asc) is total. The batch
    * oracle states exact per-day top-5 with the same tiebreak;
    * streaming execution itself passes the hash gate.
    *
    * Scale: state per window is one bounded MG buffer (≤128 entries),
    * not the event volume — the aggregate absorbs arbitrarily many
    * events into O(k) state, which is the whole reason MG exists. */
  def streamTopkUsers(spark: org.apache.spark.sql.SparkSession,
                      dir: String): DataFrame = {
    val agg = eventsStream(spark, dir)
      .select(col("ts"),
        pmod(col("user_id"), lit(97L)).cast(StringType).as("bucket"))
      .groupBy(window(col("ts"), "1 day"))
      .agg(expr("mg_topk(bucket, 128)").as("cands"))
      .select(date_format(col("window.start"), "yyyy-MM-dd").as("day"),
        col("cands"))
    val res = runToMemory(agg, "graft_stream_topk", OutputMode.Complete())
    res.select(col("day"), posexplode(expr("slice(cands, 1, 5)")))
      .select(col("day"), (col("pos") + 1).cast(LongType).as("rank"),
        col("col").as("bucket"))
      .orderBy("day", "rank")
  }

  /** Streaming level-shift detection — the continuous deployment of
    * [[graft.operators.Behavior.changepoint]], completing the streaming
    * monitoring suite (drift ▸ top-k ▸ changepoint): the daily volume
    * counts maintain as streaming window state (days-sized, independent
    * of event volume) with the SAME planted midpoint outage applied
    * in-flight as a stateless filter; the two-sided 7-day RANGE means,
    * median threshold and flag finish post-run over the bounded daily
    * table — in production that finish is the dashboard query over the
    * continuously-maintained counts, re-evaluated per trigger (a
    * leading 7-day window inherently waits for 7 days of data; the
    * emission delay IS the detector's definition, not a limitation).
    * Oracle: identical to the batch detector's — streaming maintenance
    * of the counts must reproduce it through the hash gate. */
  def streamChangepoint(spark: org.apache.spark.sql.SparkSession,
                        dir: String): DataFrame = {
    import org.apache.spark.sql.types.{DateType, LongType => LT}
    val base = graft.Tables.events(spark, dir)
      .select(datediff(col("ts").cast(DateType),
        lit("1970-01-01").cast(DateType)).cast(LT).as("d"))
    // bounded scalar aggregate (one Long) — the same class of driver
    // value as gram/centroid collects, NOT a data collect
    val midV = base.agg(
      expr("min(d) + (max(d) - min(d) + 1) div 2").cast(LT)).collect()(0)
      .getLong(0)
    val agg = eventsStream(spark, dir)
      .select(col("ts"), col("event_id"),
        datediff(col("ts").cast(DateType), lit("1970-01-01").cast(DateType))
          .cast(LT).as("d"))
      // the SAME plant as Behavior.changepoint, written in the same form
      // so a grep for the batch predicate finds this streaming twin (the
      // only difference: mid is the precomputed scalar, not a column)
      .filter(!(col("d") >= midV && col("event_id") % 10 < 3))
      .groupBy(window(col("ts"), "1 day"))
      .agg(count(lit(1)).as("n"))
      .select(datediff(col("window.start").cast(DateType),
        lit("1970-01-01").cast(DateType)).cast(LT).as("d"), col("n"))
    val daily = runToMemory(agg, "graft_stream_cpt", OutputMode.Complete())
    val med = daily.agg(expr("percentile(CAST(n AS DOUBLE), 0.5)").as("med"))
    val wB = org.apache.spark.sql.expressions.Window.orderBy("d")
      .rangeBetween(-7, -1)
    val wA = org.apache.spark.sql.expressions.Window.orderBy("d")
      .rangeBetween(0, 6)
    daily
      .withColumn("nb", count(col("n")).over(wB))
      .withColumn("sb", sum(col("n")).over(wB))
      .withColumn("na", count(col("n")).over(wA))
      .withColumn("sa", sum(col("n")).over(wA))
      .filter(col("nb") === 7L && col("na") === 7L)
      .crossJoin(broadcast(med))
      .select(col("d").as("epoch_day"), col("n"),
        round(col("sb").cast(DoubleType) / col("nb").cast(DoubleType), 4)
          .as("mean_before"),
        round(col("sa").cast(DoubleType) / col("na").cast(DoubleType), 4)
          .as("mean_after"),
        (abs(col("sa").cast(DoubleType) / col("na").cast(DoubleType) -
          col("sb").cast(DoubleType) / col("nb").cast(DoubleType)) >
          lit(0.15) * col("med")).cast(LT).as("is_shift"))
      .orderBy("epoch_day")
  }
}
