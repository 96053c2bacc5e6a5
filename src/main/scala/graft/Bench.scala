package graft

/** Bench surface (driver contract): one JSON line with per-query seconds
  * over `SPARK_GRAFT_SF_DIR`, in the Bench layout (ToolSupport.benchSession:
  * local[32] per the brief, 32 shuffle partitions to match, UTC session zone
  * as Verify). Each query is forced through a noop sink — unlike `count()`,
  * that evaluates every output column, projection and sort in the plan, so
  * the numbers measure the work the query actually declares. A small untimed
  * warm-up absorbs session/codegen/parquet-footer first-touch costs so the
  * first timed query isn't charged for them. Reported numbers are per-query
  * MEDIANS of `SPARK_GRAFT_REPEAT` (default 3) runs with untimed cache-clear
  * + GC between runs — single-pass numbers showed 2–8× JVM noise on
  * unchanged queries once the catalog hit 80 entries in one process
  * (BENCH_r05 vs r04).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = ToolSupport.benchSession()
    // untimed warm-up: JVM/codegen + one FULL scan per table — footer
    // decode and OS page cache are first-touch costs that would otherwise
    // land on whichever query happens to scan a table first (Map order
    // shifts when queries are added, so per-query numbers would jump
    // across rounds for reasons unrelated to the query)
    spark.range(1000).selectExpr("sum(id)").collect()
    Tables.names.foreach { t =>
      try Tables.load(spark, sfDir, t).write.mode("overwrite")
        .format("noop").save()
      catch { case _: Throwable => () }
    }
    // ... and one tiny shuffle+agg through the noop sink: the first
    // shuffle and the noop committer carry one-time init the first TIMED
    // query would otherwise absorb
    try spark.range(100000).selectExpr("id % 7 AS k", "id AS v")
      .groupBy("k").sum("v")
      .write.mode("overwrite").format("noop").save()
    catch { case _: Throwable => () }
    // dev filter: SPARK_GRAFT_ONLY=q_a,q_b times just those queries,
    // echoed in the JSON ("only") — see ToolSupport.onlyFilter
    val (queries, only) = ToolSupport.onlyFilter(SparkEntry.queries)
    // a failed query appears in "queries" with a NEGATIVE elapsed sentinel
    // (-sec) AND in "errors"; "value" sums only successful durations. Both
    // conventions are kept so a consumer reading either per-query keys or
    // the errors map sees the failure — a fast failure can't masquerade as
    // a fast run, and a partially-failed run can't masquerade as a smaller
    // successful one.
    // SPARK_GRAFT_REPEAT=n runs each query n times; default 3. In the
    // default (driver) mode each query's reported number is the MEDIAN of
    // its runs — one pass per query measured r5-level cross-query JVM
    // noise of 2–8× on queries whose code hadn't changed. With
    // SPARK_GRAFT_ONLY set (dev mode) every pass is emitted ("q#2"… rows)
    // so warm-up vs steady-state stays visible.
    // Run-order sidecar (r16, the window-calibration fix's data half):
    // SPARK_GRAFT_ORDER_OUT=<path> writes {"<benchKey>":<runIndex>,...} in
    // EXECUTION order before timing starts. The r15 judge measured a
    // mid-sweep hot patch (run-order deciles 4-6 at 1.4-1.85x) that the
    // single position-122 control key couldn't see; with the positional
    // map in BENCH_r*_builder.json a judge computes the decile profile
    // directly instead of inferring positions. A FILE, never stdout: the
    // driver's 2000-char tail capture window must see only the one JSON
    // line. Unset (the driver contract) => no side effect.
    val ordered = queries.toSeq
    sys.env.get("SPARK_GRAFT_ORDER_OUT").foreach { path =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
        ToolSupport.orderJson(ordered.map(_._1)))
    }
    val repeat = sys.env.getOrElse("SPARK_GRAFT_REPEAT", "3").toInt
    require(repeat >= 1,
      s"SPARK_GRAFT_REPEAT must be >= 1 (got $repeat): 0 or negative would " +
        "silently emit an empty-but-successful-looking run")
    val runs = ordered.map { case (name, fn) =>
      val timed = (1 to repeat).map { _ =>
        val t0 = System.nanoTime()
        val err =
          try {
            fn(spark, sfDir).write.mode("overwrite").format("noop").save()
            None
          } catch { case e: Throwable =>
            Some(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(60)}")
          }
        val sec = (System.nanoTime() - t0) / 1e9
        // inter-run hygiene, OUTSIDE the timer — so one query's leftovers
        // aren't billed to the next (the r5 "unchanged query regressed 6×"
        // failure mode; r8 sweeps billed mid-catalog queries 2-6× their
        // isolated medians before the synchronous unpersist)
        ToolSupport.release(spark)
        (sec, err)
      }
      (name, timed)
    }
    // median of SUCCESSFUL runs only (lower-middle for even n) — a query
    // failing fast on 1 of 3 repeats must not understate the magnitude;
    // when every run failed the median falls back to all runs. Any failed
    // run still poisons the query: negative sentinel + first error message.
    val results = runs.flatMap { case (name, timed) =>
      val firstErr = timed.collectFirst { case (_, Some(m)) => m }
      if (only.isEmpty) {
        val ok = timed.collect { case (sec, None) => sec }
        val pool = if (ok.nonEmpty) ok else timed.map(_._1)
        val med = pool.sorted.apply((pool.size - 1) / 2)
        Seq((name, med, firstErr))
      } else timed.zipWithIndex.map { case ((sec, err), i) =>
        (if (i == 0) name else s"$name#${i + 1}", sec, err)
      }
    }
    import ToolSupport.jstr
    // Adaptive precision + trailing-zero strip (ToolSupport.fmtSecs) and
    // abbreviated wire keys (ToolSupport.benchKey — full names live in
    // Verify/CORRECTNESS) keep the 90+-entry line inside the driver's
    // 2000-char tail window with >=15% headroom at 95 entries (r4/r5
    // overflowed it — and the sbt "[info] " prefix broke parsing even when
    // it fit; see build.sbt outputStrategy). Budget guarded in
    // ToolSupportSpec. Failure sentinels floor the magnitude at 0.01 s so
    // a <5 ms failure can't format as "-0", which JSON-parses equal to 0
    // and would lose the sign-based failure signal.
    def num(v: Double): String = ToolSupport.fmtSecs(v)
    val qs = results.map { case (k, v, err) =>
      s"\"" + ToolSupport.benchKey(k) + "\":" +
        (if (err.isEmpty) num(v) else "-" + num(math.max(v, 0.01)))
    }.mkString("{", ",", "}")
    val errs = results.collect { case (k, _, Some(m)) =>
      s"${jstr(ToolSupport.benchKey(k))}:${jstr(m)}" }
    val errsField =
      if (errs.isEmpty) "" else errs.mkString(""","errors":{""", ",", "}")
    val total = results.collect { case (_, v, None) => v }.sum
    val onlyField = only.map(n =>
      s""","only":${n.toSeq.sorted.map(jstr).mkString("[", ",", "]")}""")
      .getOrElse("")
    // sf as the basename ("sf0.1"), not the full path: 15 chars of the
    // 2000-char capture window buy most of one more catalog entry
    val sfName = java.nio.file.Paths.get(sfDir).getFileName.toString
    println(s"""{"metric":"total","value":${num(total)},"unit":"sec","queries":$qs$errsField$onlyField,"sf":"$sfName"}""")
    spark.stop()
  }
}
