package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.graftbench.ListenerBusAccess
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Closed-loop warm-pass benchmark of one workload, reached only through
  * `graft.SparkEntry.queries` and the `graft.functions` SQL functions.
  *
  * A pass calls every entry of the workload's call list once, in order,
  * forcing each result through the `noop` sink; the next call starts when
  * the previous one returned. Passes are interleaved (never back-to-back
  * repeats of one call), so per-pass codegen and JIT work stays in the
  * measurement. `--warmup` untimed passes run first; then timed passes run
  * until `--seconds` have elapsed. Cheap process counters (MXBeans,
  * /proc) are read between passes, never inside one.
  *
  * The last warm-up pass writes each call's result as parquet, for the
  * output check that runs after the JVM exits.
  *
  * With `--trace 1` the timed passes run under a listener: each call is a
  * span whose Spark counters are attributed by a local-property tag, and
  * the bus is drained after every call.
  *
  * Usage: WarmBench --data DIR --out DIR --calls q_a=layer,q_b=layer
  *   --seconds S --warmup W --min-passes P --trace 0|1 --cores N
  *   --clk-tck HZ
  */
object WarmBench {
  private final case class Args(data: String, out: String,
    calls: Seq[(String, String)], seconds: Double, warmup: Int,
    minPasses: Int, trace: Boolean, cores: Int, clkTck: Int)

  private def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v
      case other => sys.error(s"bad argument ${other.mkString(" ")}") }.toMap
    Args(kv("data"), kv("out"),
      kv("calls").split(",").toSeq.map { c =>
        val Array(n, l) = c.split("=", 2); (n, l) },
      kv("seconds").toDouble, kv("warmup").toInt, kv("min-passes").toInt,
      kv("trace") == "1", kv("cores").toInt, kv("clk-tck").toInt)
  }

  /** Process and host counters read between passes. */
  private final case class Snap(wallNs: Long, cpuNs: Long, jitMs: Long,
      gcMs: Long, codegen: Long, hostBusy: Long, hostSteal: Long)

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private def snap(): Snap = {
    // /proc/stat "cpu" line: user nice system idle iowait irq softirq steal
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0)
      .trim.split("\\s+").drop(1).map(_.toLong)
    Snap(System.nanoTime(), os.getProcessCpuTime,
      ManagementFactory.getCompilationMXBean.getTotalCompilationTime,
      ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime).sum,
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      f(0) + f(1) + f(2) + f(5) + f(6), f(7))
  }

  private def passCounters(a: Snap, b: Snap, hz: Int): Map[String, Double] = {
    val cpu = (b.cpuNs - a.cpuNs) / 1e9
    Map(
      "pass_s" -> (b.wallNs - a.wallNs) / 1e9,
      "cpu_s" -> cpu,
      "jvm.jit_compile_s" -> (b.jitMs - a.jitMs) / 1e3,
      "jvm.gc_pause_s" -> (b.gcMs - a.gcMs) / 1e3,
      "spark.codegen_compiles" -> (b.codegen - a.codegen).toDouble,
      "host.steal_s" -> (b.hostSteal - a.hostSteal).toDouble / hz,
      "host.other_cpu_s" -> ((b.hostBusy - a.hostBusy).toDouble / hz - cpu))
  }

  private def rssPeakMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def describe(e: Throwable): String =
    s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}"
      .linesIterator.take(3).mkString(" | ").take(400)

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val startMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val work = Paths.get(a.out).toAbsolutePath
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("warmbench")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("local").toString)
      // bounded status-store retention: it fills during the warm-up, so
      // the live heap does not grow with the number of timed passes
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "100")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext

    val queries = graft.SparkEntry.queries
    val calls = a.calls.map { case (n, l) => (n, l, queries(n)) }
    val errors = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[String]]
    var attempted = 0L
    var threw = 0L

    val results = work.resolve("results")
    def noop(name: String, df: DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()
    def dump(name: String, df: DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite")
        .parquet(results.resolve(name).toString)

    def runCall(s: SparkSession, name: String,
        fn: (SparkSession, String) => DataFrame,
        sink: (String, DataFrame) => Unit = noop): Boolean = {
      attempted += 1
      try { sink(name, fn(s, a.data)); true }
      catch { case e: Throwable =>
        threw += 1
        errors.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += describe(e)
        false
      }
    }

    // Every pass runs in a session of its own, as a new job would, so the
    // engine's per-session caches (the OLS fit) are paid in every pass.
    // Data the pass cached is released after it, outside its timing.
    def freshSession(): SparkSession = {
      val s = spark.newSession()
      SparkSession.setActiveSession(s)
      s
    }

    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    def plainPass(kind: String, sink: (String, DataFrame) => Unit = noop)
        : Map[String, Double] = {
      val s = freshSession()
      val s0 = snap()
      val perCall = calls.map { case (n, _, fn) =>
        val t = System.nanoTime()
        runCall(s, n, fn, sink)
        n -> (System.nanoTime() - t) / 1e9
      }
      val c = passCounters(s0, snap(), a.clkTck)
      spark.catalog.clearCache()
      passes += (c ++ Map("kind" -> kind, "call_s" -> perCall.toMap))
      c
    }

    // The last untimed pass writes every call's result for the output
    // check; the comparison itself runs after the JVM has exited.
    (1 until a.warmup).foreach(_ => plainPass("warmup"))
    plainPass("check", dump)
    val setupS = (System.currentTimeMillis() - startMs) / 1e3

    val result = mutable.LinkedHashMap.empty[String, Any]
    result("setup_s") = setupS
    val t0 = System.nanoTime()
    def timeLeft: Boolean = (System.nanoTime() - t0) / 1e9 < a.seconds

    if (!a.trace) {
      val timed = mutable.ArrayBuffer.empty[Map[String, Double]]
      while (timed.size < a.minPasses || timeLeft) timed += plainPass("timed")
      result("pass_s") = timed.map(_("pass_s"))
      result("cpu_s") = timed.map(_("cpu_s"))
      // live heap: the least heap in use after each of three full
      // collections, each followed by a pause in which the ContextCleaner
      // releases the blocks and broadcasts the collection found unreachable
      result("heap_live_mb") = (1 to 3).map { _ =>
        System.gc()
        Thread.sleep(300)
        ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
      }.min
    } else {
      val tracer = new Tracer
      sc.addSparkListener(tracer)
      ListenerBusAccess.waitUntilEmpty(sc)
      val layers = calls.map(_._2).distinct
      val perPass = mutable.ArrayBuffer.empty[Map[String, Double]]
      var drainNs = 0L
      var seq = 0
      while (perPass.size < a.minPasses || timeLeft) {
        val s = freshSession()
        s.listenerManager.register(tracer)
        s.streams.addListener(tracer.streams)
        val s0 = snap()
        val spans = calls.map { case (n, l, fn) =>
          seq += 1
          val id = s"$seq:$n"
          val span = new Span(n, l)
          tracer.register(id, span)
          tracer.open = span
          sc.setLocalProperty(Tracer.TagKey, id)
          span.t0Ms = System.currentTimeMillis()
          span.failed = !runCall(s, n, fn)
          span.t1Ms = System.currentTimeMillis()
          sc.setLocalProperty(Tracer.TagKey, null)
          val d0 = System.nanoTime()
          ListenerBusAccess.waitUntilEmpty(sc)
          drainNs += System.nanoTime() - d0
          tracer.open = null
          span
        }
        val c = passCounters(s0, snap(), a.clkTck)
        spark.catalog.clearCache()
        val m = Tracer.passMetrics(spans, layers)
        passes += (c + ("kind" -> "traced"))
        perPass += (m ++ Map(
          "trace.pass_s" -> c("pass_s"),
          "jvm.jit_compile_s" -> c("jvm.jit_compile_s"),
          "jvm.gc_pause_s" -> c("jvm.gc_pause_s"),
          "jvm.non_task_cpu_s" -> (c("cpu_s") - m("spark.task_cpu_s")),
          "spark.codegen_compiles" -> c("spark.codegen_compiles"),
          "host.steal_s" -> c("host.steal_s"),
          "host.other_cpu_s" -> c("host.other_cpu_s")))
      }
      val trace = mutable.LinkedHashMap.empty[String, Any]
      perPass.head.keys.toSeq.sorted.foreach { k =>
        trace(k) = median(perPass.map(_(k)).toSeq) }
      trace("trace.drain_s") = drainNs / 1e9 / perPass.size
      trace("trace.passes") = perPass.size.toDouble
      trace("jvm.rss_peak_mb") = rssPeakMb()
      trace ++= kernels(spark, a.data)
      result("trace") = trace
      result("trace_passes") = perPass.map(_.toMap)
    }

    val oracle = graft.SparkEntry.oracleSql
    result("oracle_sql") = calls.map(_._1).filter(oracle.contains)
      .map(n => n -> oracle(n)).toMap
    result("passes") = passes.toSeq
    result("attempted") = attempted
    result("threw") = threw
    result("errors") = errors.map { case (k, v) => k -> v.distinct.toSeq }
    result("cores") = a.cores
    Files.writeString(work.resolve("result.json"),
      new ObjectMapper().registerModule(DefaultScalaModule)
        .writeValueAsString(result))
    spark.stop()
  }

  /** The native kernels, each timed once as a noop-sink `selectExpr` over
    * the generated documents or embeddings, replicated `KernelCopies` times
    * and cached beforehand so the kernel, not the scan, dominates. */
  private val KernelCopies = 12

  private def kernels(spark: SparkSession, data: String): Map[String, Double] = {
    def load(table: String, cols: String*): DataFrame = {
      val df = spark.read.parquet(s"$data/$table.parquet").selectExpr(cols: _*)
        .crossJoin(spark.range(KernelCopies).toDF("copy")).cache()
      df.count()
      df
    }
    val docs = load("documents", "lower(text) AS t")
    val emb = load("embeddings", "embedding")
    val timed = Seq(
      "minhash_sigs" -> (docs, "minhash_sigs(shingles3(t), 20)"),
      "simhash64" -> (docs, "simhash64(t)"),
      "shingles3" -> (docs, "shingles3(t)"),
      "token_profile" -> (docs,
        "token_profile(t, array(array('der','die','und'), " +
          "array('the','and','of'), array('le','la','et')))"),
      "repeat_stats" -> (docs, "repeat_stats(t)"),
      "word_ngrams" -> (docs, "word_ngrams(t, 8)"),
      "rolling_fp" -> (docs, "rolling_fp(t)"),
      "vec_dot" -> (emb, "vec_dot(embedding, embedding)"),
      "sorted_intersect_count" -> (docs,
        "sorted_intersect_count(sort_array(array_distinct(split(t, ' '))), " +
          "sort_array(array_distinct(slice(split(t, ' '), 1, 12))))")
    ).map { case (name, (df, e)) =>
      val t = System.nanoTime()
      df.selectExpr(e).write.mode("overwrite").format("noop").save()
      (name, (System.nanoTime() - t) / 1e9, df.count())
    }
    docs.unpersist(blocking = true)
    emb.unpersist(blocking = true)
    timed.map { case (n, s, _) => s"functions.${n}_s" -> s }.toMap +
      ("functions.rows" -> timed.map(_._3).sum.toDouble)
  }
}
