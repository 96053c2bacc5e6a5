package graft

import org.apache.spark.sql.execution.{FormattedMode, SparkPlan}
import org.apache.spark.sql.execution.window.WindowExec
import scala.util.control.NonFatal

/** Developer tools over the catalog, one main:
  *   - `plan <sfDir> [query...]`: formatted physical plans (default: the
  *     scale-critical set below), to audit join strategy, pushdown and
  *     codegen spans;
  *   - `windows <sfDir> [query...]`: every WindowExec with NO partition
  *     spec (default: all queries) — the "Moving all data to a single
  *     partition" class. An unpartitioned window funnels its whole input
  *     through one task, fine only when the frame is bounded by
  *     construction (a post-aggregate or top-k frame), so each hit prints
  *     its window expressions and input subtree for classification. AQE
  *     is off in this session so the physical tree is directly
  *     collectible (plan SHAPE, not timing, is what is read here);
  *   - `work <sfDir> query...`: per query, one unmeasured noop-sink
  *     execution (JIT and class loading), then one in the Bench layout
  *     under [[Work.measure]]: a line of jobs, shuffle write and spill
  *     totals per query, and a line per streaming run it launched (data
  *     batches, peak state, commit-path ms).
  * Usage: sbt "runMain graft.DevTools <command> <sfDir> [query...]" */
object DevTools {
  private val planDefaults = Seq(
    "q_pivot_ratio", "q_group_mean_having", "q_agg_sum", "q_left_join",
    "q_select_rename", "q_geo_join", "q_minhash_neardup", "q_ann_topk",
    "q_window_tumbling", "q_topk")

  def main(args: Array[String]): Unit = {
    require(args.length >= 2 && Set("plan", "windows", "work")(args(0)),
      "usage: DevTools plan|windows|work <sfDir> [query...]")
    val Array(cmd, sf) = args.take(2)
    val named = args.drop(2).toSeq
    require(cmd != "work" || named.nonEmpty,
      "usage: DevTools work <sfDir> <query...>")
    val spark =
      if (cmd == "work") ToolSupport.benchSession()
      else Tables.localSession("graft-devtools")
    def frame(q: String) = SparkEntry.queries(q)(spark, sf)
    cmd match {
      case "plan" =>
        for (q <- (if (named.nonEmpty) named else planDefaults).sorted) {
          println(s"\n========== $q ==========")
          println(frame(q).queryExecution.explainString(FormattedMode))
        }
      case "windows" =>
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        var total = 0
        val all = if (named.nonEmpty) named else SparkEntry.queries.keys.toSeq
        for (q <- all.sorted)
          try {
            val hits =
              unpartitionedWindows(frame(q).queryExecution.executedPlan)
            if (hits.nonEmpty)
              println(s"\n========== $q: ${hits.size} unpartitioned window(s)")
            for (w <- hits) {
              total += 1
              val exprs = w.windowExpression.map(_.sql).mkString("; ")
              println(s"  exprs: ${exprs.take(200)}")
              println(s"  child: ${w.child.getClass.getSimpleName} | " +
                w.child.simpleStringWithNodeId().take(160))
            }
          } catch { case NonFatal(e) =>
            println(s"\n========== $q: AUDIT FAILED " +
              s"${e.getClass.getSimpleName}: " +
              s"${Option(e.getMessage).getOrElse("").take(120)}")
          }
        println(s"\n[window-audit] total unpartitioned WindowExec nodes: $total")
      case "work" =>
        def run(q: String): Unit =
          frame(q).write.mode("overwrite").format("noop").save()
        for (q <- named) {
          run(q)
          ToolSupport.release(spark)
          val (_, w) = Work.measure(spark)(run(q))
          println(s"## $q jobs=${w.jobs} shuffle_bytes=${w.shuffleBytes} " +
            s"shuffle_records=${w.shuffleRecords} disk_spill=${w.spillBytes}")
          for (r <- w.runs)
            println(s"## $q run=${r.name} batches=${r.dataBatches} " +
              s"max_state_rows=${r.peakStateRows} " +
              s"max_state_bytes=${r.peakStateBytes} " +
              s"add_batch_ms=${r.addBatchMs} wal_commit_ms=${r.walCommitMs} " +
              s"commit_offsets_ms=${r.commitOffsetsMs} " +
              s"query_planning_ms=${r.queryPlanningMs} " +
              s"state_commit_ms=${r.stateCommitMs}")
          ToolSupport.release(spark)
        }
    }
    spark.stop()
  }

  /** WindowExec nodes with an empty partitionSpec, searched through the
    * whole tree including subqueries. */
  def unpartitionedWindows(plan: SparkPlan): Seq[WindowExec] =
    plan.collectWithSubqueries {
      case w: WindowExec if w.partitionSpec.isEmpty => w
    }
}
