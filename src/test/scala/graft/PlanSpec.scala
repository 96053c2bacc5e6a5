package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FormattedMode
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions: the scale-discipline claims the operator
  * Scaladocs make (pushdown, pruning, no cartesian blowups, top-k without a
  * global sort) held at review time — these tests keep them held. A
  * regression here is invisible to the value-correctness oracle but turns
  * into the dominant cost at 100 TB, which is why it gets its own spec.
  */
class PlanSpec extends AnyFunSuite {
  import TestSpark._

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf)
      .queryExecution.explainString(FormattedMode)

  test("top-k executes as TakeOrderedAndProject, not a global sort") {
    val p = plan("q_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("bpe pair top-20 executes as TakeOrderedAndProject over the count") {
    val p = plan("q_bpe_pairs")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  // count operator nodes via the details section's "(id) OpName" headers —
  // substring counting would double-count tree + details renderings
  private def nodeCount(p: String, op: String): Int =
    p.linesIterator.count(_.matches(s"""\\(\\d+\\) $op.*"""))

  test("range join and cbind plan ZERO shuffle exchanges (measured-zero pins)") {
    // the r14 ShuffleBytes audit measured 0 bytes / 0 records for both
    // keys at sf0.1; these pins keep that claim held (BroadcastExchange
    // is allowed — a broadcast build side is not a shuffle)
    for (q <- Seq("q_range_join", "q_cbind")) {
      val p = plan(q)
      assert(nodeCount(p, "Exchange") === 0, s"$q\n$p")
    }
  }

  test("session paths: one user exchange serves all windows, top-k no sort") {
    val p = plan("q_session_paths")
    assert(p.contains("TakeOrderedAndProject"), p)
    // the lag / running-sum / row_number passes all partition by user (the
    // (user, sid) window refines it with a sort, no new shuffle), so the
    // whole sessionization costs ONE hash exchange; the second is the
    // bounded path aggregate. A partitionless window or a per-window
    // re-shuffle would show up as exchange #3.
    assert(nodeCount(p, "Exchange") <= 2, p)
    assert(nodeCount(p, ".*Join") === 0, p)
    // every window keys on user_id (a global window carries no user_id in
    // its windowspecdefinition partition slot)
    val specs = """windowspecdefinition\(([^)]*)\)""".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(specs.nonEmpty && specs.forall(_.contains("user_id")), p)
  }

  test("span mask: strings-free corpus pass (span_fps kernel), no cartesian") {
    // the r20 lazy localCheckpoints on toks/occFp hide the corpus pass
    // behind ExistingRDD scans in the production plan, so the
    // strings-free and full-shape pins read the UNmaterialized logical
    // form of the production call under Materialize.planOnly
    val pf = Materialize.planOnly(graft.operators.Dedup
      .spanMaskOf(graft.operators.Dedup.corpus(spark, sf)))
      .queryExecution.explainString(FormattedMode)
    // the ONLY corpus-wide stage is the span_fps posexplode — the kernel
    // must survive into the physical plan (a rewrite back to the
    // transform+array_join form would silently restore the O(len·w)
    // string assembly this plan exists to avoid)
    assert(pf.contains("span_fps"), pf.take(1500))
    // hot-set joins are equi-joins; a cartesian here is the quadratic
    // blowup the fp-prune-then-verify discipline prevents
    assert(nodeCount(pf, "CartesianProduct") === 0, pf.take(1500))
    assert(nodeCount(pf, "BroadcastNestedLoopJoin") === 0, pf.take(1500))
    // join count is exactly the declared shape: 4 logical joins (hotFp
    // prune, toks re-attach, hotSpan verify, covAgg left join) with the
    // hotOcc subtree's 2 internal joins appearing twice (verify + coverage
    // branches both rebuild it — the recompute-over-pin discipline).
    // Growth past 6 means a new join slipped into the hot path
    assert(nodeCount(pf, ".*Join") === 6, pf.take(1500))
    // ...and the PRODUCTION plan reads the two checkpointed frames
    // (ExistingRDD scans) with the same no-cartesian discipline
    val p = plan("q_span_mask")
    assert(nodeCount(p, "Scan ExistingRDD") >= 2, p)
    assert(nodeCount(p, "CartesianProduct") === 0, p)
    assert(nodeCount(p, "BroadcastNestedLoopJoin") === 0, p)
  }

  test("substring dedup: strings-free corpus pass (span_fps), no cartesian") {
    // full logical shape under Materialize.planOnly (see the span mask
    // pin above for why)
    val pf = Materialize.planOnly(graft.operators.Dedup
      .substringDedupOf(graft.operators.Dedup.corpus(spark, sf)))
      .queryExecution.explainString(FormattedMode)
    // since the r13 retrofit the work-list shares the rewrite's
    // strings-free corpus-wide stage: span_fps posexplode, 8-byte fps on
    // every corpus-wide exchange — a rewrite back to the
    // explode(word_ngrams)+rolling_fp(span) form would silently restore
    // the n·w span-string materialization on the only stage that touches
    // every doc
    assert(pf.contains("span_fps"), pf.take(1500))
    assert(!pf.contains("word_ngrams"), pf.take(1500))
    assert(nodeCount(pf, "CartesianProduct") === 0, pf.take(1500))
    assert(nodeCount(pf, "BroadcastNestedLoopJoin") === 0, pf.take(1500))
    // declared shape: 3 top-level joins (dup verify, corr left, final
    // left) + the 2-join hotOcc subtree (hotFp prune, toks re-attach)
    // rebuilt by its consumers — recompute-over-pin, same as the span
    // mask pin above. Growth past 9 means a new join slipped in
    assert(nodeCount(pf, ".*Join") === 9, pf.take(1500))
    // ...and the PRODUCTION plan reads the checkpointed occFp
    // (ExistingRDD scans) with the same no-cartesian discipline
    val p = plan("q_substring_dedup")
    assert(nodeCount(p, "Scan ExistingRDD") >= 1, p)
    assert(nodeCount(p, "CartesianProduct") === 0, p)
    assert(nodeCount(p, "BroadcastNestedLoopJoin") === 0, p)
  }

  test("suffix dedup: strings-free corpus pass (span_fps), local islands, " +
    "no cartesian") {
    // full logical shape under Materialize.planOnly (the r20 lazy
    // checkpoints hide the corpus pass behind ExistingRDD scans in the
    // production plan — the span/substring pin convention)
    val pf = Materialize.planOnly(graft.operators.Dedup
      .suffixDedupOf(graft.operators.Dedup.suffixCorpus(spark, sf)))
      .queryExecution.explainString(FormattedMode)
    // same strings-free discipline as its span siblings: the only
    // corpus-wide stage is the span_fps posexplode
    assert(pf.contains("span_fps"), pf.take(1500))
    assert(!pf.contains("word_ngrams"), pf.take(1500))
    assert(nodeCount(pf, "CartesianProduct") === 0, pf.take(1500))
    assert(nodeCount(pf, "BroadcastNestedLoopJoin") === 0, pf.take(1500))
    // declared shape: 1 top-level join (repSpan verify → coverage) over
    // the 2-join hotOcc subtree (hotFp prune, toks re-attach), which the
    // verify and coverage branches each rebuild — recompute-over-pin,
    // the span-family convention. Growth past 5 means a new join
    // slipped into the hot path
    assert(nodeCount(pf, ".*Join") === 5, pf.take(1500))
    // ...and the PRODUCTION plan reads the two checkpointed frames with
    // the same no-cartesian / no-window discipline
    val p = plan("q_suffix_dedup")
    assert(nodeCount(p, "Scan ExistingRDD") >= 2, p)
    assert(nodeCount(p, "CartesianProduct") === 0, p)
    assert(nodeCount(p, "BroadcastNestedLoopJoin") === 0, p)
    // the interval assembly is per-doc LOCAL (sort_array + index-lambda
    // scan): a Window operator here would mean the gaps-and-islands fell
    // back to a corpus-wide row_number
    assert(!p.contains("RunningWindowFunction") &&
      nodeCount(p, "Window\\b") === 0, p)
  }

  test("suffix mask: shares the strings-free coverage stage, no cartesian, " +
    "no window") {
    val pf = Materialize.planOnly(graft.operators.Dedup.suffixMaskOf(
      graft.operators.Dedup.suffixCorpus(spark, sf)))
      .queryExecution.explainString(FormattedMode)
    assert(pf.contains("span_fps"), pf.take(1500))
    assert(nodeCount(pf, "CartesianProduct") === 0, pf.take(1500))
    assert(nodeCount(pf, "BroadcastNestedLoopJoin") === 0, pf.take(1500))
    assert(nodeCount(pf, "Window\\b") === 0, pf.take(1500))
    // the suffix-dedup coverage shape (repSpan verify join over the
    // 2-join hotOcc subtree rebuilt by both branches = 5) plus the
    // rewrite's toks left join = 6. Growth past 6 means a new join
    // slipped into the rewrite path
    assert(nodeCount(pf, ".*Join") === 6, pf.take(1500))
    // production plan: checkpointed frames, same discipline
    val p = graft.operators.Dedup.suffixMaskOf(
      graft.operators.Dedup.suffixCorpus(spark, sf))
      .queryExecution.explainString(FormattedMode)
    assert(nodeCount(p, "Scan ExistingRDD") >= 2, p)
    assert(nodeCount(p, "CartesianProduct") === 0, p)
    assert(nodeCount(p, "Window\\b") === 0, p)
  }

  test("corr matrix is one partial+final aggregate pair, no join") {
    // 15 cross-moments accumulate in a single pass: the only exchanges
    // are the 1-row partial merge (+ the 6-row final sort), never a join
    val p = plan("q_corr_matrix")
    assert(nodeCount(p, "Exchange") <= 2, p)
    assert(nodeCount(p, ".*Join") === 0, p)
  }

  test("z-order zone map has no join and only aggregate/sort exchanges") {
    val p = plan("q_zorder")
    assert(nodeCount(p, ".*Join") === 0, p)
    assert(nodeCount(p, "Exchange") <= 2, p)
  }

  test("moving avg windows over the daily aggregate, not raw orders") {
    // aggregate-first: the Window must sit ABOVE the final HashAggregate
    // (window input = priorities × days, never one row per order), and the
    // whole query needs only the agg shuffle + the window repartition +
    // the presentation sort
    val opt = SparkEntry.queries("q_moving_avg")(spark, sf).queryExecution
      .optimizedPlan.toString
    val winIdx = opt.indexOf("Window")
    val aggIdx = opt.indexOf("Aggregate")
    assert(winIdx >= 0 && aggIdx >= 0 && winIdx < aggIdx,
      s"Window must consume the aggregate, not the scan\n$opt")
    val p = plan("q_moving_avg")
    assert(nodeCount(p, "Exchange") <= 3, p)
  }

  test("per-group top-k: fact aggregates pre-join; dims broadcast") {
    // the lineitem aggregate must collapse to one row per supplier BEFORE
    // any join (partial+final pair), and both dimension attaches must be
    // broadcast hash joins — a SortMergeJoin here would shuffle the fact
    val p = plan("q_topk_group")
    assert(nodeCount(p, "BroadcastHashJoin") === 2, p)
    assert(nodeCount(p, "SortMergeJoin") === 0, p)
    assert(nodeCount(p, "CartesianProduct") === 0, p)
    // rank <= 3 pushes down as WindowGroupLimit: per-partition top-3
    // heads BEFORE the nation exchange, so the window shuffle moves at
    // most 3 rows per (partition, nation) — pin the pushdown, not just
    // the window
    assert(nodeCount(p, "WindowGroupLimit") === 2, p)
    assert(nodeCount(p, "Window") - nodeCount(p, "WindowGroupLimit") === 1, p)
    val opt = SparkEntry.queries("q_topk_group")(spark, sf).queryExecution
      .optimizedPlan.toString
    val joinIdx = opt.indexOf("Join")
    val aggIdx = opt.lastIndexOf("Aggregate")
    assert(joinIdx >= 0 && aggIdx > joinIdx,
      s"revenue aggregate must sit BELOW the joins (aggregate-first)\n$opt")
  }

  test("markov/streaks/time-weighted: per-user windows, no joins") {
    // all three sequence operators are window+aggregate only — any join
    // or cartesian here means the lag/lead logic degenerated
    for (q <- Seq("q_markov", "q_streaks", "q_time_weighted")) {
      val p = plan(q)
      assert(nodeCount(p, "CartesianProduct") === 0, s"$q\n$p")
      assert(nodeCount(p, "BroadcastNestedLoopJoin") === 0, s"$q\n$p")
      assert(nodeCount(p, "SortMergeJoin") +
        nodeCount(p, "BroadcastHashJoin") +
        nodeCount(p, "ShuffledHashJoin") === 0, s"$q\n$p")
    }
    assert(nodeCount(plan("q_time_weighted"), "Window") === 1)
    assert(nodeCount(plan("q_streaks"), "Window") === 1)
  }

  test("chisq and lang-drift: margins window over the aggregate, not rows") {
    // the conditional-count aggregate collapses the stream first; every
    // Window (margins/totals) operates on the bounded cell table above it
    for (q <- Seq("q_chisq", "q_lang_drift")) {
      val opt = SparkEntry.queries(q)(spark, sf).queryExecution
        .optimizedPlan.toString
      val winIdx = opt.indexOf("Window")
      val aggIdx = opt.indexOf("Aggregate")
      assert(winIdx >= 0 && aggIdx >= 0 && winIdx < aggIdx,
        s"$q: Window must consume the aggregate, not the scan\n$opt")
    }
  }

  test("bigram LM / BM25: model joins never degenerate to cartesian") {
    // the only nested-loop joins allowed are the 1-row broadcast literal
    // attaches (V / avgdl / n); gram- and term-keyed joins must stay hash
    for (q <- Seq("q_bigram_lm", "q_bm25")) {
      val p = plan(q)
      assert(nodeCount(p, "CartesianProduct") === 0, s"$q\n$p")
    }
    // bm25's top-k is per-partition heads, not a global sort
    assert(plan("q_bm25").contains("TakeOrderedAndProject"))
  }

  test("scd2 runs both windows over ONE per-user sort") {
    // collapse-lag and close-lead share (user_id, ts, event_id) ordering:
    // one Exchange for the window partitioning, one Sort under it (+ the
    // presentation orderBy) — a second window sort would double the cost
    val p = plan("q_scd2")
    assert(nodeCount(p, "Window") === 2, p)
    assert(nodeCount(p, "Exchange") <= 2, p)
    assert(nodeCount(p, "Sort") <= 3, p)
  }

  test("funnel steps are aggregate+equi-join passes: no window over events") {
    // per-step state folds in hash aggregates joined on user_id; the only
    // Window is the 3-row summary's lag
    val p = plan("q_funnel")
    assert(nodeCount(p, "Window") <= 1, p)
    assert(nodeCount(p, "CartesianProduct") === 0, p)
    assert(nodeCount(p, "BroadcastNestedLoopJoin") === 0, p)
  }

  test("edit join generates candidates via an equi hash join on length") {
    val p = plan("q_edit_join")
    assert(nodeCount(p, "CartesianProduct") === 0, p)
    assert(nodeCount(p, "BroadcastNestedLoopJoin") === 0, p)
    assert(p.contains("probe_len"), p) // the derived equi key is the join key
  }

  test("dq checks: FK probes shuffle keys only; fact scans stay narrow") {
    val p = plan("q_dq_checks")
    assert(nodeCount(p, "CartesianProduct") === 0, p)
    // the lineitem FK branch must scan ONLY the join key, not payload
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint>"), p)
  }

  test("vocab coverage: top-k via TakeOrderedAndProject, window over <=500") {
    val p = plan("q_vocab_coverage")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("null-safe join plans a real hash join (EqualNullSafe is equi)") {
    val p = plan("q_nullsafe_join")
    assert(nodeCount(p, "CartesianProduct") === 0, p)
    assert(nodeCount(p, "BroadcastNestedLoopJoin") === 0, p)
  }

  test("bag set-ops and triangles stay equi-join shaped, never cartesian") {
    val ps = plan("q_set_ops_all")
    assert(nodeCount(ps, "CartesianProduct") === 0, ps)
    assert(nodeCount(ps, "BroadcastNestedLoopJoin") === 0, ps)
    // triangles: the wedge enumeration and closing check must be real
    // hash joins; the only nested-loop joins are the two 1-row summary
    // crossJoin(broadcast(...)) assemblies at the very top. Since the r19
    // localCheckpoints the edge/degree/orientation subtrees execute at
    // checkpoint-build time and appear here as ExistingRDD scans, so the
    // FINAL plan shows the two wedge-phase joins (self-join + close).
    val pt = plan("q_triangles")
    assert(nodeCount(pt, "CartesianProduct") === 0, pt)
    assert(nodeCount(pt, "BroadcastNestedLoopJoin") <= 2, pt)
    assert(nodeCount(pt, ".*HashJoin") + nodeCount(pt, "SortMergeJoin") >= 2,
      pt)
    // ...and the HIDDEN orientation subtrees stay equi-join shaped too:
    // probe the full logical plan under Materialize.planOnly
    val pf = Materialize.planOnly(graft.operators.Graph.triangles(spark, sf))
      .queryExecution.explainString(FormattedMode)
    assert(nodeCount(pf, "CartesianProduct") === 0, pf.take(1500))
    assert(nodeCount(pf, "BroadcastNestedLoopJoin") <= 2, pf.take(1500))
    assert(nodeCount(pf, ".*HashJoin") + nodeCount(pf, "SortMergeJoin") >= 3,
      pf.take(1500))
  }

  test("set ops lower to real semi/anti joins, never cartesian") {
    val p = plan("q_set_ops")
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("LeftAnti"), p)
    assert(nodeCount(p, "CartesianProduct") === 0, p)
  }

  test("merge upsert is ONE full-outer join on the id") {
    val p = plan("q_merge_upsert")
    assert(p.contains("FullOuter"), p)
    assert(nodeCount(p, ".*Join") === 1, p)
  }

  test("projection queries prune the parquet scan to referenced columns") {
    val p = plan("q_select_rename")
    val read = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(read.contains("c_custkey") && read.contains("c_name") &&
      read.contains("c_mktsegment"), read)
    assert(!read.contains("c_acctbal") && !read.contains("c_address"), read)
  }

  test("image decode prunes the documents scan to doc_id only") {
    // payload generation/decoding is mapPartitions over doc_id alone — the
    // text/lang/source columns must never be read from parquet
    val p = plan("q_image_decode")
    val read = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(read.contains("doc_id"), read)
    assert(!read.contains("text") && !read.contains("lang"), read)
  }

  test("audio decode prunes the documents scan to doc_id only") {
    val p = plan("q_audio_decode")
    val read = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(read.contains("doc_id"), read)
    assert(!read.contains("text") && !read.contains("lang"), read)
  }

  test("video frame decode prunes the documents scan to doc_id only") {
    val p = plan("q_video_frames")
    val read = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(read.contains("doc_id"), read)
    assert(!read.contains("text") && !read.contains("lang"), read)
  }

  test("geo joins: grid side broadcasts; county path joins nothing at all") {
    // the 4,320-cell grid must stay a BroadcastHashJoin (fact side never
    // shuffles for the dimension), and the county assignment must run as a
    // broadcast-variable UDF — no Join operator anywhere in its plan
    assert(plan("q_geo_join").contains("BroadcastHashJoin"),
      plan("q_geo_join"))
    val county = plan("q_geo_county")
    assert(!county.contains("Join"), county)
  }

  test("left-join build-side filter is pushed down to the parquet scan") {
    val p = plan("q_left_join")
    assert(p.contains("GreaterThan(c_acctbal,5000.0)"), p)
  }

  test("date filter reaches the orders scan as a pushed predicate") {
    val p = plan("q_date_filter")
    assert(p.contains("PushedFilters") &&
      p.contains("GreaterThanOrEqual(o_orderdate"), p)
  }

  test("agg queries partial-aggregate before the shuffle") {
    // map-side combine: a partial_ HashAggregate must sit below the Exchange
    // (AQE formatted mode shows no codegen spans pre-execution, so only the
    // aggregate shape is asserted here)
    val p = plan("q_agg_sum")
    assert(p.contains("partial_sum"), p)
  }

  test("ANN paths generate candidates via joins, never CartesianProduct") {
    // q_ann_ivf joins the probe fan-out to the assigned corpus on list_id
    // (a broadcast hash join — the query side is the fixed QueryK draw);
    // only the deliberately-exhaustive q_ann_topk baseline is allowed its
    // BroadcastNestedLoopJoin
    for (q <- Seq("q_ann_lsh", "q_ann_ivf", "q_embed_neardup",
                  "q_minhash_neardup", "q_simhash_neardup")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
    }
  }

  test("LSH candidate generation is bucket-local: no window, no self-join") {
    // the banded candidate generators expand pairs inside each bucket's
    // collected member array: one groupBy shuffle, no WindowExec and no
    // second join re-evaluating the signature pipeline (round-4 rewrite)
    for (q <- Seq("q_minhash_neardup", "q_simhash_neardup")) {
      val p = plan(q)
      assert(!p.contains("Window"), s"$q:\n$p")
    }
    val simhashJoins = plan("q_simhash_neardup").linesIterator
      .count(l => l.contains("Join") || l.contains("CartesianProduct"))
    assert(simhashJoins === 0, "simhash candidate generation must be join-free")
  }

  test("native hash kernels stay inside whole-stage codegen") {
    // simhash64 implements doGenCode — the signature projection must sit
    // inside a WholeStageCodegen span (asterisk-prefixed in the plan
    // string), not fall back to an interpreted Project
    val cg = graft.operators.Dedup.simhash(
      Tables.documents(spark, sf).select("doc_id", "text"))
      .queryExecution.executedPlan.toString
    val projLine = cg.linesIterator.find(_.contains("simhash64"))
    assert(projLine.exists(_.contains("*(")), cg)
    // rolling_fp likewise: the fingerprint projection must be codegen'd,
    // and no interpreted ArrayAggregate fold may survive in the plan
    val fp = SparkEntry.queries("q_fingerprint")(spark, sf)
      .queryExecution.executedPlan.toString
    val fpLine = fp.linesIterator.find(_.contains("rolling_fp"))
    assert(fpLine.exists(_.contains("*(")), fp)
    assert(!fp.contains("aggregate("), fp)
  }

  test("PII redaction is a pure narrow projection: no shuffle, no join") {
    // the scaladoc's "streams over a 100 TB corpus at scan speed" claim,
    // held structurally: regex counts + redacted fingerprint must not
    // introduce an Exchange or a Join anywhere in the plan
    val p = plan("q_redact")
    assert(!p.contains("Exchange") && !p.contains("Join"), p)
  }

  test("incremental dedup joins stay hash/merge — never cartesian") {
    val p = plan("q_incr_dedup")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("decontam broadcasts the benchmark gram set; never cartesian") {
    // the corpus side must only ever meet the (eval-suite-sized) gram set
    // through a broadcast hash join — a shuffle or cartesian here would
    // move the 100 TB side for a megabyte dimension
    val p = plan("q_decontam")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
  }

  test("curate chain is one lineage: kernel stages fused, no barriers") {
    // the five stages must compose lazily — Catalyst sees the whole chain
    // (no LogicalRDD/checkpoint between stages), the gram probe broadcasts,
    // and nothing degenerates to a cartesian
    val df = SparkEntry.queries("q_curate_chain")(spark, sf)
    val opt = df.queryExecution.optimizedPlan.toString
    assert(!opt.contains("LogicalRDD"), "barrier found in curate chain")
    val p = df.queryExecution.explainString(FormattedMode)
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("CartesianProduct"), p.take(800))
    // both per-row kernels run inside the fused projections
    assert(p.contains("token_profile") && p.contains("repeat_stats"), "kernels")
  }

  test("repetition metrics are a pure narrow projection: no shuffle") {
    // one repeat_stats kernel pass per row — the explode + double-groupBy
    // formulation (which the oracle states) would shuffle the full token
    // stream twice; the registered plan must contain no Exchange at all
    val p = plan("q_repetition")
    assert(!p.contains("Exchange") && !p.contains("Join"), p)
    val line = p.linesIterator.find(_.contains("repeat_stats"))
    assert(line.nonEmpty, p)
  }

  test("tfidf top-k is a per-doc aggregate, not a row_number window") {
    // the r5 whale fix: ranking every (doc,term) row with a window sorts
    // the whole exploded term set within each shuffle partition; the
    // collect/sort_array/slice aggregate shuffles the same rows but sorts
    // only each doc's own term list — no WindowExec anywhere in the plan
    val p = plan("q_tfidf")
    assert(!p.contains("Window"), p)
  }

  test("lang-id evaluates token_profile ONCE; no interpreted HOF survives") {
    // the r5 whale fix: one native scan of the normalized text instead of
    // three interpreted aggregate() HOF passes. The kernel feeds 6
    // element_at references (3 scores × numerator/denominator) — if
    // CollapseProject ever inlined it into each (the simhashHof 64×
    // re-evaluation trap), the count below would jump from 1 to 6.
    val cg = SparkEntry.queries("q_lang_id")(spark, sf)
      .queryExecution.executedPlan.toString
    val kernelEvals = "token_profile".r.findAllIn(cg).length
    assert(kernelEvals === 1, s"token_profile evaluated $kernelEvals times:\n$cg")
    assert(!cg.contains("lambdafunction"), cg)
    // and the kernel itself codegens (plain projection → non-adaptive
    // plan, so the WholeStageCodegen span is visible — same probe shape
    // as the simhash64 test above)
    val pure = Tables.documents(spark, sf).selectExpr(
      "token_profile(regexp_replace(lower(text), '\\\\s+', ' '), " +
        "array(array('the','a'))) AS tp")
      .queryExecution.executedPlan.toString
    val projLine = pure.linesIterator.find(_.contains("token_profile"))
    assert(projLine.exists(_.contains("*(")), pure)
  }

  test("fact-side joins carry no user broadcast hint (AQE decides)") {
    // logical plans of the fact⨝customer/supplier joins must not pin a
    // broadcast: at test SF Catalyst still broadcasts (small stats), but the
    // HINT would survive to 100 TB and OOM (round-1 verdict finding).
    // q_group_mean_having keeps its broadcast(nation) — a 25-row bounded
    // dim — so only the hint-free left joins are asserted hint-free.
    for (q <- Seq("q_left_join", "q_left_join_distinct")) {
      val lp = SparkEntry.queries(q)(spark, sf)
        .queryExecution.analyzed.toString
      assert(!lp.contains("ResolvedHint"), s"$q:\n$lp")
    }
    // and the nation hint must be the ONLY one in the 3-table join
    val gmh = SparkEntry.queries("q_group_mean_having")(spark, sf)
      .queryExecution.analyzed.toString
    assert(gmh.split("ResolvedHint").length - 1 === 1, gmh)
  }

  test("partitioned checkpoint prunes partitions at planning time") {
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_part_ckpt"
    graft.sources.CsvIO.checkpointPartitioned(
      Tables.events(spark, sf), path, Seq("event_type"))
    val back = spark.read.parquet(path)
      .filter(org.apache.spark.sql.functions.col("event_type") === "click")
    val p = back.queryExecution.explainString(FormattedMode)
    assert(p.contains("PartitionFilters") &&
      p.contains("isnotnull(event_type"), p)
    assert(back.count() ===
      Tables.events(spark, sf)
        .filter(org.apache.spark.sql.functions.col("event_type") === "click")
        .count())
  }

  test("bucketed-checkpoint join shuffles NEITHER side on the join key") {
    // both tables are bucketed on their join key with the same bucket
    // count, so the sort-merge join must read co-located bucket files with
    // no Exchange keyed on o_custkey/c_custkey — the only exchanges in the
    // plan belong to the downstream profile (hash agg + presentation sort).
    // This is the property that amortizes one shuffle-by-write across every
    // downstream join at 100 TB; a silent fallback to a full shuffle would
    // be invisible to the value oracle.
    val df = graft.sources.CsvIO.bucketedJoin(spark, sf)
    val p = df.queryExecution.explainString(FormattedMode)
    assert(p.contains("SortMergeJoin"), p)
    assert(!p.contains("hashpartitioning(o_custkey") &&
      !p.contains("hashpartitioning(c_custkey"), p)
    assert(p.contains("Bucketed: true"), p)
  }

  test("semi/anti compile to real existence joins, not inner+distinct") {
    // the key-only-shuffle economics exist only if the planner keeps the
    // LeftSemi/LeftAnti operator: a rewrite through inner join + distinct
    // would materialize every matching pair first
    val semi = SparkEntry.queries("q_semi_join")(spark, sf)
      .queryExecution.explainString(FormattedMode)
    val anti = SparkEntry.queries("q_anti_join")(spark, sf)
      .queryExecution.explainString(FormattedMode)
    assert(semi.contains("LeftSemi"), semi)
    assert(anti.contains("LeftAnti"), anti)
  }

  test("rollup is one Expand+aggregate pass, not a union of scans") {
    val p = SparkEntry.queries("q_rollup")(spark, sf)
      .queryExecution.explainString(FormattedMode)
    assert(p.contains("Expand"), p)
    // one orders scan feeds all three grouping levels
    assert(p.linesIterator.count(l =>
      l.contains("Scan parquet") && l.contains("orders")) <= 1, p)
  }

  test("cumulative sum windows over the aggregate, not the fact table") {
    // Window must sit ABOVE the HashAggregate: a window over raw orders
    // would range-sort the whole fact table for a presentation concern
    val plan = SparkEntry.queries("q_cumsum")(spark, sf).queryExecution
      .optimizedPlan.toString
    val winIdx = plan.indexOf("Window")
    val aggIdx = plan.indexOf("Aggregate")
    assert(winIdx >= 0 && aggIdx >= 0 && winIdx < aggIdx,
      s"expected Window above Aggregate:\n$plan")
  }

  private def scanCount(df: DataFrame): Int =
    df.queryExecution.explainString(FormattedMode)
      .linesIterator.count(_.contains("Scan parquet"))

  test("ols fit pipeline reads lineitem once per pass (cached projection)") {
    // the fitted universes derive from one cached projection; their plans
    // should hit InMemoryTableScan, not re-scan parquet per aggregation
    val f = graft.ml.OlsPipeline.fitCached(spark, sf)
    val p = f.train.queryExecution.explainString(FormattedMode)
    assert(p.contains("InMemoryTableScan") || scanCount(f.train) <= 1, p)
  }

  test("r9 batch: no cartesian products anywhere; retrieval eval is joinless") {
    // prefix sim join, stratified sample and skyline all generate
    // candidates via equi joins / broadcast bounded dims — a cartesian
    // here is the 100 TB killer the prefix/threshold/bucket machinery
    // exists to avoid (the 1-row broadcast range/stat dims plan as
    // BroadcastNestedLoopJoin, which is fine: one row crossed in memory)
    Seq("q_sim_join", "q_stratified", "q_skyline", "q_value_drift",
      "q_anomaly").foreach { q =>
      val p = plan(q)
      assert(nodeCount(p, "CartesianProduct") === 0, s"$q:\n${p.take(1500)}")
    }
    // retrieval eval is one scan + literal-array explode + window + agg:
    // any join would mean the term dimension stopped being a literal
    val p = plan("q_retrieval_eval")
    assert(nodeCount(p, ".*Join") === 0, p.take(1500))
  }

  test("col profile: two shared scans, codegen distincts, no Expand sort") {
    // r19 optimization: the 6 exact count-distincts share ONE orders scan
    // via Expand, the min/max/null counters share ONE more — never a scan
    // per column (6+ passes over a 100 TB table). Splitting the two
    // families is the point: a string min/max in the same aggregation
    // buffer as the distincts barred HashAggregate and forced a
    // SortAggregate cascade that sorted the ×7-Expanded input twice
    // (measured 3.1 s of 3.8 at sf0.1; plans/r19/q_col_profile_*). The
    // distinct pass must stay a codegen HashAggregate with NO Sort below
    // the Expand.
    val p = plan("q_col_profile")
    assert(nodeCount(p, "Scan parquet") === 2, p.take(1500))
    assert(nodeCount(p, "Expand") >= 1, p.take(1500))
    assert(nodeCount(p, "HashAggregate") >= 2, p.take(1500))
    // the only Sort is the output ORDER BY col_name (after the stack),
    // never a sort of the Expanded scan feeding the distinct aggregate
    assert(nodeCount(p, "Sort\\b") <= 1, p.take(1500))
  }

  test("bpe trainer round: pair stats are one partial-agg exchange, " +
      "no window, no cartesian") {
    // the merge loop's per-round cost unit (Bpe.pairStats): a narrow
    // pair explode + ONE hash-aggregate exchange whose map-side partials
    // collapse each partition to its distinct pairs — the constant-
    // shuffle-across-SFs claim graft.BpePrice measured (SCALE.md r16)
    // depends on this shape holding
    val p = graft.operators.Bpe.pairStats(
        graft.operators.Bpe.wordTable(spark, sf))
      .queryExecution.explainString(FormattedMode)
    assert(nodeCount(p, "Exchange") === 2, p.take(1500)) // word agg + pair agg
    assert(nodeCount(p, "HashAggregate") === 4, p.take(1500)) // 2x partial+final
    assert(nodeCount(p, "Window\\b") === 0, p.take(1500))
    assert(nodeCount(p, "CartesianProduct") === 0, p.take(1500))
    assert(nodeCount(p, "Scan parquet") === 1, p.take(1500)) // corpus once
  }

  test("learned-vocab coverage: top-k off TakeOrderedAndProject, window " +
      "bounded, no cartesian beyond the broadcast 1-row total") {
    // the learned-symbol re-base of q_vocab_coverage must keep the word-
    // grain original's discipline: the global sort is a per-partition-
    // heads top-k, the cumulative window runs over <= ranks.max rows,
    // and the only nested-loop join is the broadcast of the 1-row total
    val merges = graft.operators.Bpe.train(spark, sf, 4)
    val p = graft.operators.Bpe.learnedVocabCoverage(
        graft.operators.Bpe.wordTable(spark, sf), merges)
      .queryExecution.explainString(FormattedMode)
    assert(p.contains("TakeOrderedAndProject"), p.take(1500))
    assert(nodeCount(p, "CartesianProduct") === 0, p.take(1500))
    assert(nodeCount(p, "Window\\b") === 1, p.take(1500))
  }

  test("stratified sample: dims broadcast; rank limit pushed to heads") {
    val p = plan("q_stratified")
    // the per-stratum count/certification dims join by broadcast —
    // shuffling the corpus against a 5-row dim would be backwards
    assert(nodeCount(p, "BroadcastHashJoin") >= 2, p.take(1500))
    // exactly one rank window (WindowGroupLimit nodes are its pushed
    // per-partition heads — Spark's own two-stage top-k, worth pinning:
    // the full window never materializes more than k rows per stratum
    // beyond the heads pass)
    val limits = nodeCount(p, "WindowGroupLimit")
    assert(nodeCount(p, "Window.*") - limits === 1, p.take(1500))
    assert(limits >= 1, p.take(1500))
  }
}
