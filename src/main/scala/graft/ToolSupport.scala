package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Shared plumbing for the mains (Bench, Verify, DevTools), single-sourced
  * so the tools can't drift: the Bench session layout, the cleanup between
  * runs, the SPARK_GRAFT_ONLY dev filter and JSON string escaping.
  */
object ToolSupport {
  type Query = (SparkSession, String) => DataFrame

  /** The Bench layout: local[SPARK_GRAFT_CPUS] (default 32) with as many
    * shuffle partitions, and 8 state-store instances per stateful
    * streaming stage instead of 32 — per-micro-batch commit constants
    * dominate at bench state sizes (see Streaming.withStreamShuffle).
    * Correctness is layout-independent: Verify gates the default layout
    * and a StreamingSpec test pins 8-vs-32 result equality. */
  def benchSession(): SparkSession = {
    val spark = Tables.localSession("graft-bench",
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.conf.set("graft.stream.shufflePartitions", "8")
    spark
  }

  /** Cleanup between measured runs, so one query's leftovers aren't billed
    * to the next: drop cached tables, unpersist RDD-level persistence
    * synchronously — clearCache() misses the localCheckpoint blocks
    * (pointer-jumping components, PageRank's edge table, the ANN quantizer
    * sample), which otherwise sit in storage memory until the async
    * ContextCleaner reaps them after some later GC — and GC so the
    * cleaner reaps GC-scoped checkpoint and shuffle state now. */
  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    System.gc()
  }

  /** SPARK_GRAFT_ONLY=q_a,q_b selects a subset of the query map; unknown
    * names abort, so a typo'd partial run can never masquerade as a full
    * one. Returns the selected queries plus the parsed filter (Bench
    * echoes it in its JSON). Unset ⇒ the full map (the driver contract). */
  def onlyFilter(all: Map[String, Query]): (Map[String, Query], Option[Set[String]]) = {
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { names =>
      val unknown = names.diff(all.keySet)
      require(unknown.isEmpty,
        s"SPARK_GRAFT_ONLY names unknown queries: ${unknown.mkString(",")}")
    }
    (only match {
      case Some(names) => all.filter(q => names(q._1))
      case None        => all
    }, only)
  }

  /** Execution-order sidecar body (SPARK_GRAFT_ORDER_OUT, r16 window-
    * calibration contract): {"<benchKey>": <runIndex>} in the exact order
    * Bench will time the queries. Lives here so the spec can pin the
    * format without driving a sweep; bench keys are benchKey-collision-
    * checked already, so the map can't silently alias two queries. */
  def orderJson(namesInRunOrder: Seq[String]): String =
    namesInRunOrder.zipWithIndex.map { case (n, i) =>
      // jstr, not raw interpolation: benchKey output is plain today, but
      // an exotic future key must corrupt nothing (jstr's own contract)
      s"${jstr(benchKey(n))}:$i"
    }.mkString("{", ",", "}")

  /** JSON string escape: backslash, quote, and ALL control chars (<0x20) —
    * a tab or CR in builder-authored SQL or an exception message would
    * otherwise break the driver's json.load and silently zero a round. */
  def jstr(s: String): String = "\"" + s.flatMap {
    case '"'          => "\\\""
    case '\\'         => "\\\\"
    case '\n'         => "\\n"
    case '\r'         => "\\r"
    case '\t'         => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c            => c.toString
  } + "\""

  /** Stable short keys for the bench contract line's "queries" map, one
    * per catalog name. Purely a WIRE format for the 2000-char capture
    * window — Verify, CORRECTNESS and the query registry keep full names.
    * An explicit table: a new query gets its own entry, chosen unique
    * and short, and ToolSupportSpec checks the table covers the catalog
    * exactly with no two names sharing a key. The keys are the ones the
    * bench line has carried since r15, so rounds stay comparable. */
  val benchKeys: Map[String, String] = Map(
    "q_ab_test" -> "ab", "q_agg_sum" -> "as", "q_ann_ivf" -> "ai",
    "q_ann_lsh" -> "al", "q_ann_recall" -> "a1", "q_ann_topk" -> "at",
    "q_anomaly" -> "an", "q_anti_join" -> "aj", "q_approx_distinct" -> "ap",
    "q_approx_pct" -> "ac", "q_asof_join" -> "af", "q_asof_skew" -> "ak",
    "q_attribution" -> "a0", "q_audio_decode" -> "au", "q_benford" -> "bf",
    "q_bigram_lm" -> "bm", "q_blank_to_null" -> "b2", "q_bloom_dedup" -> "bl",
    "q_bm25" -> "m2", "q_bpe_pairs" -> "bp", "q_bucketed_join" -> "bk",
    "q_calibration" -> "cl", "q_cascade_delete" -> "ca", "q_cbind" -> "cb",
    "q_changepoint" -> "cg", "q_checkpoint_prune" -> "ck", "q_chisq" -> "ci",
    "q_chunk_windows" -> "cw", "q_cohort" -> "ch", "q_col_profile" -> "cp",
    "q_concurrency" -> "cn", "q_cond_update" -> "cd",
    "q_conversion_window" -> "vw", "q_copurchase" -> "op",
    "q_corr_matrix" -> "co", "q_csv_roundtrip" -> "sv", "q_cube" -> "cu",
    "q_cumsum" -> "cs", "q_curate_chain" -> "cc", "q_cv_tuning" -> "cv",
    "q_date_filter" -> "dt", "q_date_parse" -> "dp", "q_decontam" -> "do",
    "q_dedup_survivors" -> "dd", "q_distinct" -> "di", "q_domain_cap" -> "dc",
    "q_dq_checks" -> "dq", "q_e2e" -> "e2", "q_edit_join" -> "ed",
    "q_embed_drift" -> "e1", "q_embed_neardup" -> "em",
    "q_embed_survivors" -> "es", "q_enrich_pipeline" -> "en",
    "q_equidepth" -> "eh", "q_exact_dedup" -> "ex",
    "q_feature_matrix" -> "fm", "q_fingerprint" -> "fp",
    "q_freq_table" -> "fr", "q_full_outer" -> "fo", "q_funnel" -> "fu",
    "q_gbt_metrics" -> "gb", "q_geo_county" -> "gc", "q_geo_join" -> "gj",
    "q_geo_nearest" -> "gn", "q_gini" -> "gy", "q_group_mean_having" -> "gm",
    "q_group_ols" -> "go", "q_grouping_sets" -> "gs",
    "q_heavy_hitters" -> "hh", "q_histogram" -> "hi",
    "q_image_decode" -> "im", "q_incr_agg" -> "ia", "q_incr_dedup" -> "id",
    "q_inverted_index" -> "ii", "q_json_extract" -> "je",
    "q_jsonl_roundtrip" -> "jl", "q_lag_gaps" -> "la", "q_lang_drift" -> "ld",
    "q_lang_id" -> "li", "q_latest_order" -> "lo", "q_left_join" -> "lj",
    "q_left_join_distinct" -> "ln", "q_limit_slice" -> "ls", "q_mad" -> "md",
    "q_markov" -> "mk", "q_melt" -> "ml", "q_merge_upsert" -> "mg",
    "q_metrics" -> "me", "q_mh_accuracy" -> "m1", "q_mh_tabulation" -> "m3",
    "q_minhash_neardup" -> "mh", "q_minmax" -> "mn",
    "q_model_roundtrip" -> "mr", "q_moving_avg" -> "ma",
    "q_multimodal_meta" -> "mm", "q_na_drop" -> "nd", "q_na_profile" -> "na",
    "q_ngram_jaccard" -> "ng", "q_notnull_filter" -> "nn", "q_ntile" -> "nt",
    "q_null_split" -> "ns", "q_nullsafe_join" -> "nj",
    "q_ols_diagnostics" -> "o0", "q_ols_forecast" -> "ol",
    "q_ols_metrics" -> "os", "q_orc_roundtrip" -> "or",
    "q_outlier_keepnull" -> "ok", "q_pagerank" -> "pr",
    "q_percentile" -> "pc", "q_percentile_disc" -> "pt",
    "q_pivot_ratio" -> "pv", "q_quality" -> "qu", "q_quantile_norm" -> "qn",
    "q_range_join" -> "rn", "q_rank_funcs" -> "rk", "q_rare_other" -> "ra",
    "q_redact" -> "re", "q_region_rollup" -> "rr", "q_repetition" -> "rp",
    "q_resample_ffill" -> "rs", "q_retrieval_eval" -> "rv",
    "q_rf_importance" -> "rf", "q_rollup" -> "ru", "q_row_index" -> "ri",
    "q_sample_mix" -> "sm", "q_scd2" -> "sd", "q_schema_cast" -> "sc",
    "q_select_rename" -> "se", "q_semi_join" -> "sj", "q_seq_pack" -> "sp",
    "q_session_paths" -> "s3", "q_set_ops" -> "ps", "q_set_ops_all" -> "so",
    "q_shard_manifest" -> "hm", "q_sim_join" -> "pj",
    "q_simhash_neardup" -> "sh", "q_skew_join" -> "sk", "q_skyline" -> "ky",
    "q_snapshot_diff" -> "sn", "q_source_sim" -> "ss", "q_span_mask" -> "s4",
    "q_stickiness" -> "sy", "q_stratified" -> "fd", "q_streaks" -> "s2",
    "q_stream_cpt" -> "c1", "q_stream_curate" -> "tc",
    "q_stream_dedup" -> "s_", "q_stream_drift" -> "td",
    "q_stream_enrich" -> "te", "q_stream_funnel" -> "sf",
    "q_stream_range" -> "sr", "q_stream_sessions" -> "s0",
    "q_stream_sessions_multi" -> "ts", "q_stream_sink" -> "s1",
    "q_stream_sliding" -> "sl", "q_stream_topk" -> "t5",
    "q_stream_totals" -> "tt", "q_stream_tumbling" -> "st",
    "q_string_extract" -> "sx", "q_substring_dedup" -> "sb",
    "q_suffix_dedup" -> "x", "q_temp_mix" -> "tm", "q_tfidf" -> "tf",
    "q_time_weighted" -> "tw", "q_token_count" -> "tk", "q_topk" -> "to",
    "q_topk_group" -> "tg", "q_triangles" -> "tr", "q_union" -> "un",
    "q_value_drift" -> "vd", "q_video_frames" -> "vi",
    "q_vocab_coverage" -> "vo", "q_weighted_sample" -> "wm",
    "q_window_session" -> "we", "q_window_sliding" -> "ws",
    "q_window_tumbling" -> "wt", "q_winsorize" -> "wi", "q_zorder" -> "zo",
    "q_zscore" -> "zs"
  )

  /** The wire key of a catalog name; a dev-mode repeat suffix ("#2")
    * passes through. An unregistered name fails loudly rather than
    * emitting an unknown key. */
  def benchKey(name: String): String = {
    val (base, suffix) = name.span(_ != '#')
    benchKeys.getOrElse(base, throw new NoSuchElementException(
      s"graft: no bench key registered for $base (ToolSupport.benchKeys)")
    ) + suffix
  }

  /** Seconds → compact JSON number for the bench contract line: Locale.ROOT
    * (a comma decimal separator would corrupt the JSON), adaptive precision
    * (2dp under 1 s where granularity matters, 1dp above — per-query
    * medians don't carry more signal), trailing zeros stripped. Sign is
    * the CALLER's concern (Bench prepends "-" as its failure sentinel), so
    * the magnitude is returned. The precision ladder is part of the
    * 2000-char capture-window budget guarded in ToolSupportSpec. */
  def fmtSecs(v: Double): String = {
    val a = math.abs(v)
    val s = (if (a >= 1) "%.1f" else "%.2f")
      .formatLocal(java.util.Locale.ROOT, a)
    val t = s.reverse.dropWhile(_ == '0').reverse.stripSuffix(".")
    if (t.isEmpty) "0" else t
  }
}
