package graft

import org.apache.spark.sql.SparkSession

/** Per-round benchmark: headline queries on SPARK_GRAFT_SF_DIR (sf0.1
  * by default), one JSON line on stdout. The headline set covers each
  * operator family once (scan+filter, window, bucketed agg, chained
  * agg, set algebra, catalog, dedup exact/LSH, ANN, text stats) —
  * representative without re-running every registered variant, and it
  * excludes the O(n²) oracle-check-only variants (ann_cosine_pairs,
  * dedup_ngram_jaccard) whose exact forms exist for the sf0.01
  * differential test, not for scale, and the constant-size generated
  * fixtures (ts_forecast_hw_fixture, ts_changepoint_fixture) whose
  * input never scales with sf.
  */
object Bench {
  val headline: Seq[String] = Seq(
    "sel_regex_points", "tr_after_head", "agg_sum_1h", "agg_mean_6h",
    "agg_median_low_1h", "chain_sum1h_diff", "chain_mean6h_deriv",
    "pw_difference", "limit_fn_mean", "merge_sum_1d", "list_series",
    "dedup_exact", "dedup_minhash_lsh", "dedup_minhash_capped",
    "dedup_simhash_pairs", "dedup_substring_spans",
    "dedup_semantic_clusters", "dedup_source_overlap", "ann_cosine_topk",
    "ann_lsh_topk", "ann_ivf_kmeans_topk", "ann_pq_topk", "ann_ivfpq_topk",
    "ann_binary_topk", "embed_outliers",
    "text_token_stats",
    "text_lang_id", "text_tfidf_keywords", "text_lm_perplexity",
    "text_chunks", "text_vocab_oov", "text_gopher_gates", "sample_split",
    "pipeline_curate",
    "mm_decode", "mm_frame_sample", "mm_audio_decode",
    // full query-string path (parse → plan → catalog consult →
    // execute): what a reference user actually pays per query — the
    // engine-layer entries above enter below the parser
    "ql_select_sum_between", "ql_select_presuf", "ql_list_series_where",
    // the standing-rollup read path: coarse select answered from
    // pre-aggregated buckets, zero raw-point files
    "ql_rollup_max_6h",
    // batch-ingest throughput: a fresh store built from the integer
    // family per rep (shard partitioning + type establishment +
    // catalog + rollup), answered FROM the ingested store — the
    // reference is a TSDB, so ingest rate is a tracked number
    "ingest_events", "ts_asof_join", "ts_range_join", "ts_sketch_stats",
    "ts_sessionize", "ts_downsample_ltob", "ts_counter_rate",
    "ts_interpolate", "ts_moving_agg", "ts_seasonal_anomaly",
    "ts_threshold_cross", "ts_correlate", "ts_correlate_grouped",
    "ev_funnel", "ev_funnel_retry", "ev_retention",
    "ts_bucket_percentiles", "ts_value_histogram", "ts_moving_time",
    "ts_twa", "ts_downsample_m4", "ts_gaps", "ts_ewma",
    "text_dsir_weights",
    // round-12 additions: product-analytics completion modes, ranking
    // / stability / heatmap staples, as-of variants
    "ev_funnel_unordered", "ev_retention_rolling", "ev_sequence_count",
    "ts_cumsum", "ts_topk_series", "ts_bucket_mode",
    "ts_counter_changes", "ts_heatmap", "ts_asof_forward",
    "ts_asof_tolerance", "ann_recall_eval", "ts_decompose",
    "mm_image_dhash", "ann_mmr_topk", "ts_distinct_count", "ts_forecast_holt", "ev_transitions", "ev_top_paths", "ev_funnel_ttc", "ts_robust_z", "text_novelty",
    // round-12 second batch: cross-series arithmetic + user health
    "ts_series_share", "ts_xcorr_lag", "ts_changepoint", "ts_acf",
    "ts_outlier_iqr", "us_stickiness", "us_power_curve", "us_lifecycle",
    "ts_sax", "embed_pca", "ev_cohort_ltv", "ev_rfm",
    "ts_anomaly_intervals", "ts_forecast_hw", "text_ppl_buckets",
    "ts_trend_slope", "ts_rollup_pyramid", "ts_heavy_hitters",
    "text_langid_eval", "us_sessions", "ts_psi_drift",
    // round-13 additions: SLO burn-rate alerting, seasonality
    // strength, capacity ETA, A/B readout, Zipf audit
    "ts_slo_burn", "ts_seasonal_strength", "ts_threshold_eta",
    "ev_ab_test", "text_zipf_fit", "mm_audio_silence", "mm_image_entropy",
    "embed_drift", "dedup_recall_eval", "ev_funnel_sig",
    "ts_forecast_backtest", "ts_cusum",
    // round-14 additions: the per-source curation rollup and the
    // PII scrub over the real corpus (the fixture twins stay out —
    // constant-size inputs)
    "text_source_quality", "text_pii_scrub", "sample_mixture_report",
    // round-14 second batch: line-boilerplate scrub, quality-aware
    // cluster keepers, token-budget mixture plan, forecast-residual
    // alerts (the boilerplate fixture twins stay out — constant-size)
    "text_boilerplate_scrub", "dedup_cluster_best", "text_mixture_plan",
    "ts_forecast_residual", "ann_knn_join", "dedup_semantic_recall",
    // round-14 third batch: packing trust gate, IVF tuning curve,
    // A/B power readout, quantization distortion audit, downsample
    // fidelity gate
    "text_pack_efficiency", "ann_nprobe_curve", "ev_ab_power",
    "ann_quant_distortion", "ts_downsample_fidelity",
    // round-15 additions: the IVF nlist (index-knob) tuning curve,
    // the per-source PII incidence rollup, and the incremental
    // boilerplate delta — fixture twins and the env canary stay out
    // (constant-size inputs)
    "ann_nlist_curve", "text_pii_by_source", "text_boilerplate_incremental",
    // round-16 additions: the binary rerank (search-knob), LSH bits
    // (bucket-size-knob) and sampling temperature (alpha-knob) tuning
    // curves and the per-source PII precision rollup — the type
    // canary and the precision fixture stay out (constant-size)
    "ann_rerank_curve", "ann_lsh_curve", "sample_temperature_curve",
    "text_pii_precision",
    // round-17 additions: the PQ rate-distortion (compression-knob),
    // MinHash banding (recall-knob) and bucket-cap (skew-guard)
    // tuning curves, the standing boilerplate-index merge, and the
    // scrub minDf curve — the mid-J banding / occupancy fixtures and
    // the other constant-size twins stay out
    "ann_pq_curve", "dedup_band_curve", "dedup_bucket_curve",
    "text_boilerplate_index_merge", "text_boilerplate_curve",
    // the SemDeDup θ curve (one celled pass + θ-independent
    // cell-share grading; its planted-sim fixture stays out) and the
    // sessionize gap curve (one lag pass, per-setting conditional
    // aggregates riding the series exchange)
    "dedup_semdedup_curve", "ts_sessionize_curve",
    // index-only incremental dedup (history via the standing portable
    // signature index, estimated-Jaccard verify)
    "dedup_incremental_index",
    // the same ranged select as ql_select_sum_between through a REAL
    // 2-pool cluster (physical pool stores, merged-union plan) — the
    // fan-out overhead is a per-round number, not a claim
    "cluster_select_sum_between")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.Tables.sessionBuilder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warm the JVM + parquet footers once so the first timed query
    // measures the query, not session startup
    Seq("events", "documents", "embeddings")
      .foreach(t => graft.core.Tables.load(spark, sfDir, t).count())
    // build the 2-pool cluster fixture's physical stores now: the
    // ingest is the cluster analog of the standing testdata stores the
    // standalone entries read (setup, not query cost) — the timed
    // entry measures the merged-union plan only
    graft.queries.ClusterFixture.mergedEnv(spark, sfDir)
    val qs = SparkEntry.queries
    // optional comma-separated subset (targeted scale spot-checks on
    // big generated inputs, where running the full headline set would
    // mostly measure fixture ingest)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    // repetitions per query: the box's run-to-run noise (~±0.5 s) is
    // on the order of several queries' full runtime, so a single
    // sample can't distinguish a regression from scheduler jitter —
    // the headline value per query is the median of `reps` runs and
    // the min–max spread is reported alongside.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    var failed = List.empty[String]
    def once(name: String): Option[Double] = {
      val t0 = System.nanoTime()
      // the action hashes every column of every row so Spark cannot
      // skip materializing value columns the way a bare count() can;
      // bit_xor is associative/commutative and can never overflow
      // (sum(xxhash64) overflowed int64 under ANSI mode — BENCH_r03)
      try {
        val df = qs(name)(spark, sfDir)
        df.select(org.apache.spark.sql.functions
          .xxhash64(df.columns.map(org.apache.spark.sql.functions.col)
            .toIndexedSeq: _*).as("h"))
          .agg(org.apache.spark.sql.functions.bit_xor(
            org.apache.spark.sql.functions.col("h"))).collect()
        Some((System.nanoTime() - t0) / 1e9)
      } catch {
        case e: Throwable =>
          System.err.println(s"BENCH FAILURE in $name: $e")
          e.printStackTrace()
          failed ::= name
          None
      } finally graft.parser.Planner.drainQueryCaches()
    }
    // a typo'd headline name must be LOUD, not a silently shrunken
    // bench (the filter below would otherwise just drop it)
    headline.filterNot(qs.contains).foreach(n =>
      System.err.println(s"BENCH WARNING: headline entry '$n' is not a registered query"))
    // so must a SPARK_GRAFT_BENCH_ONLY name the filter below drops
    only.toSeq.flatten.sorted
      .filterNot(n => headline.contains(n) && qs.contains(n)).foreach { n =>
        val why = if (qs.contains(n)) "is not in graft.Bench.headline"
          else "is not a registered query"
        System.err.println(s"BENCH WARNING: SPARK_GRAFT_BENCH_ONLY entry '$n' $why; it will not run")
      }
    val results = headline.filter(qs.contains)
      .filter(n => only.forall(_.contains(n))).flatMap { name =>
      val times = Iterator.continually(once(name)).take(reps)
        .takeWhile(_.isDefined).flatten.toVector.sorted
      if (times.isEmpty) None
      else Some((name, times(times.size / 2), times.last - times.head))
    }
    // the round driver parses the LAST JSON line of stdout and keeps
    // only the final ~2000 chars of output, so the layout is
    // tail-critical: the full name→median map ("queries", ~6 KB at
    // 149 entries) goes on its own EARLIER line for untruncated
    // parsers, and the FINAL line is a self-contained ≤ ~1800-char
    // JSON object — the compact fixed-order median ARRAY ("q",
    // indexed by graft.Bench.headline) + total + metadata. Rounds
    // 14-17 put the map and the array on ONE line: the line grew past
    // the capture window, the driver's parser saw a string starting
    // mid-JSON, and PERF per_query ran blind (parsed: null) four
    // rounds straight — VERDICT r17 "What's wrong" #1 prescribes
    // exactly this split. No number changed: same medians, same
    // order, same action, one line break moved.
    def f3(x: Double) = "%.3f".formatLocal(java.util.Locale.ROOT, x)
    val qjson = results.map { case (k, med, _) => "\"" + k + "\":" + f3(med) }
      .mkString("{", ",", "}")
    val sjson = results.map { case (k, _, sp) => "\"" + k + "\":" + f3(sp) }
      .mkString("{", ",", "}")
    val total = f3(results.map(_._2).sum)
    val failedJson = failed.reverse.distinct.map("\"" + _ + "\"").mkString("[", ",", "]")
    val med = results.map(r => r._1 -> r._2).toMap
    val arr = headline.map(n => med.get(n).map(f3).getOrElse("null"))
      .mkString("[", ",", "]")
    println(s"""{"metric":"spread","unit":"sec","spread":$sjson,"note":"max-min over $reps reps per entry; per-query value = median; action = bit_xor(xxhash64(all columns)): full materialization, overflow-free"}""")
    println(s"""{"metric":"total_by_name","unit":"sec","queries":$qjson,"note":"full name->median map; final line carries the same medians as the fixed-order q array"}""")
    val line = s"""{"metric":"total","unit":"sec","q":$arr,"value":$total,"order":"graft.Bench.headline","reps":$reps,"sf":"$sfDir","failed":$failedJson}"""
    if (line.length > 1800) System.err.println(
      s"BENCH WARNING: contract line ${line.length} chars > 1800 — trim metadata or the q array precision before the driver's capture window truncates it")
    println(line)
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
