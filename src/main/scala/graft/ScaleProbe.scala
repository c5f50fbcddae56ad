package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-growth probe: does per-row cost stay flat when the corpus grows?
  *
  * The fixture SFs only grow `documents` 5k → 5k → 5k/50k-ish, so the bench
  * alone cannot show how the pair-generating text/dedup ops SCALE. This
  * main generates deterministic synthetic corpora at 1× and 10× the sf0.1
  * document count (same length/vocab profile, all-distinct texts, zero
  * RNG — every token is a hash of (doc_id, position), so any engine/run
  * regenerates the identical corpus), then times representative
  * document-only registry ops on each and prints the 10×/1× cost ratio
  * per op.
  *
  * What "pass" means: near-linear ratios (≈10× work for 10× rows ON THE
  * SAME local cores ⇒ wall ratio ≈ 10 or below with fixed parallelism) for
  * the candidate-bounded ops — the quadratic failure mode this guards
  * against shows up as ratios ≥ 30–50 (candidate pairs ∝ df², df ∝ N
  * without the shingle-df cap). Usage:
  *   sbt "runMain graft.ScaleProbe [mult ...]"   (default: 1 10)
  */
object ScaleProbe {

  /** Deterministic word-soup: doc i = 40 + (i mod 81) tokens, token j =
    * "w" + (xxhash64(i, j) mod 997) — same shape as the fixture corpus
    * (space-separated small-vocab soup, 47..558 chars), all docs distinct
    * (token 0 encodes the doc id). */
  private def synthDocs(s: SparkSession, n: Long): DataFrame =
    s.range(n).select(
      col("id").as("doc_id"),
      concat(
        concat(lit("d"), col("id")), lit(" "),
        array_join(
          transform(sequence(lit(1), lit(40) + (col("id") % 81).cast("int")),
            j => concat(lit("w"), pmod(xxhash64(col("id"), j), lit(997)))),
          " ")).as("text"),
      concat(lit("lang"), pmod(col("id"), lit(5))).as("lang"),
      concat(lit("src"), pmod(col("id"), lit(20))).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))

  /** Documents-only registry ops that exercise the shapes at risk:
    * candidate self-join, LSH banding, iterative CC, broadcast-LM scoring,
    * df-broadcast tf-idf. */
  private[graft] val Probed = Seq(
    "jaccard_pairs", "dedup_near_minhash", "dedup_components",
    "text_tfidf_top", "docs_lm_quality_filter", "text_repetition_signals",
    "text_entropy", "docs_quality_percentile_gate", "docs_temperature_resample",
    "docs_split_leakage",
    // round-11 additions: the two vocab-histogram text ops, and the two
    // candidate-artifact consumers added after the artifact landed
    // (docs_dedup_weight also pays the CC-label derivation when it runs
    // before dedup_components has; here dedup_components precedes it in
    // the pass, so the probe measures the marginal consumer cost —
    // the pipeline shape), plus the 9-moment corr agg
    "text_collocations", "text_vocab_coverage", "docs_dedup_weight",
    "docs_cross_lang_dups", "docs_signal_corr", "text_js_divergence",
    "docs_nll_histogram",
    // round 12: the containment twin of the jaccard kernel and the
    // vocab-sized keyness agg
    "text_containment", "text_keyness_llr",
    // round 12 batch 7: the scan-shaped regex readability kernel
    "text_readability",
    // round 13: the langid kernel + langs²-bounded confusion matrix,
    // and the overlap-bounded sliding chunker
    "docs_langid_confusion", "docs_chunk_sliding_windows",
    "docs_chunk_dup_rate",
    // round 13 batch 4: the two scan-shaped QA screens and the two
    // vocab-bounded corpus-curve ops (Heaps prefix buckets; source-pair
    // token overlap — pair stream ≤ vocab × C(|sources|,2))
    "text_char_class_profile", "docs_pii_rate_by_source",
    "docs_vocab_growth_heaps", "docs_source_overlap_jaccard",
    // the med2/MAD length gate: medians from the length-domain-bounded
    // value histogram, never a row sort
    "docs_length_outliers",
    // the parity-sketch banded near-dup pass (cell-capped pair stream)
    "multimodal_phash_dedup",
    // round 13 batch 7: the scan-shaped per-lang fertility table
    "docs_token_fertility",
    // round 13 batch 8: the source-sized mixture/epoch sheet
    "docs_mixture_epoch_plan",
    // round 13 batch 9: winnowing — per-doc window over positional
    // k-grams + fingerprint-vocabulary-sized sharing pass
    "text_winnowing_fingerprints",
    // round 13 batch 10: the stage-survivor funnel (one conditional-agg
    // scan + the kept frame's content-hash window)
    "docs_curation_funnel",
    // round 13 batch 12: the token-offset alignment table (per-doc
    // cumulative window, token-grain output is the semantics)
    "docs_tokenize_offsets",
    // round 13 batch 13: the scan-shaped license/copyright screen
    "docs_license_filter",
    // round 14 batch D: the prefix-key hash agg, the two-pass trigram
    // df/boilerplate-hit stream, and the per-byte entropy histogram
    "dedup_prefix", "docs_boilerplate_spans", "multimodal_bytes_entropy",
    // round 14 batch F: the lang-partitioned rank window + Gini agg
    "docs_token_gini",
    // round 14 batch H: the prefix-count window + 4-cell contingency
    "docs_dup_quality_contingency",
    // round 14 batch J: the explode → tf → vocab-rollup posting build
    "text_inverted_postings",
    // round 15 (retro probe sweep): the salted two-level per-lang top-k
    // and the two-level-scan greedy packer — both re-planned off the
    // 5-value-lang data-sized window this round
    "docs_topk_quality_per_lang", "docs_pack_greedy",
    // round 15 batch B: the landed-band-store incremental dedup (store
    // build + batch probe + re-land), the id-capped LSH eval, and the
    // 8-gram df + island-merge span coverage
    "dedup_incremental_bands", "dedup_lsh_eval", "dedup_span_repeats",
    // round 15 batch C: the band-store occupancy report (one signature
    // pass + bounded rollups)
    "dedup_band_occupancy",
    // round 15 batches C-E: the length-domain-bounded token profile, the
    // Carter-Wegman epoch head pick, and the CC-artifact source rollup
    "text_token_length_profile", "docs_epoch_shuffle_plan",
    "docs_dedup_rate_by_source",
    // round 15 batch F: the count-level coverage-target pick
    "text_ngram_coverage_target",
    // round 16: the iterative BPE merge loop (word-dict collapse + 6
    // vocab-sized rounds) and the incremental CC-label merge (landed base
    // labels + batch-scaled sub-CC)
    "text_bpe_merge_train", "dedup_components_incremental",
    // and the dict-join apply pass it feeds
    "text_bpe_apply",
    // round 17: the driver-side 256-budget trainer — one corpus collapse
    // + in-memory merge rounds; the probe measures the collapse scaling
    "text_bpe_train_full",
    // round 17: cross-modal paired dedup — both sides banded and
    // occupancy-capped at 64, so candidate volume is cell-bounded
    "multimodal_pair_dedup",
    // round 16 batch E: the BM25 posting-join ranker (broadcast 10-term
    // query panel; tf/df vocab aggs; map-side WindowGroupLimit top-k)
    "text_bm25_topk",
    // round 16 batch G: the component-granular leakage-free split (rides
    // the landed CC artifact; canonical-text equi-join + label-sized map)
    "docs_split_by_component")

  /** Embeddings-only ANN ops (the other fixed-size fixture blind spot:
    * embeddings never grows past 2k rows): brute-force broadcast scan,
    * sign-LSH multiprobe, IVF-PQ ADC, and LSH-bucketed semantic dedup. */
  private[graft] val ProbedVec = Seq(
    "knn_cosine_topk", "knn_ivf_topk", "knn_ivfpq_topk", "dedup_near_embedding",
    "vec_hamming_recall", "vec_pca_deflate", "vec_rank_fusion",
    "vec_centroid_drift",
    // round 12: the labels²-bounded affinity matrix
    "vec_label_affinity",
    // round 13: the id-capped geometry histogram (work is cap-bounded —
    // the ratio should be ~1 at any corpus size) and the recall-curve
    // harness composing the two kNN kernels
    "vec_cosine_histogram", "vec_ann_recall_curve",
    // round 13 batch 7: the cell-bounded index-health report (≤ 2^planes
    // rows per table after one scan)
    "vec_ivf_cell_stats",
    // round 13 batch 11: the nprobe cost table (broadcast probe join;
    // everything after is queries×radii-sized)
    "vec_ivf_probe_cost",
    // round 14 batch D: the shared PQ encode + per-(m,code) rollup
    "vec_pq_distortion",
    // round 14 batch F: the two-stage RQ encode (map-side) + ≤16-row agg
    "vec_residual_quantize",
    // round 14 batch H: the broadcast-query kNN vote classifier
    "vec_knn_label_predict",
    // round 15: the cell-bounded occupancy Gini and the array-keyed
    // exact-dup census
    "vec_ivf_balance_gini", "vec_dedup_exact",
    // round 16 batch E: the MRR/nDCG harness composing the two probed kNN
    // kernels (post-kernel work is ≤ queries×5 rows), and the broadcast-
    // eval-side exact decontamination scan (map-side dots, one train-sized
    // partial-agg shuffle; eval side FIXED-size in the deployed contract)
    "vec_retrieval_metrics", "docs_decontaminate_semantic",
    // round 16 batch F: the hybrid sparse+dense RRF capstone (one
    // universe join; both branches broadcast bounded query state and
    // prune map-side; fusion is ≤ 40 rows/query), and the semi-hard
    // negative miner (one broadcast-panel scored pass; 10-row positive
    // agg broadcast back; band filter + map-side top-k)
    "docs_hybrid_retrieval", "vec_hard_negatives")

  /** Deterministic L2-normalized 64-dim float vectors: component j of
    * vector i = (xxhash64(i, j) mod 2000001 − 1000000)/1e6, normalized in
    * double, cast float — identical corpus on every run/engine. */
  private def synthEmbeddings(s: SparkSession, n: Long): DataFrame = {
    val raw = transform(sequence(lit(1), lit(64)),
      j => (pmod(xxhash64(col("id"), j), lit(2000001L)) - lit(1000000L))
        .cast("double") / lit(1e6))
    s.range(n).select(
      col("id").as("vec_id"),
      raw.as("raw"),
      pmod(col("id"), lit(10)).cast("int").as("label"))
      .withColumn("nrm", sqrt(aggregate(col("raw"), lit(0.0d), (a, x) => a + x * x)))
      .select(col("vec_id"),
        transform(col("raw"), x => (x / col("nrm")).cast("float")).as("embedding"),
        col("label"))
  }

  /** Events-family reps (round 10): the per-user RANGE-frame burst scan,
    * the DAU/WAU band join, sessionization, and the per-user lag/agg
    * shapes. The fixture events table is pinned at 100k rows, so like the
    * docs/vecs above these need a synthetic corpus to show growth. */
  private[graft] val ProbedEvents = Seq(
    "events_burst_detect", "events_dau_wau", "events_sessionize",
    "events_interarrival_hist", "events_rfm_scores", "events_markov_transitions",
    "events_top_paths", "events_user_overlap", "events_streaks",
    "join_asof_nearest", "events_cusum_drift", "join_interval_overlap",
    "events_ab_test",
    // round 12: the bounded-grid lag self-join, the tolerance carry, and
    // the occupancy-capped bucketed interval SELF-join (the cap exists
    // because this probe's first run of the uncapped op filled the disk
    // at 100× — co-presence pairs grow ∝ occupancy² at fixed span)
    "events_period_autocorr", "join_asof_tolerance", "join_interval_bucketed",
    "events_user_entropy",
    // round 13: the global zero-filled daily-series correlation (one
    // map-side day-count collapse; everything after is calendar-bounded)
    // and the exact-moment regression aggregate
    "events_autocorr", "agg_regression",
    // round 13 batch 4: the hod-baseline anomaly screen — one scan agg
    // to the days×24×types grid, bounded joins after — and the
    // cohort-week LTV curve (two aggs + calendar-bounded window)
    "events_anomaly_seasonal", "events_cohort_ltv_curve",
    // round 13 batch 7: the growth-accounting ledger (one distinct
    // collapse + user-partitioned lag/lead + calendar-bounded grid)
    "events_user_lifecycle",
    // round 13 batch 11: the multi-window SLO burn table (one scan agg
    // to the hour grid; everything after is calendar-bounded)
    "events_slo_burn_rate",
    // round 13 batch 12: the two-level user/day bot screen
    "events_bot_screen",
    // round 13 batch 14: the leakage-safe PIT feature snapshot
    "events_feature_rollup_pit",
    // round 14 batch C: the four day/minute-grid collapses and the
    // user-partitioned session-depth rollup
    "events_drawdown", "events_rolling_median", "events_downtime_intervals",
    "events_session_depth_hist", "events_weekly_seasonality_strength",
    // round 14 batch F: the user-agg → lifetime-histogram KM estimator,
    // the day-grid split scan, and the minute-grid χ² screen
    "events_survival_km", "events_changepoint", "events_uniformity_chi2",
    // round 14 batch G: the collected-day-grid Holt fold and the
    // hour-grid island debouncer
    "events_holt_linear", "events_alert_debounce",
    // round 14 batch H: the VARIANT parse/extract projection
    "fn_variant",
    // round 14 batch I: the sessionize-kernel conversion rollup and the
    // week-grid mix-drift table
    "events_session_conversion", "events_mix_drift_weekly",
    // round 14 batch J: the two-proportion z collapse
    "events_error_rate_ztest",
    // round 15: the 7x24 grid collapse and the day-grid STL-lite
    "events_dow_hod_heatmap", "events_seasonal_decompose")

  /** Deterministic synthetic events at the fixture shape: ~67 events/user
    * (users scale WITH the corpus — the per-user partition stays bounded,
    * which is the property the window ops rely on), epoch-nanos ts spread
    * uniformly over 30 days, 5 event types, centi-precision values. Every
    * field is a hash of the row id — zero RNG, identical on every run. */
  private def synthEvents(s: SparkSession, n: Long): DataFrame = {
    val epoch0 = 1704067200000000000L // 2024-01-01T00:00Z nanos
    val spanNs = 30L * 86400L * 1000000000L
    val types = array(Seq("view", "click", "purchase", "signup", "error").map(lit): _*)
    s.range(n).select(
      col("id").as("event_id"),
      (lit(epoch0) + pmod(xxhash64(col("id")), lit(spanNs))).as("ts"),
      pmod(xxhash64(col("id"), lit(1)), lit(math.max(1L, n / 67L))).as("user_id"),
      element_at(types, (pmod(xxhash64(col("id"), lit(2)), lit(5)) + 1).cast("int"))
        .as("event_type"),
      (pmod(xxhash64(col("id"), lit(3)), lit(10000L)).cast("double") / 100.0)
        .as("value"),
      lit("{}").as("props"))
  }

  /** Join-heavy relational (TPC-H-shape) reps (VERDICT r10 #3): the fixture
    * SFs cap lineitem at 600k rows, so the five most join-heavy Q-shapes
    * need a synthetic star schema to show growth. Facts AND
    * SF-proportional dims (customer/supplier/part) scale with the mult,
    * exactly as TPC-H SF does; nation/region are schema-bounded and copied
    * from the fixture. */
  private[graft] val ProbedRel = Seq(
    "q_waiting_suppliers", "q_min_cost_supplier", "q_local_supplier_volume",
    "q_market_share", "q_product_profit", "agg_histogram",
    // round 12 (VERDICT r11 #4): the exact order-statistics family sorts
    // per priority group — 5 near-table-sized frames
    "agg_median", "agg_percentiles_exact",
    // round 12: the S1..S4 moment-sum aggregate (decimal overflow watch)
    // and the bounded-group basket pair join
    "agg_skew_kurt", "q_cross_sell_basket",
    // round 13: the bounded-histogram weighted median
    "agg_weighted_median",
    // round 12 batch 6: the landed-backbone BFS, the bitmap
    // exact-distinct (shuffle carries bitmaps, not values), and the
    // decimal-squared HHI aggregate
    "graph_bfs_distance", "agg_bitmap_distinct", "q_supplier_concentration",
    // round 12 batch 7: the brand-month seasonal rollup and the
    // three-branch SCD2 merge with landed write-back
    "q_seasonal_index", "merge_scd2_apply",
    // round 13: the distinct-frame year-over-year retention self-join,
    // the order-size histogram, and the dynamic-partition re-stage write
    "q_customer_churn", "q_order_size_distribution",
    "merge_insert_overwrite_dynamic",
    // round 13 batch 6: the IVM delta fold (snapshot paid once) and the
    // per-key skew diagnosis (key-sized aggs + broadcast heavy probe)
    "merge_view_refresh_incremental", "profile_join_skew_report",
    // round 13 batch 8: the day-grid running backlog (two fact aggs +
    // calendar-bounded window) and the argmax-with-ties broadcast-max
    // filter (no per-group sort — the k=1 WITH TIES rewrite)
    "q_order_backlog_daily", "limit_topk_with_ties",
    // round 13 batch 12: the customer-year tier grid + lead matrix
    "q_segment_migration",
    // round 13 batch 13: the interpolated-percentile valueAtRanks twin
    // and the flows-composed antisymmetric balance
    "agg_percentile_interp", "q_nation_trade_balance",
    // round 13 batch 14: the provenance symmetric diff (one full-outer on
    // distinct key sets) and the 1996/1997 brand growth screen
    "set_symmetric_diff", "q_top_growth_parts",
    // round 14 batch A: the struct-ordered argmax agg, the 8-byte bitwise
    // folds, struct min/max, printf projection, the first-seen
    // running-distinct collapse, and the scalar-max ALL rewrite
    "agg_arg_extremes", "agg_bit_ops", "fn_struct", "fn_format",
    "win_running_countd", "sql_all_subquery",
    // round 14 batch B: customer-collapse repeat rate, the two bounded
    // value-histogram percentile/median shapes, the weekday grid, the
    // broadcast-dim margin sums, and the day-grid lag/lead pattern
    "q_customer_repeat_rate", "q_ship_lag_percentiles",
    "q_order_weekday_profile", "q_part_margin_spread",
    "q_customer_order_gap", "win_pattern_vshape",
    // round 14 batch E: the 3-round degree peel and the directed-arc
    // reciprocity self-join (both ride landed co-trade artifacts)
    "graph_kcore_peel", "graph_reciprocity",
    // round 14 batch F: 3 synchronous LPA rounds on the landed artifact
    "graph_label_propagation",
    // round 14 batch G: the cohort-triangle double orders pass, the
    // fact-dim moment agg, the backbone moment rollup, and the
    // generate-then-PERMISSIVE-parse csv surface
    "q_cohort_revenue_triangle", "q_discount_quantity_elasticity",
    "graph_assortativity", "source_csv_badrecords",
    // round 14 batch H: the Wilson (n,k) collapse and the nation-month
    // volatility grid
    "q_supplier_late_wilson", "q_nation_revenue_volatility",
    // round 14 batch I: the snapshot aging buckets, the bloom-indexed
    // sink roundtrip, and the collated grouping surface
    "q_open_order_aging", "sink_parquet_bloom", "fn_collate",
    // round 14 batch J: the calendar-arithmetic projection and the
    // anti-join insert-if-absent with landed write-back
    "fn_interval", "merge_insert_ignore",
    // round 15 (VERDICT r14 #1): the five re-planned §2.5 window demos —
    // 3-round broadcast-max tournament, stats-broadcast first/last/nth,
    // the two-pass value-cell rank (×2), and the o_custkey-re-keyed
    // RANGE frame
    "win_topk_per_group", "win_first_last_nth", "win_rank_dense_row",
    "win_ntile_pctrank", "win_range_frame",
    // round 15 batches D-E: the dollar-histogram decile pick and the
    // distinct-collapse referential audit
    "q_order_value_deciles", "profile_referential_integrity",
    // round 15 batch F: the returns cents rollup
    "q_returns_impact",
    // round 16: the NFD bin-pack over the deterministic file ledger
    "maintenance_compaction_plan")

  /** Streaming stateful shapes (VERDICT r11 #3): none of the stream_* ops
    * had a measured growth ratio. These run REAL Structured Streaming
    * (file source over the synthetic events parquet → AvailableNow →
    * memory sink), so the probe times the state-store path itself; the
    * final-batch state rows/bytes are captured from StreamingQueryProgress
    * (Streaming.lastStateStats) and reported per (mult, op) — state that
    * grows faster than the keyspace is the failure this guards against
    * (session merge state, stream-stream join buffers, watermark
    * eviction). */
  private[graft] val ProbedStream = Seq(
    "stream_watermark_late", "stream_session_builtin", "stream_stream_join",
    "stream_tws_running_max", "stream_stateful_count", "stream_dedup",
    // round 12: the ListState leaderboard (O(k) state per key) and the
    // per-batch snapshot-rewrite CDC apply
    "stream_tws_topk", "stream_cdc_apply",
    // round 13: the stream-static enrichment probe (state must stay
    // window-agg-bounded — the static side adds none) and the left-outer
    // stream-stream join (state = open click windows, watermark-evicted)
    "stream_static_join", "stream_outer_join_watermark",
    // the shared-checkpoint incremental restart (two runs, state resumed)
    "stream_restart_checkpoint",
    // round 14 batch J: the 4-file maxFilesPerTrigger backfill replay
    "stream_backfill_batches",
    // round 16: continuous-ingestion band dedup — per-wave cost must
    // scale with the wave (probe join + store re-land), not the corpus
    "stream_dedup_bands",
    // round 17: streaming CC-label maintenance — per-wave COMPUTE = wave
    // docs + touched components (contracted sub-CC); the versioned store
    // re-land is full-table per wave at fixture scale (partition-pruned
    // in production — see the kernel scaladoc); the probe pays the edge
    // + base-label artifact builds in-op
    "stream_cc_maintain")

  /** Retroactive scale-classification ledger (r15, VERDICT r14 #2): the
    * "no op ships unprobed" protocol only covered ops added since r12, and
    * that gap is exactly how the five low-cardinality window demos shipped
    * unexamined. This map closes it: EVERY registry op not in a Probed*
    * list carries an explicit scale class + one-line reason, and
    * Round15Spec enforces Probed ∪ Classified == registry (disjointly), so
    * a new op cannot ship without either a measured 1×/100× ratio or a
    * written classification. Classes:
    *  - scan: one map-side pass (projection / filter / per-row kernel /
    *    fixed-width featurization); no data-sized shuffle at all.
    *  - agg: partial+final aggregation onto schema- or value-domain-bounded
    *    groups (≤ nations × priorities × statuses…); shuffle carries groups.
    *  - key: one exchange on an SF-proportional key (user_id / custkey /
    *    vocab hash / fingerprint); per-group work bounded by the data model
    *    (orders/customer ≈ 10, events/user ≈ 67, cells are tie-groups).
    *  - frame: all post-collapse work on calendar / value-domain / schema-
    *    bounded frames (the globalByDesign discipline, PlanSpec allowlist).
    *  - rep: same kernel or landed artifact as a named PROBED op — the rep
    *    pays and measures the build; this op is a marginal consumer.
    *  - demo: declared id-capped / candidate-bounded surface demo; the §2
    *    row names the probed op that is the at-scale path.
    *  - sketch: fixed-size sketch or driver model state (HLL / CMS / GK /
    *    simhash / k-centroids); the data pass is scan-shaped.
    *  - io: source/sink/layout/merge round-trip — partitioned, splittable
    *    read/write; cost is IO-bound and linear by construction.
    *  - stream: Structured Streaming surface whose STATE class (windowed
    *    agg / session merge / TWS / join buffer) is probed via ProbedStream.
    */
  private[graft] val Classified: Map[String, String] = Seq(
    "scan" -> Seq("filter_pred", "filter_in_like", "filter_null3vl",
      "project_expr", "fn_array", "fn_bitwise", "fn_cast", "fn_conditional",
      "fn_date", "fn_hash", "fn_hof", "fn_json", "fn_map", "fn_math",
      "fn_string", "fn_try_arith", "fn_url", "udf_scalar", "udtf_generator",
      "text_pii_scrub", "text_scrub", "text_quality_score",
      "text_quality_filter", "text_token_count", "text_fingerprint",
      "text_dup_ngram_rate", "text_hashed_features", "pipeline_clean_corpus",
      "docs_split_assign", "docs_sample_stratified", "multimodal_features",
      "multimodal_chunks", "multimodal_resample", "multimodal_label_text",
      "vec_int8_quantize", "vec_jl_projection", "vec_norm_stats",
      "vec_dim_stats", "vec_centroid_by_label", "limit_topk_global",
      "limit_offset", "sort_multi_nulls"),
    "agg" -> Seq("agg_pricing_summary", "agg_weighted_avg",
      "agg_geometric_mean", "agg_groupby_multi", "agg_having",
      "agg_distinct_count", "agg_multi_distinct", "agg_rollup", "agg_cube",
      "agg_grouping_sets", "agg_minmax_stats", "agg_pivot_status",
      "agg_unpivot", "agg_corr_covar", "agg_bool", "agg_mode",
      "agg_string_agg", "agg_udaf_sumsq", "typed_agg_orders",
      "text_lang_profile", "text_langid", "text_wordcount", "text_ngram_freq",
      "docs_length_buckets", "docs_domain_mix", "events_hourly_profile",
            "events_anomaly_zscore", "profile_table_stats", "q_revenue_by_region", "q_parts_share",
      "q_nation_share_in_region", "q_nation_trade_flows",
      "q_small_qty_revenue", "q_special_promo_revenue",
      "q_priority_class_late", "q_returned_by_customer", "q_important_parts",
      "q_promo_part_suppliers", "q_top_unshipped", "q_top_supplier",
      "q_idle_rich_customers", "q_large_volume_customers",
      "q_order_priority_late", "q_customer_distribution", "q_customer_ltv",
      "q_supplier_part_breadth", "q_yoy_growth", "sql_scalar_subquery",
      "sql_exists_subquery", "sql_in_subquery", "sql_filtered_agg"),
    "key" -> Seq("agg_sorted_collect", "agg_listagg_ordered", "win_lead_lag",
      "win_running_sum", "win_sliding_frame", "events_attribution_first_touch",
      "events_attribution_last_touch", "events_concurrency",
      "events_conversion_lag", "events_ewma", "events_gapfill",
      "events_funnel", "events_retention_cohorts", "scd2_type_history",
      "join_lateral_topn", "join_inner_hash", "join_sortmerge",
      "join_broadcast", "join_left_outer", "join_right_outer",
      "join_full_outer", "join_left_semi", "join_left_anti",
      "join_null_safe", "join_skew_salted", "join_bucketed_noshuffle",
      "join_bloom_prefilter", "join_dpp_partition_prune", "multimodal_join",
      "dedup_exact", "dedup_by_key", "distinct_rows", "dedup_incremental",
      "docs_decontaminate", "set_union_all", "set_union_distinct",
      "set_intersect", "set_intersect_all", "set_except", "set_except_all", "text_ngram_novelty", "text_zipf_slope",
      "text_bpe_pair_stats", "docs_char_lm"),
    "frame" -> Seq("q_monthly_trend", "q_forecast_revenue",
      "events_pareto_share", "events_anomaly_mad", "sql_recursive_cte"),
    "rep" -> Seq("dedup_assign_canonical", "dedup_cluster_stats",
      "graph_degree_stats", "graph_triangles", "graph_jaccard_neighbors",
      "graph_pagerank_iter", "vec_pq_codes", "docs_token_budget_fill"),
    "demo" -> Seq("join_cross", "join_theta_band", "join_range_interval",
      "join_asof", "join_asof_forward", "sim_threshold_pairs",
      "vec_knn_graph", "vec_matryoshka_recall", "text_fuzzy_pairs",
      "dedup_minhash_estimate_error", "docs_dup_threshold_curve"),
    "sketch" -> Seq("agg_approx_distinct", "agg_approx_quantile",
      "agg_hll_custom", "dedup_simhash", "sketch_cms_topk", "vec_kmeans_iter",
      "vec_power_iter"),
    "io" -> Seq("scan_parquet", "scan_projection", "scan_pushdown",
      "scan_schema", "scan_schema_merge", "scan_describe_history",
      "scan_snapshot_changes", "scan_time_travel", "scan_zone_map_prune",
      "sink_csv_roundtrip", "sink_json_roundtrip", "sink_orc_roundtrip",
      "sink_xml_roundtrip", "scan_ignore_corrupt_files",
      "sink_partitioned_pruned", "source_jsonlines", "source_text_raw",
      "layout_compact_small_files", "layout_zorder", "maintenance_vacuum",
      "merge_delete_cow", "merge_upsert",
      // r17: plan→execute round-trip — one read + one keyed shuffle +
      // one write; ledger/plan are file-count-sized (the probed plan op's
      // packing math over a real _metadata ledger)
      "maintenance_compaction_execute",
      // r17: append-commit sidecar maintenance — commit-sized stats scan
      // + KB-sized sidecar append + O(files) driver prune walk
      "scan_stats_sidecar_append",
      // r18 (VERDICT r17 #4): the artifact build+land sweep — each
      // underlying kernel's scale is probed via its first consumer
      // (jaccard_pairs, knn_ivf/ivfpq, graph family, dedup_components,
      // docs_lm_quality_filter); this op is those builds' IO round-trips
      // plus artifact-count-bounded receipt counts
      "corpus_ingest_index",
      // r19 (VERDICT r18 #3): the incremental-commit twin — its two real
      // kernels carry probed scale evidence already (the pair probe is
      // jaccard_pairs' posting join restricted to delta shingles; the
      // label merge is dedup_components_incremental's probed
      // contract-and-subCC); the rest is the catalog's receipt counts
      // over landed artifacts
      "corpus_ingest_index_v1"),
    "stream" -> Seq("stream_tumbling_1h", "stream_sliding_1h_15m",
      "stream_session_30m", "stream_threshold_alerts",
      "stream_sink_foreachBatch"),
  ).flatMap { case (cls, ops) => ops.map(_ -> cls) }.toMap

  /** o_orderdate(k): deterministic day in 1995-01-01..2001-07-second, the
    * fixture's span — shared by synthOrders and synthLineitem so each
    * line's shipdate is its own order's date + 1..120 days (what
    * q_waiting_suppliers' >60-day lateness predicate needs). */
  private def orderDate(k: org.apache.spark.sql.Column) =
    date_add(to_date(lit("1995-01-01")), pmod(xxhash64(k), lit(2400)).cast("int"))

  private def synthOrders(s: SparkSession, n: Long, nCust: Long): DataFrame = {
    val prios = array(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
      "5-LOW").map(lit): _*)
    s.range(n).select(
      col("id").as("o_orderkey"),
      pmod(xxhash64(col("id"), lit(1)), lit(nCust)).as("o_custkey"),
      element_at(array(lit("F"), lit("O"), lit("P")),
        (pmod(xxhash64(col("id"), lit(2)), lit(3)) + 1).cast("int")).as("o_orderstatus"),
      (pmod(xxhash64(col("id"), lit(3)), lit(45000000L)).cast("double") / 100.0 + 900.0)
        .as("o_totalprice"),
      orderDate(col("id")).cast("timestamp_ntz").as("o_orderdate"),
      element_at(prios, (pmod(xxhash64(col("id"), lit(4)), lit(5)) + 1).cast("int"))
        .as("o_orderpriority"))
  }

  /** 4 lines per order (the fixture's ~4:1 ratio is exact here: lineitem
    * row i belongs to order i div 4). */
  private def synthLineitem(s: SparkSession, n: Long, nPart: Long,
                            nSupp: Long): DataFrame =
    s.range(n).select(
      shiftright(col("id"), 2).as("l_orderkey"),
      pmod(xxhash64(col("id"), lit(1)), lit(nPart)).as("l_partkey"),
      pmod(xxhash64(col("id"), lit(2)), lit(nSupp)).as("l_suppkey"),
      (pmod(col("id"), lit(4)) + 1).cast("int").as("l_linenumber"),
      (pmod(xxhash64(col("id"), lit(3)), lit(50)) + 1).cast("double").as("l_quantity"),
      (pmod(xxhash64(col("id"), lit(4)), lit(10000000L)).cast("double") / 100.0 + 1.0)
        .as("l_extendedprice"),
      (pmod(xxhash64(col("id"), lit(5)), lit(11)).cast("double") / 100.0).as("l_discount"),
      (pmod(xxhash64(col("id"), lit(6)), lit(9)).cast("double") / 100.0).as("l_tax"),
      element_at(array(lit("A"), lit("N"), lit("R")),
        (pmod(xxhash64(col("id"), lit(7)), lit(3)) + 1).cast("int")).as("l_returnflag"),
      element_at(array(lit("F"), lit("O")),
        (pmod(xxhash64(col("id"), lit(8)), lit(2)) + 1).cast("int")).as("l_linestatus"),
      date_add(orderDate(shiftright(col("id"), 2)),
        (pmod(xxhash64(col("id"), lit(9)), lit(120)) + 1).cast("int"))
        .cast("timestamp_ntz").as("l_shipdate"))

  private def synthCustomer(s: SparkSession, n: Long): DataFrame = {
    val segs = array(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
      "MACHINERY").map(lit): _*)
    s.range(n).select(
      col("id").as("c_custkey"),
      concat(lit("Customer#"), lpad(col("id").cast("string"), 9, "0")).as("c_name"),
      pmod(xxhash64(col("id"), lit(1)), lit(25)).cast("int").as("c_nationkey"),
      (pmod(xxhash64(col("id"), lit(2)), lit(500000L)).cast("double") / 100.0)
        .as("c_acctbal"),
      element_at(segs, (pmod(xxhash64(col("id"), lit(3)), lit(5)) + 1).cast("int"))
        .as("c_mktsegment"))
  }

  private def synthSupplier(s: SparkSession, n: Long): DataFrame =
    s.range(n).select(
      col("id").as("s_suppkey"),
      concat(lit("Supplier#"), lpad(col("id").cast("string"), 9, "0")).as("s_name"),
      pmod(xxhash64(col("id"), lit(1)), lit(25)).cast("int").as("s_nationkey"),
      (pmod(xxhash64(col("id"), lit(2)), lit(500000L)).cast("double") / 100.0)
        .as("s_acctbal"))

  private def synthPart(s: SparkSession, n: Long): DataFrame = {
    val adjs = array(Seq("cold", "small", "large", "dim", "fast", "quiet",
      "warm", "heavy").map(lit): _*)
    val nouns = array(Seq("widget", "gadget", "sprocket", "flange", "gear",
      "bolt").map(lit): _*)
    val types = array(Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
      "STANDARD").map(lit): _*)
    s.range(n).select(
      col("id").as("p_partkey"),
      concat(element_at(adjs, (pmod(xxhash64(col("id"), lit(1)), lit(8)) + 1).cast("int")),
        lit(" "),
        element_at(nouns, (pmod(xxhash64(col("id"), lit(2)), lit(6)) + 1).cast("int")))
        .as("p_name"),
      concat(lit("Brand#"), (pmod(xxhash64(col("id"), lit(3)), lit(25)) + 1).cast("string"))
        .as("p_brand"),
      element_at(types, (pmod(xxhash64(col("id"), lit(4)), lit(6)) + 1).cast("int"))
        .as("p_type"),
      (pmod(xxhash64(col("id"), lit(5)), lit(50)) + 1).cast("int").as("p_size"),
      (pmod(xxhash64(col("id"), lit(6)), lit(20000L)).cast("double") / 100.0 + 900.0)
        .as("p_retailprice"))
  }

  def main(args: Array[String]): Unit = {
    val mults = (if (args.isEmpty) Seq(1L, 10L) else args.toSeq.map(_.toLong)).sorted
    val spark = GraftSession.create(extra = Map(
      // A 40+-minute sweep accumulates shuffle files in /tmp faster than
      // the default 30-min ContextCleaner GC reclaims them; under the
      // noop action (which executes the output sorts .count() used to
      // prune) the debris exhausted the disk and failed
      // dedup_near_embedding's spill with ENOSPC. Frequent periodic GC
      // lets the cleaner drop unreferenced shuffle files continuously.
      "spark.cleaner.periodicGC.interval" -> "2min"))
    plans.GraftOptimizations.install(spark)
    // the probe times the streaming STATE path with the distributed noop
    // sink; the registry default (driver-local memory sink) is a
    // diagnostic that chokes on data-sized append output at 100×
    // (maxResultSize) — see Streaming.probeNoopSink
    streaming.Streaming.probeNoopSink = true

    val baseDocs = 5000L // sf0.1 documents row count
    val baseVecs = 2000L // sf0.1 embeddings row count
    val baseEvents = 100000L // sf0.1 events row count
    val baseLines = 600000L // sf0.1 lineitem row count (orders = /4)
    val baseCust = 15000L; val baseSupp = 1000L; val basePart = 20000L
    // optional comma-separated op filter for targeted local iteration
    // (e.g. SPARK_GRAFT_PROBE_OPS=agg_median,agg_percentiles_exact);
    // full sweeps leave it unset
    val opFilter = sys.env.get("SPARK_GRAFT_PROBE_OPS")
      .map(_.split(",").map(_.trim).toSet)
    val allOps = (Probed ++ ProbedVec ++ ProbedEvents ++ ProbedRel ++ ProbedStream)
      .filter(op => opFilter.forall(_(op)))
    val times = scala.collection.mutable.LinkedHashMap[(Long, String), Double]()
    val samples = scala.collection.mutable.LinkedHashMap[(Long, String), List[Double]]()
    val stateStats = scala.collection.mutable.LinkedHashMap[(Long, String), (Long, Long, Int)]()
    mults.foreach { m =>
      val dir = Store.dir(spark, s"scale_${m}x")
      synthDocs(spark, baseDocs * m).write.mode("overwrite")
        .parquet(s"$dir/documents.parquet")
      synthEmbeddings(spark, baseVecs * m).write.mode("overwrite")
        .parquet(s"$dir/embeddings.parquet")
      synthEvents(spark, baseEvents * m).write.mode("overwrite")
        .parquet(s"$dir/events.parquet")
      // star schema: facts and SF-proportional dims scale with m;
      // nation/region are schema-bounded — copied verbatim from the fixture
      synthLineitem(spark, baseLines * m, basePart * m, baseSupp * m)
        .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      synthOrders(spark, baseLines * m / 4, baseCust * m)
        .write.mode("overwrite").parquet(s"$dir/orders.parquet")
      synthCustomer(spark, baseCust * m)
        .write.mode("overwrite").parquet(s"$dir/customer.parquet")
      synthSupplier(spark, baseSupp * m)
        .write.mode("overwrite").parquet(s"$dir/supplier.parquet")
      synthPart(spark, basePart * m)
        .write.mode("overwrite").parquet(s"$dir/part.parquet")
      Seq("nation", "region").foreach(tn =>
        Tables.load(spark, "/root/testdata/sf0.1", tn)
          .write.mode("overwrite").parquet(s"$dir/$tn.parquet"))
      // warm-up read (parquet footers), then timed runs — median of 3 so a
      // first-execution JIT/codegen compile or a host stall cannot fake a
      // ratio (single samples measured ratios BELOW 1 purely from warmup)
      Seq("documents", "embeddings", "events", "lineitem", "orders",
        "customer", "supplier", "part").foreach(tn =>
        Tables.load(spark, dir, tn).count())
      val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
      for (rep <- 1 to reps; op <- allOps) {
        // per-pass artifact reset (same protocol as Bench): the first
        // candidate-pair consumer of each pass pays the build, the rest
        // read — the pipeline shape being measured, honestly attributed
        if (op == allOps.head)
          llm.TextOps.clearCandidateArtifacts()
        // a pin lives for one op: across a 40+-op sweep at 200× the
        // previous ops' pins starved execution memory
        Pin.release(spark)
        val t0 = System.nanoTime()
        // name the failing op instead of dying mid-sweep: the first 200×
        // attempt OOMed anonymously ~8 ops in and cost the whole run's
        // evidence; a failed op reports -1 and the sweep continues
        try {
          // full noop-sink materialization, NOT .count() — same action as
          // Bench (VERDICT r11 #2): .count() deletes unfiltered windows/
          // projections from the timed plan (§4.2.11)
          if (op.startsWith("stream_")) streaming.Streaming.lastStateStats = None
          Bench.materialize(SparkEntry.queries(op)(spark, dir))
          val dt = (System.nanoTime() - t0) / 1e9
          samples((m, op)) = samples.getOrElse((m, op), Nil) :+ dt
          // stream ops only — lastStateStats would otherwise go stale and
          // attach the previous pass's final stream op to batch ops
          if (op.startsWith("stream_"))
            streaming.Streaming.lastStateStats.foreach(st => stateStats((m, op)) = st)
        } catch {
          case e: Throwable =>
            samples((m, op)) = samples.getOrElse((m, op), Nil)
            System.err.println(
              s"[probe] $op FAILED at ${m}x: ${e.getClass.getSimpleName}: ${e.getMessage}")
        }
      }
      allOps.foreach { op =>
        val xs = samples((m, op)).sorted
        times((m, op)) = if (xs.isEmpty) -1.0 else xs(xs.size / 2)
      }
    }
    def fmt(v: Double) = BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP)
    val lines = allOps.map { op =>
      val per = mults.map(m => s""""${m}x":${fmt(times((m, op)))}""").mkString(",")
      val ratio =
        if (mults.size >= 2)
          s""","ratio":${fmt(times((mults.last, op)) / times((mults.head, op)))}"""
        else ""
      // streaming ops: final-batch state footprint per mult (rows/bytes)
      val st = mults.flatMap(m => stateStats.get((m, op)).map { case (r, b, nb) =>
        s""""state_${m}x":{"rows":$r,"bytes":$b,"batches":$nb}""" })
      val stJson = if (st.isEmpty) "" else "," + st.mkString(",")
      s""""$op":{$per$ratio$stJson}"""
    }

    // ANN recall AT PROBE SCALE (verdict r8 #2): the unit suite asserts
    // recall >= 0.8 only on the 500-vector fixture; LSH cell occupancy
    // shifts with corpus size, so recall must be re-measured on the
    // LARGEST synthetic corpus. Ground truth = knn_cosine_topk (exact
    // brute-force top-5 for the same 10 query vectors); recall@5 =
    // mean over queries of |approx ∩ exact| / |exact|. The collects are
    // bounded at 10 queries × 5 neighbors — never data-sized.
    val recallDir = Store.dir(spark, s"scale_${mults.last}x")
    def top5(op: String): Map[Long, Set[Long]] =
      SparkEntry.queries(op)(spark, recallDir)
        .select(col("qid").cast("long"), col("vid").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).map { case (q, vs) => q -> vs.map(_._2).toSet }
    // a recall failure (e.g. OOM at an untested scale) reports -1 rather
    // than discarding the whole sweep's timing evidence
    val recallJson = if (opFilter.nonEmpty) "" else try {
      val exact = top5("knn_cosine_topk")
      val recalls = Seq("knn_ivf_topk", "knn_ivfpq_topk").map { op =>
        val r = try {
          val approx = top5(op)
          exact.map { case (q, truth) =>
            approx.getOrElse(q, Set.empty).intersect(truth).size.toDouble / truth.size
          }.sum / exact.size
        } catch {
          case e: Throwable =>
            System.err.println(s"[probe] recall($op) FAILED: ${e.getMessage}")
            -1.0
        }
        s""""$op":${fmt(r)}"""
      }
      s""","recall_at_5":{"mult":${mults.last},${recalls.mkString(",")}}"""
    } catch {
      case e: Throwable =>
        System.err.println(s"[probe] recall ground truth FAILED: ${e.getMessage}")
        s""","recall_at_5":{"mult":${mults.last},"error":-1}"""
    }

    // VERDICT r10 #7: the scale-safe near-dup default is dedup_near_minhash;
    // the probe ASSERTS its growth stays strictly below exact jaccard's at
    // 100×, and below 1/4 of it at 200×+ (where the df²-below-cap candidate
    // term dominates jaccard — the criterion the r10 200× sweep measured:
    // 4.6× vs 16.1×). The original flat-1/4-from-100× form was
    // mis-calibrated: at 100× even the best pre-artifact windows measured
    // ~2.7× apart (jaccard 6.3 / minhash 2.3), and jaccard now also carries
    // the shared candidate-artifact build as the pass's first consumer.
    // Below 100× both ops are overhead-dominated and the ratio is noise.
    val mjJson = if (mults.size >= 2 && opFilter.isEmpty) {
      def ratio(op: String) = {
        val a = times((mults.head, op)); val b = times((mults.last, op))
        if (a > 0 && b > 0) b / a else -1.0
      }
      val jr = ratio("jaccard_pairs"); val mr = ratio("dedup_near_minhash")
      val applies = mults.last >= 100
      val bound = if (mults.last >= 200) 4.0 else 1.0
      val ok = !applies || (jr > 0 && mr > 0 && mr < jr / bound)
      if (!ok) System.err.println(
        f"[probe] ASSERT FAILED: minhash ratio $mr%.2f !< jaccard ratio $jr%.2f / $bound%.0f at ${mults.last}x")
      s""","minhash_vs_jaccard":{"jaccard_ratio":${fmt(jr)},"minhash_ratio":${fmt(mr)},"asserted":$applies,"ok":$ok}"""
    } else ""
    println(s"""{"probe":"scale","base_docs":$baseDocs,"base_vecs":$baseVecs,"base_events":$baseEvents,"base_lines":$baseLines,"mults":[${mults.mkString(",")}],"ops":{${lines.mkString(",")}}$recallJson$mjJson}""")
    spark.stop()
  }
}
