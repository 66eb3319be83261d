package graft

/** Every registered query runs at sf0.001 and produces a sane result;
  * the flagship entry produces rows (the driver's smoke check). */
class QueriesSmokeSpec extends SparkSpec {
  import QueriesSmokeSpec.generatorKeyedWindowCount

  private val sfDir = "/root/testdata/sf0.001"

  // pair-mining queries may legitimately be empty at the smallest SF
  private val mayBeEmpty = Set(
    "q14_anti_join_not_exists", "q21_dedup_minhash_lsh",
    "q23_dedup_ngram_jaccard", "q24_dedup_embedding_cosine",
    "q68_decontamination", "q74_semantic_dedup", "q165_minhash_fidelity",
    // a single (nation₁, nation₂) trade pair over two ship years is
    // legitimately absent from sf0.001's ~600 orders
    "q361_tpch_q7_volume_shipping",
    // sf0.001's 10 suppliers form a near-complete co-supply graph —
    // there may be no non-edge left to predict
    "q386_link_prediction_jaccard",
    // q699 shares q386's candidate machinery (hub-capped common
    // neighbors, anti-joined against existing edges) — same emptiness
    "q699_resource_allocation_links")

  test("entry (flagship) returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("registry size matches the documented README count") {
    // r4 and r5 both shipped a stale README count; parse the README so
    // the doc and the registry CANNOT drift independently again
    val readme = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("README.md")), java.nio.charset.StandardCharsets.UTF_8)
    val m = """\((\d+) query defs = (\d+) registered outputs""".r.findFirstMatchIn(readme)
    assert(m.isDefined, "README no longer documents the query count in the " +
      "'(N query defs = M registered outputs' form")
    val documented = m.get.group(2).toInt
    assert(SparkEntry.queries.size == documented,
      s"README documents $documented registered outputs but SparkEntry has " +
        s"${SparkEntry.queries.size} — update README.md (all 3 count sites)")
  }

  test("source lint: no .persist() inside a for/while loop (q558/q602 " +
    "landmine — per-round persists stack nested persisted AQE frames " +
    "whose onUpdatePlan explain render grows combinatorially; iterative " +
    "round frames must use localCheckpoint(true) instead)") {
    import scala.jdk.CollectionConverters._
    val loopOpen = """\b(for|while)\s*\(""".r
    val offenders = scala.collection.mutable.ListBuffer[String]()
    val root = java.nio.file.Paths.get("src/main/scala")
    java.nio.file.Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .foreach { p =>
        val lines = java.nio.file.Files.readAllLines(p).asScala
        var depth = 0
        val loopDepths = scala.collection.mutable.Stack[Int]()
        for ((l, i) <- lines.zipWithIndex) {
          val isLoop = loopOpen.findFirstIn(l).isDefined && l.contains("{")
          if (isLoop) loopDepths.push(depth + 1)
          depth += l.count(_ == '{') - l.count(_ == '}')
          while (loopDepths.nonEmpty && depth < loopDepths.top) loopDepths.pop()
          if (l.contains(".persist()") && loopDepths.nonEmpty)
            offenders += s"$p:${i + 1}"
        }
      }
    assert(offenders.isEmpty,
      s"persist() inside an iteration loop — use localCheckpoint(true) " +
        s"(the q691/q701 discipline): ${offenders.mkString(", ")}")
  }

  test("every query has oracle SQL or is explicitly rows-only") {
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(missing.isEmpty, s"queries without oracle: $missing")
  }

  test("select: no names selects the whole catalog in name order") {
    assert(SparkEntry.select(Nil).map(_._1) == SparkEntry.queries.keySet.toSeq.sorted)
  }

  test("select: named queries come back as given") {
    val names = Seq("q12_tpch_q3_shipping_priority", "q01_windowed_agg_sliding")
    assert(SparkEntry.select(names).map(_._1) == names)
  }

  test("select: an unknown name fails and the error names it") {
    val e = intercept[IllegalArgumentException] {
      SparkEntry.select(Seq("q01_windowed_agg_sliding", "q_typo"))
    }
    assert(e.getMessage.contains("q_typo"))
  }

  for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
    test(s"$name runs at sf0.001") {
      val df = fn(spark, sfDir)
      assert(df.columns.nonEmpty)
      val n = df.count()
      if (!mayBeEmpty(name)) assert(n > 0, s"$name returned 0 rows")
    }
  }

  // queries that deliberately crossJoin a BROADCAST one-row/k-row side
  // (query vectors, centroid tables, corpus-size literals, global
  // thresholds) — the only sanctioned nested-loop shape
  private val broadcastCrossJoins = Set(
    // round-11: q733 zips each source's share map against the broadcast
    // ONE-ROW global share map; q740 folds the vocab against the
    // broadcast one-row corpus total
    "q733_map_lang_drift", "q740_shannon_code_budget",
    // round-12: q751 crosses the ≤40-row band census against the
    // broadcast ONE-ROW total for the share denominator
    "q751_sql_udf_band_census",
    // q752 crosses the ≤5-row band census against the broadcast ONE-ROW
    // candidate/point totals
    "q752_grid_neighbor_join",
    // q754 fans the scan out over the broadcast 4-row hash-multiplier
    // grid (the sketch build) and crosses two one-row totals at the end
    "q754_cms_join_size_estimate",
    // q756 crosses each level's key set against its broadcast one-row
    // count (the bin-domain scalar) and the final one-row leftover;
    // q757 crosses the 6 bit planes against the one-row direct sum
    "q756_bbhash_level_census", "q757_bit_sliced_index_sum",
    // q755 builds the 10×10 kernel grid as a literal range cross
    "q755_sinkhorn_length_transport",
    // q758 crosses the 10 gold-label rows against the one-row global
    // P/R/F1; q759 crosses the key domain against its one-row count
    "q758_bcubed_clustering_eval", "q759_pointer_doubling_contraction",
    "q216_survival_life_table",
    "q25_knn_bruteforce", "q32_ivf_ann_topk", "q50_lsh_ann_topk",
    "q64_quality_threshold", "q72_time_decay", "q82_decile_binning",
    "q88_basket_lift", "q89_timeseries_similarity", "q102_int8_quantization",
    "q107_negative_sampling", "q111_cooccurrence_lift",
    "q112_range_partition_plan", "q115_event_funnel",
    "q116_rfm_segmentation", "q117_gini_concentration",
    "q118_source_drift_tv", "q119_chi_square_independence",
    "q120_ks_two_sample", "q122_vocab_coverage", "q124_target_encoding",
    "q133_join_blowup_audit", "q134_conversion_latency",
    "q135_dup_size_histogram", "q136_temperature_allocation",
    "q139_norm_outliers", "q145_oov_rate_by_cutoff", "q146_robust_outliers",
    "q147_reference_calibration", "q149_k_anonymity", "q151_dow_seasonality",
    "q152_gini_split_quality", "q153_churn_overdue",
    "q159_token_budget_plan", "q166_source_keyness", "q170_ivf_recall_sweep",
    "q172_dup_split_leakage", "q173_dim_truncation_recall",
    "q174_hybrid_rrf", "q175_recency_weights", "q189_rbo_rank_agreement",
    "q190_not_in_null_trap", "q224_rank_concordance",
    "q231_temporal_split_leakage", "q233_state_size_plan",
    "q235_map_at_10", "q239_kmv_intersection", "q240_did_analysis",
    "q244_uplift_by_decile", "q249_funnel_conversion_windows",
    "q256_int8_roundtrip_error", "q258_lsh_transitivity",
    "q259_dow_effect_size", "q266_shrunk_return_rates",
    // round-5: one-row broadcast scalar aggregates (thresholds, totals,
    // codebooks, horizons) and q272's broadcast benchmark side
    "q270_langid_kappa", "q271_kcore_decomposition",
    "q272_semantic_decontamination", "q274_pmi_collocations",
    "q276_growth_accounting", "q280_kneser_ney_continuation",
    "q283_tf_saturation_ranking", "q289_cardinality_estimation_audit",
    "q290_scalar_kmeans_codebook", "q292_cascade_delete_plan",
    "q293_pca_power_iteration", "q294_catalog_freshness",
    "q300_curation_funnel_v2", "q312_consistent_hash_balance",
    "q313_panel_balance", "q314_keyspace_density",
    // round-6: one-row broadcast scalar aggregates — global thresholds,
    // grand means, totals, horizon rows — cross-joined onto keyed aggs
    // (q64's pattern; every build side is provably ≤ a few rows)
    "q320_tpch_q22_dormant_capital", "q326_lambda_feature_ranking",
    "q329_knn_modularity", "q331_zonemap_skip_audit",
    "q332_cuped_variance_reduction", "q333_group_kfold_audit",
    "q334_kaplan_meier", "q336_median_of_means", "q339_chisq_residuals",
    "q342_mean_excess_tail", "q343_loo_source_ablation",
    "q350_horvitz_thompson", "q352_pinball_eval",
    "q353_james_stein_shrinkage", "q354_t_closeness",
    "q355_lm_learning_curve", "q357_ratio_tree_decomposition",
    "q364_tpch_q11_important_stock", "q367_tpch_q15_top_supplier",
    "q372_rle_layout_plan", "q373_dcg_retrieval_eval",
    "q374_markov_removal_attribution", "q378_cluster_keyword_labels",
    "q380_water_filling_quota", "q381_median_order_stat_ci",
    "q383_runs_test_daily_revenue", "q387_gram_coverage_curve",
    "q390_best_campaign_window", "q394_bpe_merge_step",
    "q395_markov_stationarity", "q397_unigram_sampling_table",
    "q398_disparate_impact_audit", "q402_knapsack_source_budget",
    "q403_shard_packing_bounds",
    // round-7: q405's PAV triple join runs on ≤ 11 discount bins; q406's
    // m/u denominators are one-row scalar aggregates
    "q405_isotonic_return_curve", "q406_fellegi_sunter_weights",
    "q407_roc_curve", "q408_brier_decomposition",
    // q410's DP interval/level joins run on a ≤ 32-row histogram; q412's
    // horizon origin is a one-row broadcast
    "q410_v_optimal_histogram", "q412_successive_halving",
    // q415's six HITS max-normalizers are one-row broadcast scalars
    "q415_hits_hub_authority",
    // q416's corpus stats / q417's totals and k_max are one-row broadcast
    // scalars; q418 joins 64-hash sketch rows (|sources|², vocabulary-sized)
    "q416_bm25_ranking", "q417_bh_fdr_control", "q418_kmv_containment",
    // q420's day-zero origin and q421's best-lag max are one-row broadcasts
    "q420_haar_synopsis", "q421_lead_lag_xcorr",
    // q422's sketch row, q423's stats/argmin rows and q424's day-zero
    // origin are one-row broadcast scalars
    "q422_ams_f2_sketch", "q423_join_order_enum", "q424_sax_motifs",
    // q430 joins ≤ 512 candidates against the ≤ 256-row broadcast
    // threshold table (depth-capped by construction)
    "q430_fagin_ta_depth",
    // q431's winner argmin is a one-row broadcast scalar
    "q431_hilbert_z_locality",
    // q434's rank thresholds join the histogram-sized cumulative by a
    // broadcast >= condition (3 rows against <= 2338)
    "q434_histogram_quantile_error",
    // q437's day-zero origin and q438's allocation total are one-row
    // broadcasts; q439's lattice search runs non-equi bitmask joins on
    // the 8-row cuboid table
    "q437_swag_sliding_max", "q438_neyman_allocation",
    "q439_cube_materialize_greedy",
    // q440/q441's certificate scalars are one-row broadcasts
    "q440_inclusion_dependency_mining", "q441_session_stitch_certificate",
    // q443's bands and q445's predicates join histogram/zone-sized sides
    // by broadcast range conditions (5-6 literal rows)
    "q443_histogram_selectivity_qerror", "q445_sortkey_zonemap_advisor",
    // q448's sample-size normalizers are a one-row broadcast
    "q448_cramer_von_mises",
    // q449's t0/first-crossing scalars and q451's rank thresholds are
    // one-row/3-row broadcasts against bounded sides
    "q449_group_sequential_monitor", "q451_sharded_quantile_merge",
    // q454's stream-end anchor is a one-row broadcast
    "q454_slo_burn_rate_alerts",
    // q456's tier explosion joins the 7-row per-mille list by broadcast
    // range condition; its revenue total is a one-row broadcast
    "q456_online_agg_convergence",
    // q460's global-statistic rows are one-row broadcasts
    "q460_nested_percentile_fallacy",
    // q462's access total and q463's day-zero origin are one-row
    // broadcasts
    "q462_static_cache_sweep", "q463_view_staleness_pricing",
    // q464's stream-end anchor and q466's cell total are one-row
    // broadcasts
    "q464_watermark_laggards", "q466_ivf_cell_balance",
    // q467's baseline/oracle scalars and q468's latest-month anchor are
    // one-row broadcasts
    "q467_bandit_replay_ope", "q468_storage_tiering_bill",
    // q470's rank thresholds, q471's scatter scalars and q472's literal
    // query ranges join bounded sides by broadcast
    "q470_dkw_percentile_bands", "q471_lda_separability",
    "q472_fenwick_range_serving",
    // q475's true-distinct comparison side is a one-row broadcast
    "q475_chao1_distinct_from_sample",
    // round-5 pretrain planners: q477/q489's merge pair and q479's
    // corpus totals are one-row broadcasts; q482/q488's config grids are
    // 3-row broadcast literals
    "q477_bpe_merge_rounds", "q479_dsir_selection",
    "q482_chunk_overlap_sweep", "q488_paged_kv_fragmentation",
    "q489_merge_transfer_eval",
    // q495 probes the broadcast 2% query sample (q25/q373's shape)
    "q495_ann_routing_margin",
    // q498's TTL grid is a 3-row broadcast literal
    "q498_ttl_cache_reuse_intervals",
    // q501 probes the broadcast ≤100-row semantic cache + a 3-row
    // threshold grid; q504's half-year counts are one-row broadcasts
    "q501_semantic_cache_hit_sweep", "q504_topk_churn_monitor",
    // q508's corpus size and feedback-mass totals are one-row broadcasts
    "q508_prf_query_expansion",
    // round-5 systems planners: q510/q511's latency totals, deadline
    // rows and plain-p99 anchors are one-row/3-row broadcasts on the
    // value-resolution-bounded CCDF; q512's config grid is a 4-row
    // literal against the one-row corpus total; q514's rate stats and
    // q515's region pair grid / order total are ≤ 10-row broadcasts
    "q510_tail_hedging_policy", "q511_quorum_read_latency",
    "q512_erasure_code_plan", "q514_backlog_catchup_plan",
    "q515_replica_placement_plan",
    // q517's GPU-demand total and q519's single-shard p99 anchor are
    // one-row broadcasts
    "q517_gang_schedule_fragmentation", "q519_fanout_tail_amplification",
    // q520's demand/capacity totals and q521's CCDF grand total are
    // one-row broadcast scalar aggregates cross-joined onto keyed aggs
    // (the standard bounded pattern; added with the round-6 gate sweep)
    "q520_load_shed_priority_plan", "q521_write_conflict_rate",
    // round-6 scaling planners: q523/q527's one-row scalar aggregates
    // and 3-4-row literal grids; q525/q526's 2-3-row broadcast grids
    // exploded onto per-doc/per-key arithmetic; q528's one-row corpus
    // total onto the ≤ 1001-bin histogram
    "q523_chinchilla_allocation", "q525_attention_window_coverage",
    "q526_shuffle_spill_planner", "q527_mde_power_plan",
    "q528_best_of_n_quality_gain",
    // q532/q535's 3-row architecture/cap grids broadcast onto bounded
    // censuses; q534's 24-row capacity ladder against the one-row total
    "q532_kv_cache_capacity", "q534_lsm_write_amplification",
    "q535_seqlen_curriculum_stages",
    // q538's 4-row reserve grid broadcasts onto the calendar-sized
    // (day, top1, top2) table
    "q538_reserve_price_sweep",
    // q544/q545 score orders against the one-row broadcast OLS fit
    "q544_ols_normal_equations", "q545_ols_segment_residual_audit",
    // q546's 3-row utilization grid on the per-type CV table; q547's
    // weight total is a one-row broadcast; q548 probes the broadcast 2%
    // sample (q25/q495's shape)
    "q546_kingman_queue_wait", "q547_class_balanced_weights",
    "q548_knn_label_noise",
    // q549's 3-row draft-length grid on the per-source acceptance table;
    // q551's triangle/edge/wedge scalars are one-row broadcasts
    "q549_specdec_draft_length_sweep", "q551_agm_bound_audit",
    // q552's 3-row ratio grid + day-count total on the calendar-sized
    // day table; q553's order/revenue totals are one-row broadcasts
    "q552_newsvendor_stock_plan", "q553_corruption_blast_radius",
    // q555's 3-row capacity-factor grid lands on 256 routing cells;
    // q556/q557 broadcast 3-row rate/threshold grids onto keyed series
    "q555_moe_capacity_overflow", "q556_shaper_backlog_audit",
    "q557_peeking_inflation_audit",
    // q563 re-enters the scan with ONE-ROW broadcast sides only (the
    // (k+1)-th priority tau and the true total); the lit-key equi-join
    // constant-folds to a trivially-true BNLJ, which is O(n) here
    "q563_priority_sampling_audit",
    // q564's ppm share divides the <=64x64 mixing cells by a one-row
    // edge-total broadcast
    "q564_degree_mixing_matrix",
    // q567 measures distortion on a BOUNDED 20-probe panel (190 pairs,
    // the q484 bounded-grid precedent) + a 3-row dim grid; q569's 3-row
    // arm grid lands on the 32-cell (arm16 x half) table
    "q567_jl_projection_distortion", "q569_winners_curse_audit",
    // q570: 3-row cap grid + one-row population totals onto the scan;
    // q571: 780 pairs of a 40-term TakeOrdered panel; q572: one-row
    // query-vector broadcast (the q25 precedent) + two 10-row top-k sets
    "q570_length_biased_ht_correction", "q571_posting_intersection_advisor",
    "q572_maxsim_late_interaction",
    // q574's 3-row band grid lands on the scan
    "q574_cascade_routing_frontier",
    // q577: 3-row rate grid + one-row truth; q578: the <=8-factor one-row
    // pivot broadcasts onto the handful of test cohorts
    "q577_german_tank_estimate", "q578_chain_ladder_ltv",
    // q579's 5-row sketch-depth grid lands on the vocabulary-sized term
    // table; q580's corpus total is a one-row broadcast onto the cells
    "q579_countsketch_bias_audit", "q580_hellinger_drift_census",
    // q582's located bin re-enters pass 2 as a one-row broadcast; q583
    // broadcasts the 10-probe panel (q25 precedent); q584's slope /
    // conformal thresholds are one-row / 3-row broadcasts onto the scan
    "q582_two_pass_exact_median", "q583_knn_shapley_valuation",
    "q584_conformal_coverage_audit",
    // q585/q586: 3-row and 39-cell grids onto one scan + one-row clean
    // mean; q587: everything lives on the <=11 discount cells
    "q585_estimator_breakdown_audit", "q586_quantile_regression_grid",
    "q587_placebo_rd_audit",
    // q589 broadcasts the 5-probe panel (q25 precedent); q590's backbone
    // threshold is a one-row broadcast onto the weighted edge list
    "q589_pooling_bias_eval", "q590_local_clustering_census",
    // q592/q593 reuse the backbone's one-row threshold broadcast; q593
    // adds 3-row club cutoffs and one-row graph totals
    "q592_percolation_robustness", "q593_rich_club_coefficient",
    // q594's 3-rate grid lands on 16 client rows; q596's merge bound is
    // a one-row broadcast onto the 10-row audited panel
    "q594_secure_agg_dropout", "q596_mergeable_topk_audit",
    // q597's 3-regime grid onto the threshold cells; q598 broadcasts the
    // 10-row centroid table (q25 precedent); q599's 2-row alpha grid
    // onto ~80 month cells
    "q597_cost_threshold_chooser", "q598_nearest_centroid_confusion",
    "q599_dp_geometric_utility",
    // round-7: bounded-frame broadcast crossJoins — q601's one-row
    // backbone threshold; q602's 4-landmark panel; q604's per-relation
    // one-row count pairs; q606/q610/q612/q618/q619/q620/q622's ≤4-row
    // parameter grids (+ one-row mean/ref/total broadcasts); q609's
    // one-row span/bottleneck rows; q611's day-pair inequality join on
    // the calendar-bounded day grid plus one-row moment broadcasts;
    // q615's one-row baseline; q616's 66-combo simplex grid and one-row
    // argmin; q617's one-row horizon/total; q623's one-row best
    "q601_ktruss_support_census", "q602_harmonic_closeness_landmarks",
    "q604_yannakakis_reduction_audit", "q606_loss_scale_range_audit",
    "q609_tandem_bottleneck", "q610_deadline_backlog_audit",
    "q611_mann_kendall_trend", "q612_page_hinkley_drift",
    "q615_event_study_did", "q616_synthetic_control_grid",
    "q617_competing_risks_cif", "q618_contribution_clipping_audit",
    "q619_subsampling_amplification", "q620_cell_suppression_plan",
    "q622_rowgroup_sizing_sweep", "q623_predicate_order_audit",
    // round-7 batch 2: q625's one-row centroid pair + one-row test
    // moments; q626's one-row 10-centroid panel and ≤100-row picked
    // set; q627's ≤10-row centroid table, 3-row budget grid, one-row
    // totals; q628's one-row margin totals and k_max; q631's one-row
    // weight threshold + 3-row cutoff grid; q632's one-row brand count
    // and outdegree totals; q635's one-row pooled-sd broadcast
    "q625_bbse_label_shift", "q626_acquisition_overlap",
    "q627_pruning_class_drift", "q628_by_vs_bh_fdr",
    "q631_core_periphery_fit", "q632_tournament_cycle_census",
    "q635_risk_pooling_audit",
    // q636–q638: calendar-bounded day-grid pair joins (≤ ~730 rows a
    // side) plus one-row mean/median/sd broadcasts — the q611 class
    "q636_hodges_lehmann_location", "q637_siegel_repeated_median",
    "q638_pairwise_difference_scale",
    // q639's 16-row split grid broadcasts onto one orders scan (all 16
    // null splits computed in one pass); q640's one-row margin totals
    "q639_aa_calibration_audit", "q640_fixed_sequence_gatekeeping",
    // q642/q643's one-row n/moment broadcasts and the dense
    // brand×12-month grid build; q644's one-row limits broadcast
    "q642_kendall_w_concordance", "q643_cronbach_alpha",
    "q644_bland_altman_agreement",
    // round-8: bounded broadcast grids and panels. q645/q647's 3-row
    // k/TTL grids over one scan; q648's 3-row depth grid over 8 probe
    // rows; q649/q650's 5/8-probe quantized panels (the q25 precedent);
    // q651/q652's one-row marginal/total broadcasts over the bounded
    // contingency; q653's one-row margins per contingency; q659's
    // one-row median broadcast over the 365-day series
    "q645_prefix_cache_reuse", "q647_ttl_staleness_audit",
    "q648_cascade_recall_sweep", "q649_reciprocal_rank_fusion",
    "q650_rank_disagreement_footrule", "q651_gk_lambda_direction",
    "q652_gk_tau_direction", "q653_cramers_v_battery",
    "q659_runs_test_daily_orders",
    // q660's one-row probe-vector broadcast (the q25/q572 panel class)
    "q660_multimodal_feature_ann",
    // q662's one-row breakpoint broadcast; q663's two one-row median
    // broadcasts (the q64 threshold class); q664's one-row margin-total
    // broadcast over the 25 brand cells (the q640 class)
    "q662_sax_motif_census", "q663_blomqvist_beta", "q664_holm_stepdown",
    // round-9: bounded broadcast grids over one scan. q667's 4-row
    // prefix grid + one-row corpus-size broadcast; q670/q671's 5-row
    // lag/block grids over the calendar-sized daily table; q672's
    // one-row customer-count broadcast onto the value histograms;
    // q673's 8-row top-word panel; q677's 3-row bits-budget grid;
    // q680's one-row threshold/day-count broadcasts (the q64 class)
    "q667_heaps_vocab_growth", "q670_variogram_madogram",
    "q671_aggregated_variance_hurst", "q672_empirical_copula_grid",
    "q673_stylometric_fingerprint", "q677_bloom_fpr_empirical",
    "q680_extremal_index_clusters",
    // q683's one-row corpus-total broadcast and dim×dim (sources ×
    // languages) densifying cross; q685-q687 inherit Backbone.edges'
    // one-row weight-threshold broadcast (the q590/q601 class), q687
    // adds its 5-row sweep grid and one-row node count
    "q683_language_evenness", "q685_partition_conductance",
    "q686_nation_homophily", "q687_conductance_sweep",
    // q688's one-row all-pairs/truth-total broadcasts over the 3-scheme
    // readout; q689's 8-row view/query panels, one-row base count, and
    // the 28-row pair enumeration (bounded lattice by construction)
    "q688_blocking_quality_audit", "q689_view_selection_exact",
    // q691's adaptive density bar is a one-row (n, 2m) broadcast per
    // peeling round (the q558 loop with q421's scalar-broadcast step)
    "q691_densest_subgraph_peel",
    // round-10 rank tests: one-row/histogram-sized broadcasts (N totals,
    // the H/z stat row) plus q694's ≤55×55 ordered-pair self-join over
    // the bounded (band, bps) joint histogram — pairs of CELLS
    "q693_kruskal_wallis", "q694_jonckheere_terpstra",
    "q695_mood_scale_test",
    // q696/q697's one-row statistic broadcasts onto the 6-year / 3-year
    // rank-sum panels (the q664 class)
    "q696_pages_l_trend", "q697_cochran_q",
    // q701's one-row seed/source broadcasts onto the per-sweep readout
    "q701_two_sweep_diameter",
    // q702's one-row theta/totals broadcasts onto the 6-term panel;
    // q703's one-row unitig census onto the degree histogram; q704's
    // one-row full-prefix NDV onto the 6-permutation panel
    "q702_maxscore_pruning_audit", "q703_debruijn_branching",
    "q704_sortkey_order_advisor",
    // q705's 12×12 banded cell join + one-row lockstep broadcast;
    // q706's one-row universe broadcast; q707's histogram-sized
    // convolution crosses (≤ distinct-daily-count rows per side) and
    // one-row total/quantile broadcasts
    "q705_banded_dtw_revenue", "q706_elias_fano_plan",
    "q707_leadtime_demand_quantiles",
    // q708's 9-row offset grid shift-joins; q710's 2-row class panel
    // and one-row pos/neg moment cross
    "q708_grid_density_census", "q710_delong_paired_auc",
    // q712's 10-row pool grid × one-row rate/argmin; q713's 3-row
    // width grid over the fingerprint projection
    "q712_dorfman_pooling_plan", "q713_fingerprint_truncation_audit",
    // q715's one-row boundary-breaks broadcast onto the one-row
    // in-block fold
    "q715_natural_runs_census",
    // round-14: q348's covered sets cov1/cov2 are ONE row each — d1/d2
    // are limit(1) picks joined back on the documents key doc_id — and
    // each row holds the union of at most 3 docs' bigram-digest sets
    "q348_max_coverage_greedy")

  test("query constructors are lazy: warm construction launches zero jobs") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    // warm pass: first touch of each parquet path fires a footer/listing
    // job (cached in Tables thereafter) — that's IO setup, not eagerness
    for ((_, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) fn(spark, sfDir)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    // Builders whose construction-time jobs are BOUNDED sketch/index/
    // fixpoint materializations, not per-row eagerness: the IVF family
    // collects k centroids (q32/q74/q113/q137/q170), connected-components
    // and PageRank run iterate-to-fixpoint with localCheckpoint
    // (q56/q75/q157/q172), bloom build aggregates a filter (q57), TF-IDF
    // takes the one-row corpus size (q44), and the q34 round-trips write
    // the source file they then read. Anything NOT listed here must
    // construct without launching a single job.
    val sanctionedEagerBuilders = Set(
      "q32_ivf_ann_topk", "q74_semantic_dedup", "q113_hard_negative_mining",
      "q137_cluster_purity", "q170_ivf_recall_sweep",
      "q56_dup_clusters", "q666_dedup_pipeline_census",
      "q75_pagerank_cosupply", "q157_dup_weight",
      "q172_dup_split_leakage", "q271_kcore_decomposition",
      "q57_bloom_semi_join", "q44_tfidf_top_terms",
      "q34_csv_source_roundtrip", "q34_json_source_roundtrip",
      "q34_orc_source_roundtrip",
      // q374/q395 localCheckpoint the (bounded, ≤ 7×7-row) transition
      // table so the 8-step unrolled iterations scan events exactly once
      "q374_markov_removal_attribution", "q395_markov_stationarity",
      // q402 localCheckpoints the ten-row knapsack item table so the
      // ten unrolled DP steps never rescan documents
      "q402_knapsack_source_budget",
      // q411/q415 localCheckpoint their edge lists (q75's pattern) so
      // the unrolled LPA/HITS rounds never rebuild the join
      "q411_lpa_communities", "q415_hits_hub_authority",
      // q592 runs q56's iterate-to-fixpoint connected components on the
      // bounded percolated backbone (localCheckpoint per round)
      "q592_percolation_robustness",
      // q466 builds the IVF index (centroid collect, the q32 pattern)
      "q466_ivf_cell_balance",
      // q484 collects the bounded 20-candidate MMR grid (the q32
      // centroid-collect pattern) and greedily selects on the driver
      "q484_mmr_diversified_retrieval",
      // q497 localCheckpoints the ≤ |brands|² duel table so the 3
      // unrolled Bradley-Terry rounds never rescan lineitem
      "q497_bradley_terry_arena",
      // q691 localCheckpoints each peeling round: its adaptive density
      // bar is a scalar broadcast per round, and Spark's eager
      // broadcast futures would otherwise recompute every uncached
      // round lineage concurrently (measured 26 s -> ~3 s at sf0.1)
      "q691_densest_subgraph_peel",
      // q689 localCheckpoints the 8-row view-size lattice so the
      // full-lineitem cube pass runs once, not once per downstream
      // reference (round-9 advice)
      "q689_view_selection_exact",
      // q700 checkpoints the ≤625-row nation edge set + each closure
      // doubling; q701 checkpoints each node-sized BFS round — nested
      // persisted AQE plans made AQE's per-stage explain render
      // combinatorially expensive (measured 700+ s driver CPU)
      "q700_scc_bowtie", "q701_two_sweep_diameter",
      // q705 checkpoints the ≤78-cell banded cost grid + each ≤12-row
      // DP diagonal (the q691/q700 flat-plan discipline)
      "q705_banded_dtw_revenue",
      // round-11 persist-in-loop retrofits (the q558 landmine sweep):
      // each iterative round frame moved from .persist() to
      // localCheckpoint(true) — q558's 4 edge-peeling rounds, q600's 3
      // walk-vector rounds, q602/q427's 3 BFS relaxation rounds, and
      // q477/q489's 3 vocabulary-sized BPE merge rounds. All per-round
      // frames are dimension-bounded (node/vocab-sized), never corpus
      "q558_kcore_peeling", "q600_katz_centrality",
      "q602_harmonic_closeness_landmarks", "q427_landmark_bfs_layers",
      "q477_bpe_merge_rounds", "q489_merge_transfer_eval",
      // q738 localCheckpoints the <=625-cell trade matrix so the top-4
      // selections and the 24-permutation scoring never re-run the
      // orders||lineitem fact join
      "q738_dedicated_lane_assignment",
      // q728 reads documents.parquet DIRECTLY (the _metadata column is
      // the point — Tables' cached reader can't expose it), so each
      // construction fires the file-listing job Tables otherwise caches;
      // q732's stat.crosstab is an EAGER API by design (it returns a
      // materialized local pivot) — both touch one bounded file / a
      // 3x2 grid, not per-row eagerness
      "q728_file_provenance_metadata", "q732_crosstab_contingency",
      // q753's SET VAR binds a data-derived parameter — the one-row
      // threshold fold runs when the variable is assigned, which IS the
      // construction step of a parameterized EXECUTE IMMEDIATE
      "q753_execute_immediate_params",
      // q745 localCheckpoints the 12-row monthly demand table before the
      // recursion — Spark's recursive step re-executes its subtree per
      // iteration, so an inline demand CTE re-scans the fact table 12×
      "q745_recursive_inventory_sim",
      // q756 localCheckpoints each level's surviving key set (the
      // 4-level unrolled peel — bounded, keys shrink geometrically)
      "q756_bbhash_level_census",
      // q755 (r13) localCheckpoints the ≤10-row dual length histogram —
      // the ONE corpus scan both Sinkhorn vector chains read (6+
      // references; without the eager checkpoint each reference
      // re-scans + re-explodes the documents table)
      "q755_sinkhorn_length_transport",
      // q759 localCheckpoints each doubled map (5 rounds, key-domain
      // bounded — the pointer-doubling frames)
      "q759_pointer_doubling_contraction")
    // the bus delivers only events posted after registration, so earlier
    // tests' jobs cannot leak into the count
    spark.sparkContext.addSparkListener(listener)
    try {
      val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
        val before = jobs.get()
        fn(spark, sfDir)
        Thread.sleep(5) // listener bus is async; give job-starts a beat
        val after = jobs.get()
        if (after > before) Some(name) else None
      }
      Thread.sleep(1500) // drain stragglers before judging
      val unsanctioned = offenders.filterNot(sanctionedEagerBuilders)
      assert(unsanctioned.isEmpty,
        s"Spark jobs launched while merely CONSTRUCTING queries (an eager " +
          s"collect()/count() hides in these builders): ${unsanctioned.mkString(", ")}")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Partition-less logical Window nodes in a query's optimized plan.
    * A `Window.orderBy(...)` with no partitionBy executes on ONE task —
    * fine over a bounded frame (a histogram, a vocabulary, a calendar),
    * a scale-killer over corpus rows. */
  private def globalWindowCount(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
        if w.partitionSpec.isEmpty => w
    }.size

  /** Windows PARTITIONED — but by keys that all originate on the
    * broadcast side of a join below them. The partition count is then
    * bounded by the broadcast row count (a probe panel, a grid, a
    * one-row total), so with corpus rows flowing through the join each
    * partition is corpus-sized: the same single-task sort the
    * partition-less gate catches, hidden behind a constant-cardinality
    * key (the round-6 q589/q548 escape). Detected on the OPTIMIZED
    * logical plan: trace each window's partition attributes down
    * through projections/aggregates; if they all land on a side whose
    * join hint is BROADCAST, the window is flagged. */
  private def broadcastKeyedWindowCount(df: org.apache.spark.sql.DataFrame): Int = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeSet}
    import org.apache.spark.sql.catalyst.plans.logical._
    def retrace(wanted: AttributeSet,
                outs: Seq[org.apache.spark.sql.catalyst.expressions.NamedExpression]): AttributeSet =
      outs.collect {
        case a: Alias if wanted.contains(a.toAttribute) => a.child.references
        case a: Attribute if wanted.contains(a) => AttributeSet(a)
      }.foldLeft(AttributeSet.empty)(_ ++ _)
    def fromBroadcast(node: LogicalPlan, wanted: AttributeSet): Boolean =
      if (wanted.isEmpty) false
      else node match {
        case p: Project   => fromBroadcast(p.child, retrace(wanted, p.projectList))
        case a: Aggregate => fromBroadcast(a.child, retrace(wanted, a.aggregateExpressions))
        case j: Join =>
          val leftB = j.hint.leftHint.exists(_.strategy.contains(BROADCAST))
          val rightB = j.hint.rightHint.exists(_.strategy.contains(BROADCAST))
          if (leftB && wanted.subsetOf(j.left.outputSet)) true
          else if (rightB && wanted.subsetOf(j.right.outputSet)) true
          else j.children.find(c => wanted.subsetOf(c.outputSet))
            .exists(fromBroadcast(_, wanted))
        case u: UnaryNode => fromBroadcast(u.child, wanted)
        case other => other.children.find(c => wanted.subsetOf(c.outputSet))
          .exists(fromBroadcast(_, wanted))
      }
    df.queryExecution.optimizedPlan.collect {
      case w: Window if w.partitionSpec.nonEmpty &&
        fromBroadcast(w.child, AttributeSet(w.partitionSpec.flatMap(_.references))) => w
    }.size
  }

  /** Node count of the largest single expression tree in the optimized
    * plan. A builder that folds an accumulator into BOTH branches of a
    * conditional doubles the tree per step — ten steps is a 2¹⁰-leaf
    * expression that Catalyst (and the oracle engine) must parse,
    * optimize and codegen; that compile bomb made round-6's q547 the
    * suite's slowest query with a handful of data rows. */
  private def maxExpressionNodes(df: org.apache.spark.sql.DataFrame): Int = {
    val sizes = df.queryExecution.optimizedPlan.flatMap(_.expressions.map(
      _.collect { case _ => 1 }.size))
    if (sizes.isEmpty) 0 else sizes.max
  }

  // queries whose partition-less windows run over PROVABLY BOUNDED frames
  // (per each query's scale-shape scaladoc): quantized-score histograms,
  // vocabularies, calendar/day grids, config grids, sketch rows, CCDFs at
  // value resolution — never corpus rows. Any query NOT in this list must
  // plan zero partition-less windows.
  private val boundedGlobalWindows: Set[String] = Set(
    // q738's row_number ranks the ≤25-row per-nation trade totals to
    // pick the 4 lanes — dimension-bounded
    "q738_dedicated_lane_assignment",
    // q155 is q198's census under other column names: its sum() OVER ()
    // spans the ≤9-row first-digit aggregate — digit-bounded
    "q155_benford_audit",
    // q757's sum() OVER () folds the 6-row bit-plane table into the
    // reconstructed total — bit-width-bounded
    "q757_bit_sliced_index_sum",
    // round-10 rank tests: doubled-rank cumulative over the ≤50-row
    // quantity value histogram (the q324 histogram-rank class, global
    // because the test pools all groups into one ranking); q702's
    // cum-UB split over the 6-term panel; q704's rank over the
    // 6-permutation panel
    "q693_kruskal_wallis", "q695_mood_scale_test",
    "q702_maxscore_pruning_audit", "q704_sortkey_order_advisor",
    // q715's boundary stitch over the blocks-summary table (corpus /
    // 8192 rows — the q372 bucket-boundary pass); q716's |d| rank
    // cumulative over the ≤300-row panel-difference histogram
    "q715_natural_runs_census", "q716_wilcoxon_signed_rank",
    // q707's lead windows over the ~2,500-row densified calendar and
    // quantile cumulative over the bounded demand support
    "q707_leadtime_demand_quantiles",
    // quantized-score / value-resolution histograms (≤ ~1001–50k bins)
    "q64_quality_threshold", "q82_decile_binning", "q479_dsir_selection",
    "q120_ks_two_sample", "q139_norm_outliers", "q146_robust_outliers",
    "q244_uplift_by_decile", "q247_wasserstein_drift",
    "q299_rare_level_collapse_plan", "q336_median_of_means",
    "q342_mean_excess_tail", "q354_t_closeness", "q381_median_order_stat_ci",
    "q405_isotonic_return_curve", "q407_roc_curve", "q417_bh_fdr_control",
    "q434_histogram_quantile_error", "q443_histogram_selectivity_qerror",
    "q448_cramer_von_mises", "q451_sharded_quantile_merge",
    "q456_online_agg_convergence", "q460_nested_percentile_fallacy",
    "q470_dkw_percentile_bands", "q505_learned_index_epsilon",
    "q520_load_shed_priority_plan",
    // vocabulary / dictionary / codebook-sized frames (distinct tokens,
    // terms, levels, channels, prefixes — never corpus rows)
    "q122_vocab_coverage", "q222_good_turing_counts", "q301_zipf_slope",
    "q338_pq_codebook", "q341_pq_adc_recall", "q387_gram_coverage_curve",
    "q394_bpe_merge_step", "q428_rake_keyphrases", "q432_sstable_prefix_plan",
    "q492_hnsw_level_plan", "q493_int8_outlier_channels",
    "q502_front_coding_plan", "q508_prf_query_expansion",
    // calendar / day / week grids (≤ a few thousand period rows)
    "q130_volume_anomaly", "q140_wow_growth", "q161_new_category_drift",
    "q176_cusum_drift", "q212_revenue_peaks", "q221_dau_mau_stickiness",
    "q246_kmv_rolling_distinct", "q294_catalog_freshness",
    "q303_seasonal_adjustment", "q307_revenue_drawdown",
    "q383_runs_test_daily_revenue", "q389_mase_forecast_eval",
    "q390_best_campaign_window", "q437_swag_sliding_max",
    "q464_watermark_laggards",
    // entity-dimension frames: customers/suppliers/parts/sources/segments
    // (dimension-table-sized keyed aggregates, ranked once)
    "q106_pareto_frontier", "q116_rfm_segmentation",
    "q117_gini_concentration", "q134_conversion_latency",
    "q147_reference_calibration", "q168_revenue_hierarchy",
    "q174_hybrid_rrf", "q175_recency_weights", "q189_rbo_rank_agreement",
    "q198_benford_audit", "q207_abc_xyz_classes", "q209_simpson_audit",
    "q210_decile_mobility", "q213_seat_apportionment",
    "q216_survival_life_table", "q217_diversified_topk",
    "q228_session_timeout_census", "q236_discount_elasticity",
    "q265_single_source_risk", "q312_consistent_hash_balance",
    "q314_keyspace_density", "q334_kaplan_meier", "q348_max_coverage_greedy",
    "q352_pinball_eval", "q372_rle_layout_plan", "q380_water_filling_quota",
    "q402_knapsack_source_budget", "q403_shard_packing_bounds",
    "q412_successive_halving", "q424_sax_motifs", "q430_fagin_ta_depth",
    "q442_index_advisor", "q447_copeland_rank_fusion",
    "q458_topk_merge_certificate", "q462_static_cache_sweep",
    "q467_bandit_replay_ope", "q497_bradley_terry_arena",
    "q70_mixture_sampling", "q90_revenue_share",
    // round-6: q528's cumulative CDF runs over the ≤ 1001-bin quantized
    // score histogram; q529's two lag windows run over the
    // calendar-sized hour series (one row per observed hour); q552's
    // demand-quantile cumulative runs over the per-day demand table
    "q528_best_of_n_quality_gain", "q529_autoscale_reactive_audit",
    "q552_newsvendor_stock_plan",
    // q566's ranking window runs over exactly 32 replicate-mean rows;
    // q573's IPF totals are global windows over the 25-cell raking table;
    // q576's moments run over 16 shard rows; q578's cutoff over the
    // calendar-bounded (cohort, age) triangle
    "q566_poisson_bootstrap_ci", "q573_ipf_raking",
    "q576_control_variate_audit", "q578_chain_ladder_ltv",
    // q582's cumulatives run over <=1024 coarse bins and the <=65536
    // cent values of ONE bin; q584's over the residual-value histogram;
    // q588's decile thresholds over the order-value histogram (q82);
    // q590's backbone threshold over the co-occurrence weight histogram
    "q582_two_pass_exact_median", "q584_conformal_coverage_audit",
    "q588_confounded_logging_audit", "q590_local_clustering_census",
    // q591's DRF capacities/denominators over 20 tenant rows; q592/q593
    // reuse q590's weight-histogram threshold window (q593 also cuts on
    // the degree histogram)
    "q591_drf_allocation_plan", "q592_percolation_robustness",
    "q593_rich_club_coefficient",
    // q595's decile thresholds over the order-value histogram (q82);
    // q597's confusion cumulatives over the <= ~80 length buckets
    "q595_front_door_adjustment", "q597_cost_threshold_chooser",
    // round-7: q601 reuses q590's co-occurrence weight-histogram
    // threshold window; q613's lag/lead run over the calendar-bounded
    // day series (the q130 class); q617's at-risk cumulative runs over
    // the ≤ ~120-row weekly exit histogram
    "q601_ktruss_support_census", "q613_turning_point_test",
    "q617_competing_risks_cif",
    // q627's pruning threshold runs over the quantized own-centroid
    // distance histogram (the q64 value-resolution class); q630's LLR
    // cumulative and day ranks run over the calendar-bounded day
    // series; q631's backbone/degree cutoffs run over weight/degree
    // histograms (the q590/q593 class)
    "q627_pruning_class_drift", "q630_sprt_purchase_share",
    "q631_core_periphery_fit",
    // q628 ranks the 25-brand statistic grid (q417's exact shape)
    "q628_by_vs_bh_fdr",
    // q636–q638: cumulative medians/quartiles over VALUE histograms of
    // day-pair statistics (Walsh averages, slopes, |diffs|) — pair
    // counts are calendar²-bounded and the histograms value-resolution
    // (the q64/q82 class)
    "q636_hodges_lehmann_location", "q637_siegel_repeated_median",
    "q638_pairwise_difference_scale",
    // q640's sequence rank and running-min gate run over the 25-brand
    // statistic grid (the q417/q628 class)
    "q640_fixed_sequence_gatekeeping",
    // round-8: q646's share-of-total runs over the ≤ ~35-row log₂ gap
    // bucket census (the q64/q82 value-histogram class)
    "q646_reuse_distance_census",
    // round-8: q659's median rank, total count, and run-boundary lag all
    // run over the ≤ 365-row daily series (the q99/q636 calendar class)
    "q659_runs_test_daily_orders",
    // q662's breakpoint ranks and word leads run over the ≤ 73-segment
    // PAA frame (calendar class); q663's medians run over the ≤ ~6k-bin
    // $100 price histogram and ≤ ~10-bin count histogram (q64/q636)
    "q662_sax_motif_census", "q663_blomqvist_beta",
    // q664's evidence ranking and stop-gate running min work on the
    // 25-brand statistic grid (the q417/q628/q640 class)
    "q664_holm_stepdown",
    // round-9: q672's quintile cutoffs run over the two VALUE-domain
    // histograms (order-count: tens of bins; spend dollars: bounded by
    // the granulated dollar domain — the q64/q663 class); q679's three
    // lag windows and q681's running prior-max run over the calendar-
    // sized daily series (the q130/q383 class); q680's threshold
    // cumulative runs over the daily-revenue value histogram and its
    // run-detection lag/cumsum over the ≤ calendar exceedance days
    "q672_empirical_copula_grid", "q679_sign_transfer_contingency",
    "q680_extremal_index_clusters", "q681_record_breaking_census",
    // q684's running margin + flip lag run over the calendar-sized
    // daily series (the q130/q383 class); q685/q686 inherit Backbone's
    // weight-histogram threshold window (the q590/q601 class); q687
    // adds the degree-histogram cumulative (value-resolution)
    "q684_lead_change_census", "q685_partition_conductance",
    "q686_nation_homophily", "q687_conductance_sweep")

  // windows partitioned by a BROADCAST-side key where the rows under
  // each partition are themselves bounded (audited per query below) —
  // not corpus-sized. The flag fires because the partition KEY
  // originates on a broadcast side; these are fine because the window
  // INPUT is already an aggregate/panel far smaller than the corpus.
  private val boundedBroadcastKeyedWindows: Set[String] = Set(
    // windows over DIMENSION-sized keyed aggregates (the corpus is
    // collapsed by a groupBy before the window): q168 runs over the
    // 25-row nation revenue grid, q205 over the supplier-per-nation
    // aggregate, q217 over the part-brand aggregate
    "q168_revenue_hierarchy", "q205_hhi_concentration",
    "q217_diversified_topk",
    // q378's keyness rank runs over the (cluster, token) aggregate — a
    // vocabulary-per-cluster frame (the sanctioned q122 class)
    "q378_cluster_keyword_labels",
    // q510's as-of running min runs over the latency CCDF (value-
    // resolution histogram) unioned with the ≤ 2·|CCDF|·3 probe grid;
    // q585's trimmed-mean cutoffs run over the per-rate value histogram
    // (the q64 class)
    "q510_tail_hedging_policy", "q585_estimator_breakdown_audit",
    // bounded panels/grids: q567 ranks the 190 pairwise ratios of a
    // 20-vector panel per dprime; q569 ranks ≤ 16 arm cells per grid row
    "q567_jl_projection_distortion", "q569_winners_curse_audit",
    // q583: exact KNN-Shapley assigns a value to EVERY train point via
    // a rank-indexed recursion (suffix sum over the full distance
    // ranking) — the per-test global sort IS the algorithm's output
    // size, bounded only by the 10-test panel. At 100 TB the suffix
    // sum would move to the q96 two-level distributed prefix form;
    // the window form is kept for the exact 10-probe audit.
    "q583_knn_shapley_valuation",
    // round-7: q610/q612's running sum+min and q622's group-assignment
    // cumulative partition by a ≤4-row broadcast grid key, but their
    // window INPUT is the calendar-bounded day series / day histogram
    // (grid × ~550 rows), never corpus rows
    "q610_deadline_backlog_audit", "q612_page_hinkley_drift",
    "q622_rowgroup_sizing_sweep",
    // q627's kept-total window partitions by the 3-row budget grid key
    // over the ≤ 10-label retention cells — 30 rows total
    "q627_pruning_class_drift",
    // q710's placement cumulative partitions by the 2-row class panel
    // over value-resolution marginals (≤ |values| rows per class)
    "q710_delong_paired_auc")

  // windows whose partition key traces to a generator output but whose
  // window INPUT is already a per-key aggregate (or otherwise bounded),
  // so each partition holds far-sub-corpus rows — audited per query
  private val boundedGeneratorKeyedWindows: Set[String] = Set(
    // q709's gaps-and-islands runs partition by (pair, diagonal) whose
    // input is the matched positions of ONE near-dup pair — bounded by
    // document length, never corpus-sized
    "q709_dup_span_localization",
    // bigram/transition RANKING over per-(head, next) COUNT aggregates:
    // one row per distinct continuation, so a partition is at most
    // vocabulary-sized (the q122 class), never corpus-sized — the
    // corpus collapsed in the groupBy below the window
    "q79_bigram_lm", "q483_speculative_acceptance",
    "q549_specdec_draft_length_sweep",
    // q182's docfreq window runs over the per-(shingle, source)
    // aggregate: ≤ |sources| rows per shingle partition
    "q182_crossdoc_shingle_mass",
    // category-level shares/ranks over per-(feature, level) counts —
    // levels-per-feature frames (q254 via stack(), which plans as a
    // Generate); q642's per-month ranks run over the 12×|brands| dense
    // grid; q434's bins (3-literal grid) window over the quantile-error
    // summary of a value-resolution histogram; q510's as-of min over
    // the latency CCDF ∪ probe grid (same audit as its entry in the
    // broadcast-keyed list)
    "q254_onehot_coverage_plan", "q642_kendall_w_concordance",
    "q434_histogram_quantile_error", "q510_tail_hedging_policy",
    // q657's STITCH window: per-token over the per-(token, shard)
    // summary — ≤ corpus/shardWidth rows per partition by construction
    // (the in-shard gap window carries the mixed (token, shard) key and
    // is not flagged); ShardedPostingSpec asserts width-invariance
    "q657_varint_posting_size",
    // q445's ntile(64) zone build is a deliberate GLOBAL sort per
    // candidate sort key (3 literal keys): equal-ROW zones are a total
    // order by definition. Kept for the exact 3-key advisor audit; at
    // 100 TB the zone build is a range-partitioned sort writing zone
    // stats (the q583 precedent: exact audit form sanctioned, scale
    // path documented)
    "q445_sortkey_zonemap_advisor")

  test("plan hygiene: no cartesian products, no unsanctioned nested loops, " +
    "no unsanctioned partition-less, broadcast-keyed, or generator-keyed " +
    "windows, no expression compile bombs") {
    // collect ALL offenders before judging — a fail-fast here hides every
    // offender after the first and turns fixing the list into whack-a-mole
    val cartesian = scala.collection.mutable.ListBuffer[String]()
    val nestedLoop = scala.collection.mutable.ListBuffer[String]()
    val globalWindow = scala.collection.mutable.ListBuffer[String]()
    val broadcastWindow = scala.collection.mutable.ListBuffer[String]()
    val generatorWindow = scala.collection.mutable.ListBuffer[String]()
    val exprBomb = scala.collection.mutable.ListBuffer[String]()
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
      val df = fn(spark, sfDir)
      val plan = df.queryExecution.executedPlan.toString
      if (plan.contains("CartesianProduct")) cartesian += name
      if (!broadcastCrossJoins(name) && plan.contains("BroadcastNestedLoopJoin"))
        nestedLoop += name
      if (!boundedGlobalWindows(name) && globalWindowCount(df) > 0)
        globalWindow += name
      if (!boundedBroadcastKeyedWindows(name) && broadcastKeyedWindowCount(df) > 0)
        broadcastWindow += name
      if (!boundedGeneratorKeyedWindows(name) && generatorKeyedWindowCount(df) > 0)
        generatorWindow += name
      val nodes = maxExpressionNodes(df)
      if (nodes > 4000) exprBomb += s"$name($nodes)"
    }
    assert(cartesian.isEmpty,
      s"CartesianProduct — a scale-killer — planned by: ${cartesian.mkString(", ")}")
    assert(nestedLoop.isEmpty,
      s"unsanctioned BroadcastNestedLoopJoin planned by: ${nestedLoop.mkString(", ")}")
    assert(globalWindow.isEmpty,
      s"unsanctioned partition-less Window (single-task sort at scale) " +
        s"planned by: ${globalWindow.mkString(", ")}")
    assert(broadcastWindow.isEmpty,
      s"Window partitioned only by broadcast-side keys (bounded partition " +
        s"count over corpus rows = corpus-sized single-task partitions) " +
        s"planned by: ${broadcastWindow.mkString(", ")}")
    assert(generatorWindow.isEmpty,
      s"Window partitioned only by generator (explode) outputs — the key " +
        s"can degenerate to one hot value (a stop word) whose partition is " +
        s"corpus-sized; shard it (the q657 pattern) or sanction with a " +
        s"row-bound audit: ${generatorWindow.mkString(", ")}")
    assert(exprBomb.isEmpty,
      s"expression tree over the 4000-node budget (compile bomb — an " +
        s"accumulator folded into both branches of a conditional?) " +
        s"planned by: ${exprBomb.mkString(", ")}")
  }

  test("generator-keyed window canary: the unsharded posting-list form IS " +
    "detected, the sharded q657 is not") {
    // the exact shape task 4 exists to reject: gap windows partitioned
    // by the bare exploded token (one hot stop-word = one corpus-sized
    // partition). varintPostingCensus(width <= 0) builds it on purpose.
    val unsharded = graft.queries.EncodingPlanQueries
      .varintPostingCensus(spark, sfDir, shardWidth = 0L)
    assert(generatorKeyedWindowCount(unsharded) > 0,
      "the generator-keyed-window detector failed to flag the unsharded " +
        "posting-list window — the hygiene gate would be blind")
    val sharded = graft.queries.EncodingPlanQueries
      .varintPostingCensus(spark, sfDir, shardWidth = 4096L)
    // the in-shard window's (token, doc_id div S) key is mixed and must
    // pass; the stitch window runs per token over the per-(token, shard)
    // SUMMARY aggregate — corpus/S rows per partition — which the
    // detector still flags by design, so q657 carries a sanction entry
    // with that bound; here we assert the flag count dropped to exactly
    // that one audited window
    assert(generatorKeyedWindowCount(sharded) == 1)
  }

  test("window gate canary: a corpus-sized global window IS detected") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val canary = Tables.documents(spark, sfDir)
      .withColumn("rk", row_number().over(Window.orderBy(col("doc_id"))))
    assert(globalWindowCount(canary) == 1,
      "the partition-less-window detector failed to flag a deliberate " +
        "corpus-sized row_number — the hygiene gate would be blind")
  }

  test("broadcast-keyed window canary: a 5-probe corpus window IS detected") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    // the round-6 q589 shape: corpus × broadcast probe panel, then a
    // window partitioned ONLY by the probe id — 5 partitions, each
    // corpus-sized
    val probes = Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") < 5).select(col("vec_id").as("pid"))
    val canary = Tables.embeddings(spark, sfDir).crossJoin(broadcast(probes))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("pid")).orderBy(col("vec_id"))))
    assert(broadcastKeyedWindowCount(canary) == 1,
      "the broadcast-keyed-window detector failed to flag a deliberate " +
        "probe-partitioned corpus window — the round-6 escape would recur")
    // and a window keyed by a STREAM-side column must NOT be flagged
    val fine = Tables.embeddings(spark, sfDir).crossJoin(broadcast(probes))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("label")).orderBy(col("vec_id"))))
    assert(broadcastKeyedWindowCount(fine) == 0,
      "the broadcast-keyed-window detector must not flag stream-side keys")
  }

  test("expression-bomb canary: an exponential CASE fold IS detected") {
    import org.apache.spark.sql.functions._
    // the round-6 q547 shape: a fold that embeds the accumulator in BOTH
    // branches — 2¹⁰ leaves after ten levels
    val chain = (0 until 10).foldLeft("CAST(1000000 AS BIGINT)") { (acc, i) =>
      s"(CASE WHEN nc % ${1L << (i + 1)} >= ${1L << i} " +
        s"THEN ($acc * 999) div 1000 ELSE $acc END)"
    }
    val canary = Tables.embeddings(spark, sfDir)
      .select(col("vec_id").as("nc")).withColumn("bomb", expr(chain))
    assert(maxExpressionNodes(canary) > 4000,
      "the expression-node counter failed to flag a deliberate " +
        "2^10-leaf CASE fold — the compile-bomb gate would be blind")
  }

  // ---- oracle-text budget (round 8) ----
  // The 4,000-node expression budget watches Spark's OPTIMIZED plan only;
  // round 6's q547 compile bomb was mirrored in its DuckDB oracle SQL,
  // which that gate cannot see. DuckDB parses/binds the oracle from
  // scratch per driver run, so an oracle whose TEXT blows up (an
  // expanded exponential fold, a generated mega-CASE) is the same defect
  // class on the other engine. 64 KB is ~4x the largest legitimate
  // oracle (q566's unrolled bootstrap-replicate chain, ~16 KB).
  private val OracleTextBudget = 64 * 1024

  test("oracle-text budget: no oracle SQL exceeds 64 KB") {
    val offenders = SparkEntry.oracleSql.toSeq.sortBy(_._1)
      .filter(_._2.length > OracleTextBudget)
      .map { case (n, sql) => s"$n (${sql.length} chars)" }
    assert(offenders.isEmpty,
      s"oracle SQL over the ${OracleTextBudget / 1024} KB text budget — " +
        s"likely a generated expression bomb the plan gate can't see: " +
        offenders.mkString(", "))
  }

  test("oracle-text budget canary: an expanded exponential fold IS over budget") {
    // the q547 bomb as DuckDB text: each level textually embeds the
    // previous level TWICE, so ten levels is ~2^10 copies of the seed —
    // exactly what an LLM "fixing" a fold by inlining would emit
    val bomb = (0 until 10).foldLeft("CAST(o_totalprice AS BIGINT)") { (acc, i) =>
      s"(CASE WHEN o_orderkey % ${1L << (i + 1)} >= ${1L << i} " +
        s"THEN ($acc * 999) // 1000 ELSE $acc END)"
    }
    val canarySql = s"SELECT $bomb AS v FROM orders"
    assert(canarySql.length > OracleTextBudget,
      "the canary bomb no longer exceeds the budget — the gate's " +
        "threshold or the canary's construction drifted")
  }
}

object QueriesSmokeSpec {

  /** Windows whose partition keys ALL trace to a Generate (explode)
    * output column below them: a generator-derived key can DEGENERATE
    * to one hot value over corpus rows — a stop word's `token`
    * partition is the entire corpus in one task sort (the q657
    * class). MIXED keys like
    * (token, doc_id div S) pass: the non-generator component bounds
    * the partition by construction. Windows over per-key AGGREGATES
    * still flag (the trace runs through Aggregate grouping keys) and
    * go on the class's `boundedGeneratorKeyedWindows` list with a
    * per-query row-bound audit. */
  private[graft] def generatorKeyedWindowCount(df: org.apache.spark.sql.DataFrame): Int = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeSet}
    import org.apache.spark.sql.catalyst.plans.logical._
    def retrace(wanted: AttributeSet,
                outs: Seq[org.apache.spark.sql.catalyst.expressions.NamedExpression]): AttributeSet =
      outs.collect {
        case a: Alias if wanted.contains(a.toAttribute) => a.child.references
        case a: Attribute if wanted.contains(a) => AttributeSet(a)
      }.foldLeft(AttributeSet.empty)(_ ++ _)
    def fromGenerator(node: LogicalPlan, wanted: AttributeSet): Boolean =
      if (wanted.isEmpty) false
      else node match {
        case p: Project   => fromGenerator(p.child, retrace(wanted, p.projectList))
        case a: Aggregate => fromGenerator(a.child, retrace(wanted, a.aggregateExpressions))
        case g: Generate =>
          val genOut = AttributeSet(g.generatorOutput)
          if (wanted.subsetOf(genOut)) true
          else if (wanted.intersect(genOut).nonEmpty) false // mixed key — bounded
          else fromGenerator(g.child, wanted)
        case u: UnaryNode => fromGenerator(u.child, wanted)
        case other => other.children.find(c => wanted.subsetOf(c.outputSet))
          .exists(fromGenerator(_, wanted))
      }
    df.queryExecution.optimizedPlan.collect {
      case w: Window if w.partitionSpec.nonEmpty &&
        fromGenerator(w.child, AttributeSet(w.partitionSpec.flatMap(_.references))) => w
    }.size
  }
}
