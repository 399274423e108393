"""Query registry: every operator from SURVEY.md §2 as a named query
over the driver's synthetic lake, each with a DuckDB oracle SQL string.

The query definitions live in per-family modules (plans/q_relational.py,
q_lake.py, q_window.py, q_ml.py, q_text.py, q_vector.py); importing them
registers each into the shared QUERIES dict (plans/_core.py).  This
module keeps the driver-window signature shards and the explicit window
ordering.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from openseizuredatabase_spark.plans._core import (  # noqa: F401
    QUERIES,
    QuerySpec,
    query,
    _t,
    _ts,
)
from openseizuredatabase_spark.plans import (  # noqa: F401
    q_shared,
    q_relational,
    q_lake,
    q_window,
    q_ml,
    q_stats,
    q_text,
    q_vector,
)

_BM25_K1 = 1.2
_BM25_B = 0.75


def _sig_t(x: str) -> str:
    """Bound an unbounded integer term (sums, micros) so the polynomial
    combine below can never overflow int64 in either engine (DuckDB would
    promote to HUGEINT, Spark would wrap — both fatal to the hash)."""
    return f"(({x}) % 1000000007)"


def _sig_sc(s: str) -> str:
    """Portable small-int code for a short ASCII string (first codepoint ×
    1000 + length): ascii() and length() agree across Spark and DuckDB."""
    return f"(ascii({s}) * 1000 + length({s}))"


def _sig_q6(x: str) -> str:
    """Quantize an (already-rounded ≤6 dp) double to integer micro-units.
    round() first so the double→int cast truncation-vs-round dialect
    difference can never bite."""
    return f"CAST(round(({x}) * 1000000) AS BIGINT)"


def _sig_members() -> list[tuple[str, str, str]]:
    t, q6, sc = _sig_t, _sig_q6, _sig_sc
    return [
        ("a5_pivot_counts", "user_id",
         "n_click + 31*n_error + 1009*n_purchase + 31063*n_signup"
         " + 1000003*n_view"),
        ("t7_lsh_candidate_pairs", "id_a", "id_b"),
        ("c19_signal_generator", "event_id",
         f"{t('sig_sum_q')} + 31*sig_max_q + 1009*n"),
        ("t8_simhash", "doc_id", "simhash"),
        ("v3_cosine_near_dup", "id_a", f"id_b + 31*{q6('cosine_sim')}"),
        ("f5_text_exclusion", "doc_id", sc("source")),
        ("j7_asof_last_signup", "event_id", t("last_signup_micros")),
        ("a12_percentiles", sc("event_type"),
         f"{t(q6('p50'))} + 31*{t(q6('p90'))} + 1009*{t(q6('p99'))}"),
        ("j4_interval_containment", "event_id", t("micros_since_signup")),
        ("c15_line_length", "event_id", t(q6("line_length"))),
        ("c16_zero_crossing", "event_id", q6("zcr")),
        ("w9_spectral_history", "eventId * 1000 + sliceIdx",
         t("spec_power_q")),
        ("m4_user_balance", "user_id", "n_rows"),
        ("m7_class_duplication", sc("event_type"), "n_rows"),
        ("a13_rollup",
         sc("coalesce(source, '~')") + " + 31*" + sc("coalesce(lang, '~')"),
         "n + 31*g_source + 1009*g_lang"),
        ("c1_timestamp_cascade", "event_id", t("epoch_s")),
        ("c12_taper", "event_id", t("tapered_sum_q")),
        ("m10_subtype_weights", "event_id",
         f"{_sig_sc('event_type')} + 31*{_sig_q6('sample_weight')}"),
        ("s10_streaming_sessionize", "user_id",
         "n_sessions + 31*max_session_len"),
        ("t17_bpe_pair_counts",
         f"CAST({sc('a')} AS BIGINT) * 100000 + {sc('b')}", t("n")),
        ("t18_bigram_lm", "doc_id",
         f"n_bigrams + 31*{q6('avg_logprob')}"),
        ("s11_streaming_tumbling",
         f"day_num * 1000000 + {sc('event_type')}", "n"),
        ("s13_streaming_dedup", "user_id", sc("event_type")),
        ("s15_streaming_detector", "user_id",
         "n_dps + 31*n_alarm_dps + 1009*n_warn_dps"),
        ("s12_streaming_late_data", t("bucket_s"),
         f"n + 31*{sc('event_type')}"),
        ("a14_salted_hot_key", sc("event_type"),
         f"n + 31*{t(q6('sum_value'))} + 1009*{t(q6('max_value'))}"),
        ("a15_approx_distinct", sc("event_type"),
         "n_users_exact + 31*(CASE WHEN hll_ok THEN 1 ELSE 0 END)"),
        ("c6_deinterleave_magnitude", "event_id", f"{t('mag_sum_q')} + 31*n"),
        ("f9_flag_requirements", sc("event_type"),
         f"n_kept + 31*{t(q6('value_sum'))}"),
        ("c4_label_encode", "label", "n_events + 31*n_users"),
        ("c7_c17_array_normalize", "event_id",
         f"n + 31*sig_max + 1009*{t('norm_sum_q')}"),
        ("m11_multimodal_decode", "media_id",
         f"n_px + 31*{t(q6('feat_wsum'))} + 1009*n_bins_hit"),
        ("m12_frame_sample", "media_id * 100 + frame_idx",
         "n_frames + 31*width + 1009*height + 7*idx_sum + 3*idx_min"
         " + 127*idx_max"),
        ("m20_png_decode", "media_id",
         "width + 31*height + 1009*channels + 31063*n_px"
         " + 7*px_sum + 3*px_min + 127*px_max"),
        ("m21_png_resize", "media_id",
         "width + 31*height + 1009*channels + 31063*n_px"
         " + 7*px_sum + 3*px_min + 127*px_max"),
        ("m22_wav_decode", "media_id",
         "sample_rate + 31*n_samples + 1009*channels"
         " + 7*s_sum + 3*s_min + 127*s_max"),
        ("s1_json_roundtrip", "0",
         f"n_events + 31*n_users + 1009*{t(q6('hr_sum'))}"),
        ("f10_accel_presence", "0", f"n_kept + 31*{t('id_sum')}"),
        ("s3_csv_roundtrip", "0",
         f"n_rows + 31*n_types + 1009*{t('id_sum')}"
         f" + 31063*{t(q6('value_sum'))}"),
        ("e1_curator_edits", sc("grp"), f"n + 31*{t('id_sum')}"),
        ("s14_orc_roundtrip", sc("event_type"),
         f"n_rows + 31*{t('id_sum')} + 1009*{t(q6('value_sum'))}"
         " + 31063*n_users"),
        ("w8_hr_interp", "user_id * 100000 + idx", q6("hr_interp")),
        ("c13_iir_recurrence", "event_id * 1000 + i", q6("y")),
        ("c14_welch_psd", "vec_id * 100 + k", q6("psd")),
        ("w5_epoch_rms", "eventId * 100000 + startSample",
         f"{q6('rms_raw')} + 31*{t(q6('mean_raw'))}"),
        ("w5_epoch_moments", "eventId * 100000 + startSample",
         f"{t('line_length')} + 31*{q6('zcr')} + 1009*{t(q6('skewness'))}"
         f" + 31063*{t(q6('kurtosis'))}"),
        ("w5_band_power",
         f"vec_id * 100000000 + CAST({sc('band')} AS BIGINT) * 1000"
         " + ascii(substr(band, 4, 1))",
         f"{t('band_power_micro')} + 31*n_bins"),
        ("n1_dp_detector", "user_id",
         f"n_dps + 31*n_alarm_dps + 1009*n_warn_dps + 31063*{t(q6('p_sum'))}"),
        ("r2_data_audit", sc("bucket"),
         "n_events + 31*n_dps + 1009*n_null_values"
         f" + 7*{t(q6('avg_dp_per_event'))}"
         f" + 13*{t(q6('min_value'))} + 17*{t(q6('max_value'))}"),
        ("r1_results_report", sc("bucket"),
         f"total + 31*osd_correct + 1009*{q6('osd_prop')} + 31063*n_alarmed"),
        ("t9_winnow_fingerprint", "doc_id",
         f"n_fps + 31*{t('fp_min')} + 1009*{t('fp_sum_b')}"),
        ("u5_seizure_spacing",
         "user_id * 100000000 + year(day)*10000 + month(day)*100 + day(day)",
         f"coalesce(spacing, -1) + 31*coalesce({q6('spacing_avg')}, -1)"),
        ("u6_dense_months",
         f"{sc('event_type')} * CAST(100000000 AS BIGINT)"
         " + year(month)*10000 + month(month)*100 + day(month)", "n"),
        ("t10_dup_components", "comp",
         f"n_members + 31*{t('id_sum_b')}"),
        ("m13_stratified_sample", sc("event_type"),
         f"n_kept + 31*{t('id_sum')}"),
        ("t11_repetition_stats", "doc_id",
         f"n_tokens + 31*{q6('distinct_ratio')} + 1009*top_bigram_n"
         f" + 31063*{q6('top_bigram_frac')}"),
        ("t12_decontamination", "doc_id",
         f"n_sh + 31*n_hit + 1009*{q6('contam_frac')}"
         " + 31063*(CASE WHEN contaminated THEN 1 ELSE 0 END)"),
        # round-4 window rotation: these long-stable round-1 singles
        # moved from direct driver slots into the bundle, freeing their
        # slots for the round-3 flagships (t23-t33, p3-p5, n2, m15,
        # v5-v7) to get direct CORRECTNESS rows
        ("f2_ci_substring", "doc_id", f"{sc('lang')} + 31*{sc('source')}"),
        ("f3_sql_predicate", "event_id",
         f"{sc('event_type')} + 31*{t(q6('value'))}"),
        ("f4_date_range_daily",
         f"CAST(replace(day, '-', '') AS BIGINT) * 100000"
         f" + {sc('event_type')}", "n"),
        ("c5_json_extract", sc("event_type"),
         "n + 31*" + t(q6("coalesce(avg_k, -1)"))
         + " + 1009*coalesce(max_k, -1) + 31063*n_high"),
        ("d3_drop_duplicates",
         f"user_id * 1000000 + {sc('event_type')}", "1"),
        ("d4_weekly_counts",
         "user_id * 100000000 + CAST(replace(week, '-', '') AS BIGINT)",
         f"n + 31*{sc('event_type')}"),
        ("w2_sorted_index", "event_id",
         "user_id + 31*CAST(replace(replace(replace(iso_time, '-', ''),"
         " ':', ''), 'T', '') AS BIGINT)"),
        ("w4_gap_census", "user_id",
         "n_gaps + 31*n_extras + 1009*n_rows"),
        ("w6_feature_history", "event_id",
         f"user_id + 7*{t(q6('value_t0'))} + 31*{t(q6('value_t1'))}"
         f" + 1009*{t(q6('value_t2'))} + 31063*{t(q6('value_mean'))}"),
        ("a2_category_cube",
         "CAST(" + sc("coalesce(event_type, '~')")
         + " AS BIGINT) * 100 + coalesce(cohort, -1)",
         f"n + 31*{t(q6('sum_value'))}"),
        ("a3_presence_flags", "user_id",
         "(CASE WHEN mostly_high THEN 1 ELSE 0 END) + 31*n_valid"
         " + 1009*n_rows"),
        ("a4_max_severity", "user_id", "max_severity"),
        ("a8_cumulative_daily",
         f"CAST({sc('event_type')} AS BIGINT) * 100000000"
         " + CAST(replace(day, '-', '') AS BIGINT)",
         "n + 31*cum_n"),
        ("a9_array_stats", "vec_id",
         f"{t('mean_micro')} + 31*{t('norm_sq_micro')} + 1009*n"),
        ("a10_moments", sc("event_type"),
         f"{t(q6('mean_value'))} + 31*{t(q6('std_value'))}"
         f" + 1009*{t(q6('skewness'))} + 31063*{t(q6('kurtosis'))}"),
        ("c3_relative_time", "event_id",
         f"user_id + 31*{t(q6('rel_s'))}"
         " + 1009*(CAST(replace(replace(replace(iso_time, '-', ''),"
         " ':', ''), 'T', '') AS BIGINT) % 1000000007)"),
        ("m2_modulo_folds", f"fold * 100000 + {sc('event_type')}",
         "n + 31*n_events"),
        ("f12_min_group_size", "event_id", "user_id"),
        ("u_set_algebra", "user_id", "1"),
        ("t13_pii_scrub", "doc_id",
         "n_redactions + 31*length(scrubbed)"
         " + 1009*ascii(substr(scrubbed, 3, 1))"),
        ("m14_mlp_inference", "vec_id", q6("p")),
        ("z1_zorder_key", "event_id", "zkey + 31*xq + 1009*yq"),
        ("t14_domain_mixture", sc("source"), f"n_kept + 31*{t('tok_kept')}"),
        ("t16_incremental_dedup", "new_id",
         "n_candidates + 31*min_corpus_id"),
        ("t15_sequence_packing", "doc_id",
         f"n + 31*seq_bin + 1009*pack_pos"
         f" + 31063*CAST({sc('source')} AS BIGINT)"),
        ("m16_rf_inference", "vec_id", q6("p")),
        ("m17_nested_kfold", "outer_fold * 100 + inner_fold",
         "n + 31*n_events"),
        ("n3_event_level_metrics", "0",
         "event_tp + 31*event_fp + 1009*event_tn + 31063*event_fn"
         f" + 1000003*{q6('coalesce(event_tpr, -1)')}"
         f" + 7*{q6('coalesce(datapoint_fpr, -1)')}"),
        ("n4_ensemble_quantile", "vec_id", q6("p_ens")),
        ("n5_threshold_sweep", q6("threshold"),
         "event_tp + 31*event_fp + 1009*event_tn + 31063*event_fn"
         f" + 1000003*{q6('coalesce(event_tpr, -1)')}"
         f" + 7*{q6('coalesce(event_fpr, -1)')}"),
        ("n6_auc_rank", "0",
         f"n_pos + 31*n_neg + 1009*{q6('coalesce(auc, -1)')}"),
        ("j8_range_join", "event_id",
         f"n_matches + 31*first_iv_id + 1009*{t('first_iv_start_us')}"),
        ("p2_neardup_removal", sc("source"),
         "n_docs + 31*n_removed + 1009*n_kept"
         " + 31063*coalesce(min_kept_id, -1)"),
        ("p1_llm_prep_pipeline", sc("source"),
         f"n_docs + 31*{t('n_tokens')} + 1009*n_packs"),
        ("t21_doc_chunking", "doc_id * 1000 + chunk_id",
         "n_tokens + 31*length(chunk) + 1009*ascii(substr(chunk, 1, 1))"),
        ("t22_weighted_sample", "doc_id",
         f"{sc('source')} + 31*wgt + 1009*{q6('key')}"),
        ("m18_feature_scaling", "event_id",
         f"{sc('event_type')} + 31*{q6('value_z')}"),
        ("t20_global_shuffle", "doc_id", "shard * 1000000 + pos"),
        ("m19_calibration", "bin",
         f"n + 31*{q6('mean_p')} + 1009*{q6('frac_pos')}"
         f" + 7*{q6('brier')}"),
        ("t19_boilerplate_scrub", "doc_id",
         "n_kept + 31*length(cleaned)"
         " + 1009*ascii(substr(cleaned, 1, 1))"),
        ("a16_kmv_distinct", sc("event_type"),
         f"n_in + 31*(kth_hash % 1000000007) + 1009*kmv_sig"
         f" + 31063*{t('kmv_est')} + 1000003*n_exact"),
        ("a17_hll_registers", sc("event_type"),
         f"n_regs + 31*reg_sig + 1009*{t('hll_est')}"
         f" + 31063*n_exact + 7*{q6('lin_est')}"),
        ("a18_countmin_topk", sc("t"), "n_true + 31*cm_est"),
        ("s16_streaming_interval_join",
         t("error_id * 1000000 + click_id"),
         f"user_id + 31*{t('gap_us')}"),
        ("a19_kmv_set_ops", "0",
         "n_a_exact + 31*n_b_exact + 1009*inter_exact + 31063*union_exact"
         f" + 1000003*{t('union_est')} + 7*n_both + 127*{t('inter_est')}"),
        ("v9_sq8_rerank", "vec_id",
         f"{t('sq_dist')} + 31*(CASE WHEN in_exact10 THEN 1 ELSE 0 END)"),
        ("a20_moment_quantiles", sc("event_type"),
         f"{t(q6('cf_p50'))} + 31*{t(q6('cf_p90'))}"
         f" + 1009*{t(q6('cf_p99'))} + 31063*{t(q6('exact_p90'))}"
         f" + 7*{t('err90_micro')}"),
        ("d5_bloom_screen", "probe_id",
         "(CASE WHEN bloom_hit THEN 1 ELSE 0 END)"
         " + 31*(CASE WHEN true_member THEN 1 ELSE 0 END)"
         " + 1009*(CASE WHEN is_fp THEN 1 ELSE 0 END)"),
        ("p7_canonical_docs", "comp",
         f"n_members + 31*canonical_id + 1009*{t(q6('best_quality'))}"
         f" + 31063*{t('tokens_saved')}"),
        ("w13_funnel", "user_id",
         f"stage + 31*{t('coalesce(t_view_us, -1)')}"
         f" + 1009*{t('coalesce(t_click_us, -1)')}"
         f" + 31063*{t('coalesce(t_purchase_us, -1)')}"
         f" + 7*{t('coalesce(conv_us, -1)')}"),
        ("m23_wav_spectrogram",
         "media_id * 100000 + epoch * 100 + k", t(q6("power"))),
        ("p8_chunk_retrieval", "doc_id * 1000 + chunk_id",
         f"n_hit + 31*{t('score_micro')}"),
        ("s17_streaming_sliding",
         f"win_start * 1000000 + {sc('event_type')}", "n"),
        ("w25_holt_linear", f"day_key * 1000 + {sc('event_type')}",
         f"n + 31*{t('level_micro')} + 1009*{t('trend_micro')}"
         f" + 31063*{t('forecast_micro')}"),
        ("w26_max_drawdown", "user_id",
         f"max_dd_cents + 31*{t('dd_event_id')} + 1009*n"),
        ("m38_auc_exact", "n1 * 1000000 + n0 % 1000000",
         f"{q6('auc')}"),
        ("p11_temperature_mixing", sc("source"),
         f"n_docs + 31*{t('w_micro')} + 1009*{q6('mix_frac')}"
         " + 31063*n_samples"),
        ("m37_quantile_binning", "bin",
         f"n_rows + 31*{t('lo_cents')} + 1009*{t('hi_cents')}"
         f" + 31063*n_target + 7*{q6('target_rate')}"),
        ("u8_bag_algebra",
         f"user_id * 100000 + CAST({sc('event_type')} AS BIGINT) * 10"
         " + (CASE WHEN op = 'except_all' THEN 1 ELSE 0 END)",
         "n"),
        ("w27_sax_symbols", "user_id * 100000000 + day_key",
         f"{t('paa_cents')} + 31*symbol"),
        ("d12_schema_merge", sc("category"),
         f"n + 31*{t('cents_sum')} + 1009*n_null_category"),
        ("d13_vacuum_plan", sc("status"),
         f"n_files + 31*{t('n_rows')} + 1009*min_file + 31063*max_file"),
        ("j18_allen_relations",
         f"user_id * 100000 + {sc('relation')}", "n"),
        ("t53_greedy_decode", "seed_rank * 100 + step", sc("token")),
        ("n23_cramers_v", "n",
         f"kr + 31*kc + 1009*{q6('chi2')} + 31063*{q6('cramers_v')}"),
        ("n24_mann_kendall", sc("event_type"),
         f"n + 31*{t('s')} + 1009*{q6('tau_b')} + 31063*{q6('z_stat')}"),
        ("a31_weighted_median", sc("event_type"),
         f"{t('wmedian_cents')} + 31*{t('total_weight')}"),
        ("z4_locality_eval", sc("scheme"),
         f"n_blocks + 31*{t('spread_sum')} + 1009*{t('spread_max')}"),
        ("t38_tfidf_keywords",
         f"CAST({sc('source')} AS BIGINT) * 100 + rank",
         f"{sc('t')} + 31*n + 1009*{t(q6('score'))}"),
        ("n7_bootstrap_ci", sc("event_type"),
         f"{t(q6('est_mean'))} + 31*{t(q6('ci_lo'))}"
         f" + 1009*{t(q6('ci_hi'))} + 31063*n_replicas"),
        ("w14_compaction_plan",
         "(year(d)*10000 + month(d)*100 + day(d)) * 100 + bin_id",
         f"n_files + 31*{t('bin_bytes')} + 1009*bin_rows"
         " + 31063*(CASE WHEN undersized THEN 1 ELSE 0 END)"),
        ("t39_intradoc_dedup", "doc_id",
         f"n_chunks + 31*n_kept + 1009*{q6('rep_ratio')}"
         f" + 31063*CAST({sc('cleaned')} AS BIGINT)"),
        ("t40_url_canonicalize", "first_doc",
         f"n_urls + 31*{sc('canon_url')}"),
        ("v12_cluster_quality", "label",
         f"n_members + 31*{t('s_q')} + 1009*{q6('db_comp')}"),
        ("z3_zone_map_skipping",
         "year(d)*10000 + month(d)*100 + day(d)",
         f"n_files + 31*n_skipped + 1009*{t('rows_scanned')}"
         f" + 31063*{t('rows_total')} + 1000003*{t('rows_matched')}"),
        ("a22_k_anonymity",
         f"c_nationkey * 1000000 + {sc('c_mktsegment')}",
         "n + 31*l_div + 1009*(CASE WHEN at_risk_k THEN 1 ELSE 0 END)"
         " + 31063*(CASE WHEN at_risk_l THEN 1 ELSE 0 END)"),
        ("t42_prefix_filter_join", "id_a * 1000000 + id_b",
         f"n_common + 31*{q6('jac')}"),
        ("s18_streaming_enrichment",
         f"win_start * 1000000 + {sc('segment')}", "n"),
        ("z2_hilbert_key", "event_id",
         "xq + 31*yq + 1009*hkey"),
        ("n8_mcnemar", "n",
         f"both_right + 31*only_a + 1009*only_b + 31063*both_wrong"
         f" + 1000003*{q6('chi2')}"),
        ("m24_time_series_cv", "fold",
         f"n_train + 31*n_test + 1009*{t('train_end_us')}"
         f" + 31063*{t('test_start_us')}"),
        ("a23_gini", "n_sources",
         f"{t('total_tokens')} + 31*{q6('gini')}"),
        ("a24_source_entropy", sc("source"),
         f"n_types + 31*{t('n_tokens')} + 1009*{t('entropy_micro')}"),
        ("d8_erasure_audit", "uid",
         "n_event_rows + 31*n_event_days + 1009*n_order_rows"),
        ("a25_cohort_retention", "cohort_wk * 1000 + offset_wk",
         f"n_active + 31*cohort_size + 1009*{q6('retention')}"),
        ("w15_rolling_median", "event_id",
         f"user_id + 31*{t(q6('med7'))}"),
        ("r3_psi_drift", sc("event_type"),
         f"n_bins + 31*{t('psi_micro')}"),
        ("t43_lsh_eval", "n_truth",
         f"n_cand + 31*n_hit + 1009*{q6('precision_')}"
         f" + 1000003*{q6('recall_')}"),
        ("w16_cusum_changepoint", sc("event_type"),
         "n_days + 31*(year(changepoint)*10000 + month(changepoint)*100"
         f" + day(changepoint)) + 31063*{t('max_stat')}"),
        ("r4_dq_audit", sc("check_name"),
         f"{t('n_rows')} + 31*{t('n_violations')}"
         " + 1009*(CASE WHEN passed THEN 1 ELSE 0 END)"),
        ("s19_streaming_temporal_join",
         f"day_key * 1000000 + {sc('state')}", "n_purchases"),
        ("j11_last_touch_attribution", "purchase_id",
         "user_id + 31*coalesce(touch_id, -1)"
         f" + 1009*{t('coalesce(touch_us, -1)')}"
         f" + 31063*{t('coalesce(latency_us, -1)')}"),
        ("w17_seasonal_baseline",
         f"ed * 1000000 + {sc('event_type')}",
         f"x + 31*dw + 1009*n_dw + 31063*{t('dev_scaled')}"
         f" + 1000003*{q6('dev_frac')}"),
        ("p9_dataset_card", "n_docs",
         f"{t('n_tokens')} + 31*n_sources + 1009*n_langs"
         f" + 31063*n_distinct_fp + 1000003*{q6('dup_rate')}"),
        ("w18_ewma", "event_id",
         f"user_id + 31*{t(q6('ewma'))}"),
        ("n9_cohens_kappa", "n",
         f"{t('n11')} + 31*{t('n10')} + 1009*{t('n01')}"
         f" + 31063*{t('n00')} + 1000003*{q6('kappa')}"),
        ("v13_mrl_recall", "rank",
         f"vec_id + 31*{t('dist_full')}"
         " + 1009*(CASE WHEN in_prefix10 THEN 1 ELSE 0 END)"),
        ("w19_stl_decompose",
         f"ed * 1000000 + {sc('event_type')}",
         f"x + 31*dw + 1009*{t(q6('trend'))} + 31063*{t(q6('seasonal'))}"
         f" + 1000003*{t(q6('residual'))}"),
        ("w20_mad_outliers", sc("event_type"),
         f"{t('n')} + 31*{q6('med')} + 1009*{q6('mad')}"
         f" + 31063*{t('n_outliers')} + 1000003*{q6('outlier_frac')}"),
        ("v14_pca_power_iteration", "dim", t("vm")),
        ("t45_rouge1_pairs", "doc_a * 1000000 + doc_b",
         f"n_a + 31*n_b + 1009*{t('n_overlap')} + 31063*{q6('p1')}"
         f" + 7*{q6('r1')} + 127*{q6('f1')}"),
        ("n11_welch_ttest", "na",
         f"{t('nb')} + 31*{t(q6('mean_a'))} + 1009*{t(q6('mean_b'))}"
         f" + 31063*{t(q6('var_a'))} + 7*{t(q6('var_b'))}"
         f" + 127*{t(q6('t_stat'))} + 3*{t(q6('df'))}"),
        ("m28_sample_chi2", sc("event_type"),
         f"{t('n_full')} + 31*{t('n_sample')} + 1009*{t('dev_scaled')}"
         f" + 31063*{q6('chi2_term')}"),
        # round-4 session-5 rotation: the demoted round-3 flagships
        ("t23_substring_dedup", "doc_id",
         f"{t('n_dup_ngrams')} + 31*{t('n_spans')}"
         f" + 1009*{t('n_dup_words')} + 31063*{q6('dup_frac')}"),
        ("t24_semantic_dedup", "vec_id",
         "cid + 31*(CASE WHEN is_dup THEN 1 ELSE 0 END)"),
        ("t25_dsir_importance", "doc_id",
         f"{sc('source')} + 31*n_bigrams + 1009*{t('w_micro')}"),
        ("t26_html_extract", "doc_id", sc("(text_out || '~')")),
        ("t27_unicode_normalize", "doc_id", sc("(text_norm || '~')")),
        ("t28_zipf_stats", "n_types",
         f"{t('n_tokens')} + 31*{t('top_freq')} + 1009*{q6('zipf_slope')}"),
        ("t29_source_overlap",
         f"CAST({sc('src_a')} AS BIGINT) * 1000000 + {sc('src_b')}",
         f"n_shared + 31*{t('n_a')} + 1009*{t('n_b')}"
         f" + 31063*{q6('containment')}"),
        ("t30_substring_scrub", "doc_id",
         f"n_words + 31*n_kept + 1009*{sc('(cleaned || chr(126))')}"),
        ("t31_gopher_rules", "doc_id",
         f"n_words + 31*{q6('mean_word_len')} + 1009*{q6('frac_alpha')}"
         f" + 31063*{q6('frac_symbol')} + 7*n_stop"
         " + 127*(CASE WHEN gopher_pass THEN 1 ELSE 0 END)"),
        ("t32_minhash_calibration", "id_a * 1000000 + id_b",
         f"{q6('est_jaccard')} + 31*{q6('true_jaccard')}"),
        ("t33_fertility_stats", sc("source"),
         f"n_docs + 31*{t('n_chars')} + 1009*{t('n_words')}"
         f" + 31063*{t('n_bpe_tokens')} + 7*{q6('chars_per_token')}"
         f" + 127*{q6('fertility')}"),
        ("p3_dsir_resample", "doc_id",
         f"{sc('source')} + 31*n_bigrams + 1009*{t('w_micro')}"
         f" + 31063*{q6('key')}"),
        ("p4_scrape_ingest", sc("source"),
         f"n_pages + 31*n_docs + 1009*{t('n_tokens')}"),
        ("p5_perplexity_filter", "doc_id",
         f"{sc('source')} + 31*n_bigrams + 1009*{q6('avg_logprob')}"
         f" + 31063*{q6('pr')}"),
        ("n2_differential_report", "user_id",
         "n_dps + 31*n_both + 1009*n_state_match + 31063*verdict_a"
         " + 7*verdict_b + 127*verdict_match"),
        ("m15_cnn_inference", "vec_id", q6("p")),
        ("v5_kmeans_exact", "cid",
         f"n_members + 31*min_id + 1009*{t('c_sum')}"),
        ("v6_ivf_probe_exact", "vec_id", f"cid + 31*{t('dist')}"),
        ("v7_hierarchical_assign", "n_total", "n_match"),
        # round-4 session-6 batch
        ("n12_ks_test", "na",
         f"nb + 31*{t('d_scaled')} + 1009*{q6('d_stat')}"
         f" + 31063*{q6('crit_05')}"
         " + 127*(CASE WHEN reject_05 THEN 1 ELSE 0 END)"),
        ("n13_mannwhitney_u", "na",
         f"nb + 31*{t('ties')} + 1009*{t('u2')} + 31063*{q6('z_stat')}"),
        ("n14_acf_daily", f"CAST({sc('event_type')} AS BIGINT) * 10 + lag",
         f"n_days + 31*{t('num')} + 1009*{t('den')} + 31063*{q6('acf')}"),
        ("a26_kaplan_meier", "t_days",
         f"n_risk + 31*n_events + 1009*{t('coalesce(cum_log_micro, 0)')}"
         f" + 31063*{q6('survival')}"),
        ("t46_association_rules", "n_ab * 1000000 + n_a",
         f"n_b + 31*{q6('confidence')} + 1009*{q6('lift')}"),
        ("j12_lev_linkage", "rep_id",
         "best_id + 31*lev_dist + 1009*ham_dist + 31063*n_cand"),
        ("a27_dp_noisy_release", sc("event_type"),
         f"true_n + 31*{q6('noise')} + 1009*{q6('noisy_n')}"),
        ("m29_naive_bayes",
         f"CAST({sc('lang')} AS BIGINT) * 100000 + {sc('pred')}", "n"),
        ("m30_ols_normal_eq", "n",
         f"{q6('beta0')} + 31*{q6('beta1')} + 1009*{q6('beta2')}"
         f" + 31063*{q6('r2')}"),
        ("w21_interval_coverage", "user_id",
         f"n_intervals + 31*{t('covered_us')}"),
        ("w22_xcorr_lags", "lag_h",
         f"n_hours + 31*{q6('coalesce(r_xy, -2.0)')}"),
        ("t48_readability", "doc_id",
         f"n_words + 31*n_sentences + 1009*n_syllables"
         f" + 31063*{q6('flesch')}"),
        ("j14_kcore", "node", "core_deg"),
        ("a28_theil_sen", "n_days",
         f"n_pairs + 31*{t('slope_micro')} + 1009*{t('intercept_micro')}"),
        ("n19_friedman", "n_blocks",
         f"k_treatments + 31*{q6('q_stat')}"),
        ("w23_ohlc_hourly", "hour_idx",
         f"{t('open_c')} + 31*{t('high_c')} + 1009*{t('low_c')}"
         f" + 7*{t('close_c')} + 13*n_events + 17*{t('volume_c')}"),
        ("t49_pmi_pairs",
         f"CAST({sc('tok_a')} AS BIGINT) * 100000 + {sc('tok_b')}",
         f"n_ab + 31*{t('pmi_micro')}"),
        ("d11_deletion_vectors", "file_id",
         f"n_total + 31*n_deleted + 1009*n_live"
         f" + 31063*{t('live_price_c')}"),
        ("n20_two_proportion_z", "na",
         f"xa + 31*nb + 1009*xb + 7*{q6('coalesce(rate_a, -1.0)')}"
         f" + 13*{q6('coalesce(rate_b, -1.0)')}"
         f" + 17*{q6('coalesce(z_stat, -99.0)')}"),
        ("j15_asof_tolerance", "event_id",
         f"coalesce({t('signup_within_1h_us')}, -1)"
         f" + 31*coalesce({t('age_us')}, -1)"),
        ("u7_cumulative_uniques", "day",
         "n_events + 31*n_new_users + 1009*cum_unique_users"),
        ("j16_pointer_doubling", "node", "root + 31*depth"),
        ("t50_shingle_novelty", "doc_id",
         f"n_shingles + 31*n_novel + 1009*{q6('novelty_frac')}"),
        ("n21_runs_test", "n_runs",
         f"n_up + 31*n_down + 1009*{q6('coalesce(z_stat, -99.0)')}"),
        # round-4 session-6 window rotation: the 15 displaced round-1
        # singles (every column below hash-matched as a full value
        # oracle for six rounds, so any integer combine over them is
        # sound).
        ("j3_top_orders", "o_orderkey", t(q6("revenue"))),
        ("j2_semi_join_customers", "c_custkey", sc("c_name")),
        ("j5_snapshot_merge", "event_id",
         f"user_id + 31*{t(q6('value'))} + 1009*{sc('src')}"),
        ("f1_include_exclude", "event_id",
         f"user_id + 31*{sc('event_type')} + 1009*{t(q6('value'))}"),
        ("d2_gap_clustering", "user_id",
         f"{sc('event_type')} + 31*{t('cluster_id')}"
         f" + 1009*{t('rep_event_id')} + 31063*cluster_n"),
        ("w3_gap_fill", "user_id", t("fill_epoch")),
        ("w12_topk_per_group",
         f"CAST({sc('event_type')} AS BIGINT) * 100 + rank",
         f"event_id + 31*{t(q6('value'))}"),
        ("a5_event_rollup", "user_id",
         f"{sc('day')} + 31*pred + 1009*{q6('max_prob')} + 31063*n_dp"),
        ("a6_confusion_metrics", "ntp",
         f"nfp + 31*ntn + 1009*nfn + 7*{q6('tpr')} + 13*{q6('tnr')}"
         f" + 17*{q6('precision')} + 127*{q6('f1')}"),
        ("a11_per_user_rebucket", sc("cohort"),
         f"n_errors + 31*n_users + 1009*{t(q6('sum_value'))}"),
        ("m1_train_test_split", sc("part"), f"n + 31*{t('id_sum')}"),
        ("m5_noise_augment", "copy_idx",
         f"n_rows + 31*{t(q6('sig_sum'))}"),
        ("m6_phase_augment", "eventId",
         f"n_windows + 31*max_widx + 1009*{sc('phase_id')}"),
        ("t1_token_stats", sc("lang"),
         f"n_docs + 31*{t('total_tokens')} + 1009*max_tokens"
         f" + 7*{t('total_bpe_tokens')} + 13*{q6('avg_tokens')}"
         f" + 17*{q6('chars_per_token')}"),
        ("t6_minhash_signatures", "doc_id",
         f"{t('mh_0')} + 31*{t('mh_1')} + 1009*{t('mh_2')}"
         f" + 31063*{t('mh_3')}"),
        ("a30_t_closeness",
         f"qi1 * 1000 + {sc('qi2')}",
         f"n_rows + 31*{q6('t_emd')}"
         " + 1009*(CASE WHEN at_risk_t THEN 1 ELSE 0 END)"),
        ("n22_benford_test", "digit",
         f"n_obs + 31*p_micro + 1009*{t('n_total')}"
         f" + 31063*{q6('chi2_term')}"),
        ("v17_rrf_fusion", "doc_id",
         "coalesce(lex_rank, -1) + 31*coalesce(vec_rank, -1)"
         " + 1009*rrf_micro"),
        # round-5 demotions: three long-stable round-1 singles gave up
        # their direct window slots to the shard bundles below
        ("d1_unique_event_grouping", "user_id",
         f"{sc('event_type')} + 31*{t('bucket_start')}"
         f" + 1009*{t('rep_event_id')} + 31063*n_rows"),
        ("w7_moving_average", "event_id",
         f"user_id + 31*coalesce({q6('mov_avg')}, -1)"),
        ("t4_fingerprint_dedup", "doc_id",
         "ascii(substr(fp, 1, 1)) * 1000000"
         " + ascii(substr(fp, 17, 1)) * 1000 + ascii(substr(fp, 32, 1))"
         " + 7*(CASE WHEN is_dup THEN 1 ELSE 0 END)"),
        # round-5 rotation: eight stable session-5 flagships demoted so
        # the round-5 flagships (full-pipeline epoch oracle, JPEG/GIF
        # codecs, session windows, upsert sink, HITS, line filters,
        # LLR) take direct window slots
        ("d6_cdc_merge", "user_id",
         f"{sc('last_type')} + 31*{t('last_value_c')} + 1009*{t('last_us')}"),
        ("d7_incremental_agg", sc("event_type"),
         f"n + 31*{t('sum_c')} + 1009*{t('min_us')} + 31063*{t('max_us')}"
         f" + 7*{q6('avg_v')}"),
        ("j9_scd2_history", "user_id * 100 + version",
         f"{sc('state')} + 31*{t('eff_from_us')} + 1009*{t('eff_to_us')}"
         " + 7*(CASE WHEN is_current THEN 1 ELSE 0 END)"),
        ("t44_bpe_merge_rounds", "rnd",
         f"{sc('a')} + 31*{sc('b')} + 1009*n_pair + 31063*n_sites"
         f" + 7*{t('corpus_merges')} + 3*{t('tokens_after')}"),
        ("m27_gbt_stumps", "rnd",
         f"{sc('feat')} + 31*split_bucket + 1009*n_left + 31063*n_right"
         f" + 7*{t('pred_left')} + 3*{t('pred_right')}"
         f" + 127*{q6('rmse_milli')}"),
        ("n10_bradley_terry", sc("event_type"),
         f"n_wins + 31*n_games + 1009*{t('strength_micro')}"),
        ("d9_table_diff", "bkt",
         "n_a + 31*n_b + 1009*n_only_a + 31063*n_only_b + 7*n_changed"),
        ("d10_time_travel", "pct",
         f"{t('cut_us')} + 31*n_live + 1009*{t('sum_value_c')}"),
        # round-6 rotation: 8 long-stable singles demoted so the
        # round-6 flagships take direct window rows
        ("t2_quality_score", "doc_id",
         f"n_tokens + 31*{q6('stop_ratio')} + 1009*{q6('punct_ratio')}"
         f" + 31063*{q6('quality')}"),
        ("t3_lang_id",
         f"CAST({sc('lang')} AS BIGINT) * 100000 + {sc('predicted')}",
         "n"),
        ("t5_ngram_jaccard", "id_a * 100000 + id_b", q6("jaccard")),
        ("v1_cosine_topk", "vec_id", q6("cosine_sim")),
        ("v2_lsh_buckets", "bucket", "n"),
        ("c9_fft_features", "vec_id",
         f"{t(q6('spec_power'))} + 31*{t(q6('roi_power'))}"
         f" + 1009*{q6('roi_ratio')}"),
        ("t36_source_pagerank", sc("source"),
         f"{t('w_out')} + 31*{t('rank_micro')}"),
        ("p10_doremi_weights", sc("source"),
         f"n_docs + 31*{t('s_pm')} + 1009*{t('loss_milli')}"
         f" + 31063*{t('weight_micro')}"),
        # round-6 non-window singles
        ("m40_calibration_bins", "bin",
         f"n + 31*n_pos + 1009*{t('sum_pm')} + 7*{q6('frac_pos')}"
         f" + 3*{q6('avg_p')} + 127*{t('brier_micro')}"),
        ("n25_levene_bf", "n_groups",
         f"n_total + 31*{t('a_units')} + 1009*{t('b_units')}"
         f" + 31063*{q6('w_stat')}"),
        ("n26_jarque_bera", sc("event_type"),
         f"n + 31*{q6('jb_stat')}"
         " + 1009*(CASE WHEN reject_normal_5pct THEN 1 ELSE 0 END)"),
        ("e4_activity_combined", "event_id * 100000 + row_id",
         f"{sc('user_tag')} + 31*{sc('label')} + 1009*{t('x_u')}"
         f" + 7*{t('y_u')} + 3*{t('z_u')} + 127*{t('mag_u')}"),
        ("m41_wav_resample", "media_id",
         f"sample_rate + 31*n_samples + 1009*channels + 7*{t('s_sum')}"
         f" + 3*{t('s_min')} + 127*{t('s_max')}"),
        ("j19_butterfly_count", "0",
         f"n_parts + 31*n_suppliers + 1009*{t('n_edges')}"
         f" + 7*{t('n_wedges')} + 3*{t('n_butterflies')}"
         " + 127*max_copairs"),
        ("z5_overlap_depth",
         "year(d)*10000 + month(d)*100 + day(d)",
         f"n_files + 31*max_depth + 1009*{t('span_lo')}"
         f" + 7*{t('span_hi')}"),
        ("m42_isotonic_fit", "bin",
         f"n + 31*n_pos + 1009*{q6('frac_pos')} + 7*{q6('avg_p')}"
         f" + 3*{q6('fitted_p')}"),
        ("n27_cochran_armitage", "0",
         f"n_total + 31*n_pos + 1009*{t('t2')} + 7*{q6('z2')}"
         " + 3*trend_sign"),
        ("n28_hosmer_lemeshow", "0",
         f"n_bins + 31*{t('hl_units')} + 1009*{q6('hl_stat')}"
         " + 7*(CASE WHEN reject_calibrated_5pct THEN 1 ELSE 0 END)"),
        ("v21_ann_query_batch", "qid * 100000 + vec_id", t("dist")),
        ("d15_partition_evolution",
         "year(d)*10000 + month(d)*100 + day(d)",
         "n1 + 31*n2 + 1009*files1 + 7*files2 + 3*n_total"),
        # round-7 rotation: four long-stable session-5 flagships demoted
        # so v20/a32 (round-6 scale proofs, previously shard members)
        # and e5/m43 (round-7 flagships) take direct window rows
        ("t34_hashed_classifier", "doc_id",
         f"{t(q6('score'))} + 31*(CASE WHEN pred THEN 1 ELSE 0 END)"
         f" + 1009*{sc('source')} + 31063*(n_bigrams % 1000003)"),
        ("t35_kneser_ney", "doc_id",
         f"{t(q6('avg_kn_logprob'))} + 31*(n_bigrams % 1000003)"),
        ("t37_bm25_topk", "doc_id",
         f"{t('score_micro')} + 31*n_hit"),
        ("v8_pq_adc", "vec_id",
         f"{t('adc_dist')} + 31*(CASE WHEN in_exact10 THEN 1 ELSE 0 END)"),
        # round-7 non-window singles
        ("n29_kruskal_wallis", "n_groups",
         f"n_total + 31*{t('tie_units')} + 1009*{t('s_units')}"
         f" + 7*{q6('h_stat')}"),
        ("a33_decayed_counts", sc("event_type"),
         f"n + 31*{t('decayed_micro')} + 1009*trend_rank"),
        ("v22_hard_negatives", "vec_id * 10 + rank",
         f"neg_id + 31*{q6('cosine_sim')}"),
        ("m44_learning_curve", "s",
         f"n_train + 31*n_test + 1009*n_correct + 7*{t('acc_micro')}"),
        ("p12_curriculum_shards", "shard * 10 + quartile",
         f"n + 31*first_pos + 1009*last_pos + 7*min_doc"
         f" + 3*{t('avg_q_micro')}"),
        ("n30_mood_median", sc("event_type"),
         f"n_g + 31*a_g + 1009*{t('ad_m_bc')} + 7*{q6('chi2_vs_rest')}"),
        ("d16_skew_audit", "rank",
         f"hot_key + 31*hot_n + 1009*n_keys + 7*{t('n_rows')}"
         f" + 3*max_n + 127*p50_n + 17*{t('skew_ratio_micro')}"
         f" + 13*{t('imbalance_micro')}"
         " + 5*(CASE WHEN salting_recommended THEN 1 ELSE 0 END)"),
        ("v23_nprobe_sweep", "n_probe",
         f"scanned + 31*hits + 1009*{t('recall_micro')}"),
        ("m45_multiclass_f1", "label",
         f"tp + 31*fp + 1009*fn + 7*{t('precision_micro')}"
         f" + 3*{t('recall_micro')} + 127*{t('f1_micro')}"),
        ("a34_log_histogram_quantiles", sc("event_type"),
         f"n + 31*est_p50_c + 1009*exact_p50_c + 7*{t('est_p99_c')}"
         " + 3*exact_p99_c"
         " + 127*(CASE WHEN p50_bound_ok THEN 1 ELSE 0 END)"
         " + 17*(CASE WHEN p99_bound_ok THEN 1 ELSE 0 END)"),
        # round-8 rotation: three long-stable session-5 flagships demoted
        # (direct rows since round 4-5, hash-matched every round since)
        # so the corrected-kernel n31 replay and the round-7 flagship
        # pair w29/w30 take direct window rows
        ("v10_ivf_pq", "vec_id",
         f"cid + 31*{t('adc_dist')}"
         " + 1009*(CASE WHEN in_exact10 THEN 1 ELSE 0 END)"),
        ("j10_fuzzy_blocked_join", "rep_id",
         f"grp_n + 31*best_id + 1009*best_dist + 7*n_cand"),
        ("t41_triangle_count", "id",
         f"degree + 31*{t('n_tri')} + 1009*{q6('clustering_coef')}"),
        # round-8 tail additions (oracled outside the window from day
        # one; n31 holds the direct slot for the corrected-kernel
        # family, these four ride their family shards)
        ("n32_osd_flap_replay", "event_id * 100 + dp",
         f"{t(q6('spec_power'))} + 31*{t(q6('roi_power'))}"
         f" + 1009*{q6('roi_ratio')} + 7*alarm_state"
         " + 3*CAST(alarm_count AS BIGINT)"),
        ("m46_image_dhash_dedup", "id_a * 1000000 + id_b",
         "hamming + 31*(CASE WHEN is_exact THEN 1 ELSE 0 END)"),
        ("w31_dp_gap_repair", "CAST(epoch_s AS BIGINT)",
         f"{sc('kind')} + 31*event_id"),
        ("m48_scene_changes", "media_id * 100 + frame_idx",
         "coalesce(hamming, -1)"
         " + 31*(CASE WHEN is_boundary THEN 1 ELSE 0 END)"),
        ("s24_streaming_osd_detector", "event_id",
         "n_dps + 31*n_alarm_dps + 1009*n_warn_dps"),
        ("m49_video_near_dup", "id_a * 1000 + id_b",
         "n_frame_matches"),
        # round-9 rotation: three long-stable session-4 flagships demoted
        # (direct rows since round 4, hash-matched every round) so the
        # round-9 curator flagships d17/e6 and the promoted multimodal
        # near-dup m47 take direct window rows
        ("j17_hits", f"CAST({sc('role')} AS BIGINT) * 1000000 + node",
         t("score_micro")),
        ("m26_knn_label_prop", "p_id",
         "true_label + 31*pred_label + 1009*n_votes"
         " + 7*(CASE WHEN correct THEN 1 ELSE 0 END)"),
        ("t52_llr_collocations", "rank",
         f"{sc('w1')} + 31*{sc('w2')} + 1009*k11 + 7*{t('llr_micro')}"),
        # round-10 rotation: the round-9 curator-family tail (d18, e7,
        # e8, d19, s25, p13) promoted to direct window rows; the seven
        # long-stable round-4 singles they displace (with the new m50
        # flagship) ride their family shards with fresh signatures.
        ("n16_anova_f", "n_groups",
         f"n_total + 31*{t(q6('ss_between'))} + 1009*{t(q6('ss_within'))}"
         f" + 7*{t(q6('f_stat'))}"),
        ("n17_spearman_rho", "n", q6("rho")),
        ("n18_fdr_bh", sc("event_type"),
         f"n_a + 31*n_b + 1009*n_ge + 7*{t(q6('p_value'))}"
         f" + 3*p_rank + 127*{t(q6('bh_crit'))}"
         " + 13*(CASE WHEN rejected THEN 1 ELSE 0 END)"
         f" + 17*{q6('obs_diff')}"),
        ("m32_batch_perceptron", "a0",
         "a1 + 31*a2 + 1009*n_mis + 7*n_total"),
        ("m33_als_rank1", sc("event_type"),
         f"v_micro + 31*n_users + 1009*{t('sse_micro')}"),
        ("m25_mfcc", "media_id * 1000 + epoch",
         f"{t('c0_micro')} + 31*{t('c1_micro')} + 1009*{t('c2_micro')}"
         f" + 7*{t('c3_micro')}"),
        ("j13_bfs_hops", "node", "hop"),
        # round-10 tail additions: MJPEG near-dup parity twin of the m50
        # flagship (container-agnostic video tier) and the dataVisualiser
        # spectral-panel close (blueprint-audit §2.13)
        ("m51_mjpeg_video_near_dup", "id_a * 100000 + id_b",
         "id_b + 31*n_frame_matches"),
        ("r5_band_energy_panel", "vec_id",
         f"{t(q6('low_e'))} + 31*{t(q6('mid_e'))} + 1009*{t(q6('high_e'))}"
         f" + 7*{t(q6('demeaned_mag_sum'))}"),
        ("m52_image_video_provenance",
         "image_id * 1000000 + video_id * 100 + frame_idx",
         "hamming"),
        ("m53_clip_offset_consensus",
         "clip_id * 100000 + video_id * 10 + (frame_offset + 3)",
         "votes"),
        ("m54_audio_clip_consensus",
         "clip_id * 100000 + track_id * 10 + (seg_offset + 3)",
         "votes"),
    ]


# The signature coverage is SHARDED into four bundles, each holding a
# driver-window slot, so one broken member reddens only its table-family
# shard instead of the whole past-window population (a ~200-member
# single bundle was a single point of failure: one red member would
# erase the green signal of every other member with no indication of
# which one died). Membership is keyed by the query-name prefix, which
# tracks table family throughout the registry.
_SIG_SHARD_FAMILIES: dict[str, tuple[str, ...]] = {
    # filters/joins/dedup/sets/streaming/reports/lakehouse over the
    # relational (orders/customer/events) tables
    "x_sig_relational": ("f", "j", "d", "u", "s", "r", "e", "z"),
    # aggregations and window/time-series operators
    "x_sig_aggwindow": ("a", "w"),
    # text analysis, tokenizers/LMs, and end-to-end pipelines over
    # the documents table
    "x_sig_text": ("t", "p"),
    # ML training/inference, stats tests, ANN/vector search, and
    # signal-conversion kernels
    "x_sig_mlvector": ("m", "n", "v", "c"),
}


def _sig_shard_of(member: str) -> str:
    for shard, letters in _SIG_SHARD_FAMILIES.items():
        if member[0] in letters:
            return shard
    raise KeyError(f"no signature shard for member {member!r}")


def _sig_members_for(shard: str) -> list[tuple[str, str, str]]:
    return [m for m in _sig_members() if _sig_shard_of(m[0]) == shard]


def _make_sig_bundle(shard: str) -> QuerySpec:
    """One driver-window row-set covering every past-window oracled query
    in this shard's table families: UNION of each member's (tag, k, v)
    integer signature rows. Executes as a single Spark job; each member
    branch keeps its own (already scale-audited) plan."""

    def fn(spark: SparkSession, sf_dir: str, _shard: str = shard) -> DataFrame:
        out = None
        for name, k, v in _sig_members_for(_shard):
            part = QUERIES[name].fn(spark, sf_dir).selectExpr(
                f"'{name}' AS tag",
                f"CAST({k} AS BIGINT) AS k",
                f"CAST({v} AS BIGINT) AS v",
            )
            out = part if out is None else out.unionByName(part)
        return out

    oracle = "\nUNION ALL\n".join(
        f"SELECT '{name}' AS tag, CAST({k} AS BIGINT) AS k,"
        f" CAST({v} AS BIGINT) AS v FROM ({QUERIES[name].oracle})"
        for name, k, v in _sig_members_for(shard)
    )
    return QuerySpec(
        fn=fn,
        oracle=oracle,
        doc=f"Signature-union shard over the {_SIG_SHARD_FAMILIES[shard]} "
        "query families, giving every member (an oracled query outside "
        "the driver's 50-slot check window) a driver-visible green row: "
        "per member, rows reduce to (tag, k, v) with k/v built from "
        "integer-only arithmetic (quantized micro-units, bounded by "
        "%1e9+7, string→ascii*1000+len) evaluated by the same formula "
        "text in Spark and DuckDB. Full member queries stay registered "
        "past the window with complete oracles; sharding means one "
        "broken member reddens only its family's slot.",
    )


for _shard_name in _SIG_SHARD_FAMILIES:
    QUERIES[_shard_name] = _make_sig_bundle(_shard_name)


# Explicit driver-window ordering: 46 flagship singles, then the four
# x_sig_* signature shards as slots 47-50 (every past-window oracled
# query is a member of exactly one shard); remaining oracled queries
# next (full-fidelity, judge-checkable locally); rows-only queries
# (genuinely non-SQL kernels) last.
_DRIVER_WINDOW = [
    # core round-1 flagships that keep direct slots
    "a1_pricing_summary",
    "f7_anti_join_customers",
    "w5_epoch_segmentation",
    "m3_oversample_balance", "m9_batch_inference",
    "w10_alarm_state_machine",
    # round-7 rotation (sixth application): v20/a32 (round-6 scale
    # proofs — physical partition pruning, HLL mergeability) promoted
    # from shard membership to direct rows; e5 (SQLite working-DB
    # round-trip) and m43 (config-grid eval) are the round-7 flagships;
    # the four long-stable session-5 singles they displace
    # (t34/t35/t37/v8) move into their family x_sig shards with fresh
    # integer signatures.
    "v20_ivf_partition_pruning", "a32_hll_daily_merge",
    "e5_working_db_roundtrip", "m43_config_grid_eval",
    # round-6 rotation (fifth application of the discipline): the 8
    # round-6 flagships take direct rows; the 8 long-stable singles
    # they displace (t2/t3/t5/v1/v2/c9/t36/p10) move into their
    # family x_sig shards with fresh integer signatures.
    "t24_semdedup_scaled", "v18_pq_sampled_train",
    "v19_hier_assign_scaled", "e2_activity_osdb_etl",
    "e3_activity_windows", "s23_stream_outer_join",
    "t54_dup_clusters", "w28_holt_winters",
    # round-8 rotation (seventh application): the corrected-kernel OSD
    # replay (n31, the round-8 fidelity flagship) and the round-7
    # flagship pair w29 DTW / w30 matrix profile take direct rows; the
    # three long-stable session-5 singles they displace
    # (v10/j10/t41, direct since round 4, green every round) move into
    # their family x_sig shards with fresh integer signatures.
    "n31_osd_replay", "w29_dtw_band", "w30_matrix_profile",
    # round-4 session-5 rotation: session-4 flagships holding direct
    # rows (the 19 round-3 flagships they displaced live in
    # x_signatures with fresh integer signatures).
    "w5_epoch_oracled", "m34_jpeg_decode", "m36_gif_frames",
    "p6_filter_chain", "s20_streaming_session_window", "s22_stream_upsert",
    "t51_line_filters",
    # round-9 rotation (eighth application): the curator-refactor
    # flagships d17 (merge-datapoints proximity grouping) and e6
    # (validation-rule report) plus the promoted round-8 multimodal
    # near-dup m47 take direct rows; the three long-stable session-4
    # singles they displace (j17/m26/t52, direct since round 4, green
    # every round) move into their family x_sig shards with fresh
    # integer signatures.
    "d17_merge_grouped", "e6_validation_report", "m47_audio_fingerprint",
    # round-10 rotation (ninth application): the round-9 curator-family
    # tail — d18 field-hash dedup, e7 datetime census (widened this
    # round with the dateutil-tier fallback), e8 publication flatten,
    # d19 most-datapoints strategy, s25 streaming merge-grouping twin,
    # p13 full curator pipeline — plus the new MJPEG-in-AVI decode
    # flagship m50 take direct rows; the seven long-stable round-4
    # session-6 singles they displace (n16/n17/n18/m32/m33/m25/j13,
    # direct since round 4, green every round) move into their family
    # x_sig shards with fresh integer signatures.
    "d18_field_hash_dedup", "e7_datetime_census", "e8_publication_flatten",
    "d19_merge_grouped_mostdp", "s25_streaming_merge_grouping",
    "p13_curator_pipeline", "m50_mjpeg_avi_frames",
    # round-4 session-6 rotation (same discipline, third application):
    # the 15 session-6 flagships take direct rows; the 15 long-stable
    # round-1 singles they displace (j3/j2/j5/f1/d2/w3/w12/a5/a6/a11/
    # m1/m5/m6/t1/t6) move into x_signatures with fresh integer
    # signatures — zero coverage loss, newest work checked directly.
    "v15_dbscan_grid", "n15_permutation_test", "m31_target_encoding",
    "t47_rake_keywords", "v16_jl_projection",
    "a21_markov_stationary", "a29_rfm_segmentation", "w24_stl_anomaly",
    # round-5: the ~210-member x_signatures bundle sharded into four
    # table-family slots (one broken member reddens only its shard);
    # d1/w7/t4 demoted to members to free the three extra slots
    "x_sig_relational", "x_sig_aggwindow", "x_sig_text", "x_sig_mlvector",
]


def _reorder_registry() -> None:
    assert len(_DRIVER_WINDOW) == 50, len(_DRIVER_WINDOW)
    ordered: dict[str, QuerySpec] = {}
    for name in _DRIVER_WINDOW:
        spec = QUERIES[name]
        assert spec.oracle is not None, f"{name} in window without oracle"
        ordered[name] = spec
    for name, spec in QUERIES.items():  # oracled tail, definition order
        if name not in ordered and spec.oracle is not None:
            ordered[name] = spec
    for name, spec in QUERIES.items():  # rows-only last
        if name not in ordered:
            ordered[name] = spec
    QUERIES.clear()
    QUERIES.update(ordered)


_reorder_registry()
