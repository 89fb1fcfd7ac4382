"""Declared query inventory — the correctness surface (SURVEY §2).

Each entry pairs a Spark implementation with an equivalent ANSI-SQL oracle
string (DuckDB-runnable). The driver hash-compares both at sf0.01; keys
without an oracle get a rows-only check (genuinely non-SQL-expressible ops).

Determinism rules used throughout (so value hashes match bit-for-bit):
- SUMs over raw 2dp money columns go through DECIMAL(18,2) (exact
  accumulation in both engines), then cast back to double.
- PRODUCTS are multiplied IN decimal (``relational.drev``): inputs are
  cast to decimal BEFORE the multiply, so no double product is ever
  rounded to a coarser decimal scale — a double→decimal(18,2) cast of a
  4dp product rounds at the .005 boundary, where Spark and DuckDB can
  legitimately disagree on the nearest binary double (the r4 b75
  one-cent bug; property-tested in tests/test_properties.py).
- float32 inputs (embeddings) are cast to double BEFORE any decimal
  cast: DuckDB's FLOAT→DECIMAL scales in float32 (~8e-9 error).
- Remaining float outputs are rounded (4-6 dp) on BOTH sides; float
  ARGMAX outputs are margin-gated (d03g) so boundary rows can't flip.
- Ties in any top-k / row_number are broken by a unique key.
- Integer sums in oracle SQL are CAST(... AS BIGINT): DuckDB sums
  integers into HUGEINT, which lands in pandas as float64 and fails the
  driver's representation hash even when every value matches.
"""

from __future__ import annotations

import atexit
import glob
import math
import os
import shutil
import tempfile
from dataclasses import dataclass
from typing import Callable, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession


@dataclass
class Query:
    name: str
    spark: Callable[[SparkSession, str], DataFrame]
    # ANSI SQL for DuckDB; None → rows-only check. A zero-arg callable is
    # resolved lazily at oracle_sql() time — used by the literal-table
    # oracles (pyoracle.py) whose VALUES are computed from the data by an
    # independent Python model implementation.
    oracle: Optional[str | Callable[[], str]]
    doc: str = ""

    def oracle_text(self) -> Optional[str]:
        return self.oracle() if callable(self.oracle) else self.oracle


_REGISTRY: dict[str, Query] = {}


def register(name: str, oracle: Optional[str | Callable[[], str]], doc: str = ""):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        _REGISTRY[name] = Query(name=name, spark=fn, oracle=oracle, doc=doc)
        return fn

    return deco


# Catalog cache: file listing + footer schema per (session, path) — the
# equivalent of a catalog's table binding (DuckDB's oracle views bind the
# file once at view creation, too). The DataFrame handle is lazy/immutable,
# so sharing it across queries is safe.
_LOAD_CACHE: dict[tuple[int, str], DataFrame] = {}


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    key = (id(spark), f"{sf_dir}/{table}.parquet")
    if key in _LOAD_CACHE:
        return _LOAD_CACHE[key]
    # Defensive: the caller's session (e.g. the verification driver's) may
    # lack our session defaults; both confs are runtime-settable.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.datetimeRebaseModeInRead", "CORRECTED")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(f"{sf_dir}/{table}.parquet")
    # events.ts is parquet TIMESTAMP(NANOS): read as long (see session conf)
    # and convert to microsecond timestamp (truncating, as DuckDB does).
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    for field in df.schema.fields:
        if field.name == "ts" and isinstance(field.dataType, T.LongType):
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    _LOAD_CACHE[key] = df
    return df


# Stream-replay harness: the c* entries check the exactly-once, in-order
# micro-batch contract by replaying an input as a file stream into a
# managed store. Every directory an entry stages (stores, checkpoints,
# drop dirs) is a scratch root; the lazy frame an entry returns still
# reads from it, so roots are removed at interpreter exit, not on return.
_SCRATCH_ROOTS: list[str] = []


def _remove_scratch_roots() -> None:
    while _SCRATCH_ROOTS:
        shutil.rmtree(_SCRATCH_ROOTS.pop(), ignore_errors=True)


atexit.register(_remove_scratch_roots)


def scratch_root(prefix: str) -> str:
    """A fresh temporary directory, removed at interpreter exit."""
    root = tempfile.mkdtemp(prefix=prefix)
    _SCRATCH_ROOTS.append(root)
    return root


# mtime of the first written batch file (any fixed past instant works)
_REPLAY_EPOCH = 1_700_000_000


def replay(spark: SparkSession, batches: Sequence[DataFrame | str]) -> DataFrame:
    """Replay ``batches`` as a streaming parquet source, one micro-batch
    per batch in list order (``maxFilesPerTrigger=1``).

    A batch is a DataFrame (written as one file) or the path of an
    existing parquet file (symlinked, never copied). The file source
    orders new files by mtime, so each written file gets an mtime pinned
    one second past the batch before it. A symlink reports its target's
    mtime, which is not ours to pin: a path batch must already be newer
    than its predecessor, and an out-of-order one raises."""
    from basis_devkit_spark.streaming.ops import read_stream_directory

    root = scratch_root("bds_replay_")
    drop = os.path.join(root, "drop")
    os.makedirs(drop)
    mtime = _REPLAY_EPOCH
    for i, batch in enumerate(batches):
        dst = os.path.join(drop, f"{i:05d}.parquet")
        if isinstance(batch, str):
            os.symlink(os.path.abspath(batch), dst)
            target_mtime = os.stat(dst).st_mtime
            if i and target_mtime <= mtime:
                raise ValueError(f"batch {i} ({batch}) is older than batch {i - 1}")
            mtime = target_mtime
        else:
            stage = os.path.join(root, f"stage_{i}")
            batch.coalesce(1).write.parquet(stage)
            os.replace(glob.glob(os.path.join(stage, "part-*.parquet"))[0], dst)
            mtime = math.floor(mtime) + 1
            os.utime(dst, (mtime, mtime))
    schema = spark.read.parquet(os.path.join(drop, "00000.parquet")).schema
    return read_stream_directory(spark, drop, "parquet", schema, max_files_per_trigger=1)


def drain(writer) -> None:
    """Start the query ``writer`` builds, process every available input,
    and always stop it."""
    query = writer.start()
    try:
        query.processAllAvailable()
    finally:
        query.stop()


# Round-5 sample priority: the 55 queries NEVER sampled by any driver
# round (CORRECTNESS_r01..r04 union), stable-partitioned to the front of
# the existing risk ranking; previously-sampled queries follow in their
# prior order. The FULL inventory is swept every round regardless
# (tools/sweep_correctness.py exact-hash mode, artifact committed).
_SAMPLE_PRIORITY = [
    # -- pinned first: d28 and c18 run the fused pagerank round (c18 also
    # the stream-replay harness) that no driver sample has covered yet;
    # d31 has been absent from every recent sample.
    "d28_pagerank_fixed_point",
    "c18_stream_pagerank_maintenance",
    "d31_bpe_tokenized_packing",
    # -- r13 front block: c32 streaming calibration maintenance is new;
    # d65/d50/d58/e17/d05g/d48/d48b/d48c re-front-loaded after the r13
    # rework (bucketed ECDF rank, sketch dial + null-safe group joins,
    # ewma NULL parity, mp3 footer, PSL wildcards/exceptions); e18
    # re-front-loaded after the recursive-CTE absorption fold.
    "e22_cusum_changepoints",
    "d82_source_overlap_matrix",
    "d83_hard_negative_mine",
    "c35_stream_cusum_maintenance",
    "e23_cuped_readout",
    "d84_fim_split",
    "d85_readability",
    "d86_textrank_keywords",
    "d87_fuzzy_decontaminate",
    "c36_stream_overlap_sketch_maintenance",
    "d88_kn_trigram_lm",
    "e24_poisson_bootstrap_ci",
    "e25_poisson_bootstrap_ratio_ci",
    "c37_stream_kn_counts_maintenance",
    "d89_unigram_lm_fit",
    "d90_unigram_fertility",
    "c38_stream_unigram_fit_maintenance",
    "e26_msprt_always_valid",
    "d92_kcore_decomposition",
    "d05j_exif_tiff_parse",
    "e27_power_mde_readout",
    "c32_stream_calibration_maintenance",
    "c33_stream_domain_profile_maintenance",
    "c34_stream_novelty_gate",
    "d75_canonical_url",
    "d79_matryoshka_truncation_recall",
    "d80_snapshot_novelty",
    "d81_group_split",
    "d05i_ogg_opus_parse",
    "d76_paragraph_dedup",
    "d77_encoding_signals",
    "d78_script_profile",
    "e21_periodicity_signals",
    "d65_quality_ecdf",
    "d50_winsorize",
    "d58_robust_outliers",
    "e17_ewma_control",
    "d05g_mp3_frame_parse",
    "d48_registrable_domain",
    "d48b_domain_cap",
    "d48c_url_features",
    "e18_markov_attribution",
    # -- r8 front block. NEW queries: c16 streaming sketch maintenance,
    # d27 count-min, d26 bloom decontamination, d25 HLL sketch, d24
    # deterministic quality filter, c15 streaming quantized-index
    # ingest, d23 end-to-end curation pipeline, d20-d22 (composed ANN,
    # perplexity buckets, mixture weights). d19 was registered in r7 but
    # omitted from this list, so the driver has never sampled it; d16
    # gained the dimension-mismatch guard, d17 the term-lowercasing fix,
    # and the d02 minhash family the cache-lifetime rework — all code
    # the r7 sample predates.
    # -- r10 front block: d37 indexed BPE apply, d38 JL→IVF composed
    # index, d39 hashed-logreg language ID are new; c17 was registered
    # in r8 but omitted from this list (the d19 failure mode again) —
    # tests/test_inventory_imports.py now asserts every c*/d* query
    # appears here.
    # -- r12 front block: d48 registrable domain (PSL eTLD+1), d48b
    # per-domain cap on the newly BOUNDED grouped reservoir; the
    # reservoir/stratified family (d46, c25, d08) re-front-loaded after
    # the r12 merge-tree rework of their shared top-k aggregation.
    # -- r12 continuation block (second session of the round): the 22
    # new queries land up front — robust stats (d58, d65), time series
    # (e17), clustering (d59, d66, c28), corpus health (d60, d62, d64,
    # c29), graph communities (d61), containment (d63), multimodal
    # (d05g, d05h), storage (a35 clone, a36 incremental views),
    # attribution (e18, e19, e20), and the boundary-correct streaming
    # joins/counters (c30, c31).
    "d59_kmeans_clusters",
    "d60_char_entropy",
    "d61_label_propagation",
    "c28_stream_kmeans_profile_maintenance",
    "d62_zipf_fit",
    "d63_containment_pairs",
    "c29_stream_zipf_maintenance",
    "a35_clone_shallow",
    "d64_source_kl",
    "c30_stream_outer_interval_join",
    "a36_incremental_view_maintenance",
    "d05h_webp_dimensions",
    "e19_retention_decay",
    "d66_cluster_top_terms",
    "e20_transition_entropy",
    "c31_stream_transition_maintenance",
    "d67_neardup_cluster_qa",
    "d02k_minhash_quality_keeper",
    "a33_stats_drift",
    "c26_stream_domain_cap_maintenance",
    "e16_touch_attribution",
    "d05f_mp4_ftyp_parse",
    "d49_graph_triangles",
    "d49b_clustering_coefficient",
    "d51_calibration_bins",
    "a34_expectations",
    "c27_stream_expectations_monitor",
    "d52_oov_rate",
    "d53_ann_recall_report",
    "d54_embedding_drift",
    "d08_stratified_sample",
    "d55_strip_html",
    "d56_lsh_calibration",
    "d57_domain_profile",
    # -- r11 front block: d42 chains d40 counts into d41 shuffled
    # packing (the flagship example's packing stage); c23 streams
    # incremental packing from a persisted one-row cursor.
    "d42_tokenized_shuffled_packing",
    "c23_stream_incremental_packing",
    "c24_stream_tokenize_pack",
    "d43_bpe_roundtrip",
    "d05e_flac_streaminfo_parse",
    "d44_repetition_signals",
    "e15_dau_wau_stickiness",
    "d45_tokenizer_fertility",
    "d46_stratified_weighted_reservoir",
    "c25_stream_reservoir_maintenance",
    "d47_script_profile",
    "c17_stream_hist_maintenance",
    "d37_bpe_indexed_tokens",
    "d38_jl_ivf_quantized_topk",
    "d39_langid_softmax",
    "c20_stream_jl_index_ingest",
    "c21_stream_bpe_vocab_maintenance",
    "d40_bpe_counts_indexed",
    "d41_shuffled_packing",
    "c22_stream_tokenized_counts",
    # -- r9 front block: c18 stream pagerank + d33 batched BPE are new.
    "c19_stream_dsir_maintenance",
    "d36_jl_ann_topk",
    "d35_jl_projection",
    "d34_dsir_importance_scores",
    "d33_bpe_batched_merges",
    "d32_hist_quantile_sketch",
    "d30_bpe_learn_merges",
    "d29_pq_topk",
    "c16_stream_sketch_maintenance",
    "d27_count_min_probe",
    "d26_decontaminate_bloom",
    "d25_hll_sketch_distinct",
    "d24_deterministic_quality_filter",
    "c15_stream_quantized_index_ingest",
    "d23_quality_pipeline",
    "d21_lm_quality_buckets",
    "d22_source_mixture_weights",
    "d20_ivf_quantized_topk",
    "d19_bigram_lm_score",
    "d16_quantized_ann_topk",
    "d17_bm25_topk",
    "d02b_minhash_dedup",
    "d02e_duplicate_clusters",
    "d02i_duplicate_cluster_stats",
    # -- r7 front block (d11b new; d14 suspect-phase restructure; the
    # ANN/semantic queries' broadcast-relation probe form; minhash
    # join-shape rework). One entry per query — it feeds an
    # insertion-ordered dict; duplicates are kept out for clarity.
    "d18_hybrid_rrf",
    "d11b_sequence_packing_tokcol",
    "d14_exact_substring_dedup",
    "d15_ann_index_join",
    "c14_stream_ann_index_ingest",
    "d03h_ann_join",
    "d03c_ivf_topk",
    "d03d_ivf_topk_kmeans",
    "d02g_semantic_dedup",
    "d02h_incremental_minhash_dedup",
    "b20b_having",
    "b21b_multi_distinct",
    "b24b_median",
    "b36b_union_all",
    "b40b_date_trunc_variants",
    "b40c_extract",
    "b41b_trig_funcs",
    "b42c_sequence_ops",
    "b71_tpch_q6_forecast_revenue",
    "e12_experiment_srm",
    "b48_grouped_map",
    "d11_sequence_packing",
    "d12_pii_redaction",
    "d13_shard_plan",
    "a28_zorder_pruned_read",
    "a29_bucketed_colocated_join",
    "a30_vacuum_retention",
    "b59_tpch_q5_regional_revenue",
    "b60_tpch_q10_returned_items",
    "b61_tpch_q18_large_orders",
    "b62_tpch_q14_type_revenue_share",
    "b63_tpch_q7_nation_trade",
    "b64_tpch_q19_disjunctive_filter",
    "d03e_dot_topk",
    "d03f_l2_topk",
    "d04p_normalize_text",
    "d09_salted_agg",
    "c10_stream_stream_interval_join",
    "c11_stream_upsert_aggregate",
    "a27_parallel_graph_run",
    "b39c_edit_distance",
    "b56_bitwise_ops",
    "b57_orc_roundtrip",
    "b58_url_funcs",
    "c09_stream_ingest_exactly_once",
    "c08_incremental_rollup",
    "a24_component_binding",
    "a25_stats_pruned_read",
    "a26_write_expectations",
    "d01b_text_exact_dedup",
    "d02f_chunk_dedup",
    "d04l_ngram_counts",
    "d04m_cross_doc_dup_ngrams",
    "d04n_token_budget_sample",
    "d04o_chunk_documents",
    "d05c_byte_histogram",
    "d06d_normalize_embeddings",
    "b51_recursive_cte",
    "b54_lateral_join",
    "b53_unpivot",
    "b55_try_functions",
    "b52_ntile_ignore_nulls",
    "b14b_in_subquery",
    "b14c_scalar_subquery",
    "b14d_not_exists",
    "b26c_grouping_sets",
    "b28b_pivot_sum",
    "b39b_string_funcs2",
    "e01_sessionize",
    "e02_funnel",
    "e03_retention_cohorts",
    "e04_event_transitions",
    "e05_conversion_latency",
    "e06_session_paths",
    "e02b_funnel_within_window",
    "e07_rfm_profiles",
    "e08_time_gapfill",
    "e08b_time_gapfill_interp",
    "e09_zscore_anomalies",
    "e10_inter_event_gaps",
    "c13_stream_static_enrich",
    "e13_experiment_readout",
    "e14_activity_concentration",
    "a31_dml_delete_update",
    "a32_change_feed",
    "e11_trailing_window_rate",
    "b77_group_by_all",
    "b78_numeric_profile",
    "b79_scd2_dimension_merge",
    "b80_scd2_point_in_time_lookup",
    "d04t_gopher_rules",
    "d04u_weighted_reservoir",
    "d05d_wav_header_parse",
    "d06e_label_centroids",
    "d06f_embedding_standardize_fit",
    "d03g_nearest_centroid_confusion",
    "d02j_source_vocab_overlap",
    "d07b_multi_benchmark_contamination",
    "b72_tpch_q8_market_share",
    "b73_intersect_except_all",
    "b74_tpch_q9_profit",
    "b75_tpch_q3_bench_flagship",
    "b76_topk_algebraic_rewrite",
    "b70_tpch_q21_waiting_supplier",
    "b67_tpch_q17_small_qty_revenue",
    "b65_tpch_q4_priority_check",
    "b66_tpch_q13_order_distribution",
    "b69_tpch_q15_top_supplier",
    "b68_tpch_q22_dormant_customers",
    "c12_stream_neardup_collapse",
    "d04q_drop_repeated_lines",
    "d04r_trained_quality_filter",
    "d04s_quality_weighted_sample",
    "d10_corpus_drift",
    "a01_table_scan",
    "a03_read_sql",
    "a05_upsert",
    "a06_replace",
    "a13_stream_consume",
    "a08_execute_sql_ctas",
    "a07_truncate",
    "a09_version_rollback",
    "a02_read_chunks",
    "a04_append",
    "a06b_partitioned_store",
    "a09b_time_travel",
    "a14_stream_checkpoint",
    "a15_stream_seek",
    "a17_state_persistence",
    "a19_rerun_chunked",
    "a20_parameters",
    "a22_webhook_ingest",
    "a23_cron_schedule",
    "c03_tumbling_window",
    "c06_late_data_filter",
    "c04_sliding_window",
    "c05_session_window",
    "c07_stateful_dedup",
    "d01_exact_dedup",
    "d02_ngram_jaccard_pairs",
    "d02c_simhash",
    "d03_similarity_topk",
    "d03b_lsh_topk",
    "d06_embedding_norms",
    "d04_text_stats",
    "d04b_lang_id",
    "d04c_quality_score",
    "d04d_fingerprint",
    "d05b_media_sniff",
    "d05_multimodal_plumbing",
    "d04e_tfidf",
    "d02d_embedding_near_dup",
    "d06b_quantize_int8",
    "d06c_corpus_embedding_stats",
    "d04i_redact_pii",
    "d04j_repetition_stats",
    "d04h_data_mixture",
    "d04g_sequence_pack",
    "d04f_filter_corpus",
    "d07_decontaminate",
    "d04k_train_val_test_split",
    "b02_csv_scan",
    "b02b_jsonl_scan",
    "b01_parquet_scan_pushdown",
    "b07_project_compute",
    "b08_filter_predicates",
    "b09_distinct",
    "b10_case_cast_coalesce",
    "b11_deterministic_sample",
    "b12_join_inner",
    "b13_join_left_outer",
    "b13b_join_full_outer",
    "b14_semi_anti_join",
    "b15_cross_join",
    "b16_theta_join",
    "b17_broadcast_join",
    "b18_asof_join",
    "b19_interval_join",
    "b20_groupby_agg",
    "b21_count_distinct",
    "b22_approx_count_distinct",
    "b23_stat_aggs",
    "b24_percentiles",
    "b25_collect_string_agg",
    "b26_rollup",
    "b26b_cube",
    "b27_filtered_agg",
    "b28_pivot",
    "b29_ranking_windows",
    "b30_lag_lead",
    "b31_window_frames",
    "b32_cume_dist_percent_rank",
    "b33_order_nulls",
    "b34_limit_offset",
    "b35_topk_per_group",
    "b36_union",
    "b37_intersect",
    "b38_except",
    "b39_string_funcs",
    "b40_date_funcs",
    "b41_math_funcs",
    "b42_array_funcs",
    "b42b_array_hof",
    "b43_map_funcs",
    "b44_json_funcs",
    "b45_null_funcs",
    "b46_hash_funcs",
    "b47_pandas_udf_scalar",
    "b49_flatmap_udtf",
    "b50_pandas_udaf",
]


def all_queries() -> dict[str, Query]:
    # import side-effect: registration
    from basis_devkit_spark.queries import (  # noqa: F401
        analytics,
        framework,
        relational,
        relational_ext,
    )

    ordered: dict[str, Query] = {}
    for name in _SAMPLE_PRIORITY:
        if name in _REGISTRY:
            ordered[name] = _REGISTRY[name]
    for prefix in ("a", "c", "d", "e", "b"):
        for name, q in _REGISTRY.items():
            if name.startswith(prefix) and name not in ordered:
                ordered[name] = q
    for name, q in _REGISTRY.items():  # anything with an unexpected prefix
        ordered.setdefault(name, q)
    return ordered
