"""The /verify drive (see .claude/skills/verify/SKILL.md): replicates
the driver's flow in a fresh process — vanilla hostile-timezone
session, entry() smoke, Spark-vs-DuckDB oracle compare over a
family-spanning sample (kept in sync with each round's new queries),
and the ETL write-path probe (exactly-once + quarantine + day
partitions).

Run from anywhere:  python scripts/drive_verify.py
"""
import os, sys, tempfile, shutil

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd
from pyspark.sql import SparkSession

spark = (
    SparkSession.builder.master("local[8]")
    .config("spark.sql.session.timeZone", "America/New_York")
    .config("spark.sql.shuffle.partitions", "8")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

import __spark_entry__ as e

# 1. entry smoke
rows = e.entry(spark).collect()
assert len(rows) >= 0 and len(e.entry(spark).schema) > 0
print(f"entry smoke: {len(rows)} rows OK")

SF = "/root/testdata/sf0.01"
con = duckdb.connect()
for t in ("region nation customer supplier part orders lineitem "
          "events documents embeddings").split():
    con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")

SAMPLE = [
    # round-10 diff: the empty-input parity sweep touched these (most
    # already below from earlier rounds; listed here for the record):
    # events_selfjoin_cardinality, jl_projection_audit,
    # doc_fingerprints, state_store_metrics_audit,
    # watermark_lag_observability, cube_events, rollup_returns,
    # grouping_sets_revenue, grouping_id_revenue_routing,
    # constraint_audit_orders + dedup_keep_best_equivalence,
    # aqe_* and bloom_fpr_audit (already present)
    "events_selfjoin_cardinality", "jl_projection_audit",
    "doc_fingerprints", "state_store_metrics_audit",
    "watermark_lag_observability", "cube_events", "rollup_returns",
    "grouping_sets_revenue", "grouping_id_revenue_routing",
    "constraint_audit_orders",
    # round-10 diff: write-path empty-input hardening (schema-carrying
    # read-backs + empty-table compaction no-op)
    "compaction_file_audit", "commit_protocol_audit", "dpp_audit",
    "partition_evolution_audit", "stream_atomic_sink_ingest",
    # round-10 diff: crash-class empty/one-row-input guards (operator
    # early-outs + None-safe readouts + k-means k=min(n_lists,n) +
    # recall frame from the query set + zero-width histogram range)
    # round-11 diff: null-injection hardening — NULL payload/text →
    # NULL features (decoders, zlib ratio), latest-non-null dimension
    # merge, None-safe streaming readouts, explicit NULL window
    # placement, NULL-group filtering on both sides, decimal sums,
    # scale-gated layout booleans
    # round-11 diff: extreme-value hardening (NaN/Inf quarantine in the
    # similarity/ANN family, zero-token text ratio guards, filtered-
    # token oracle parity in the jaccard family)
    "bpe_token_counts", "doc_token_stats", "doc_quality_filter",
    "doc_difficulty_buckets", "quality_classifier_scores",
    "curation_pipeline_report", "lang_stats", "dedup_keep_best",
    "ann_ivfpq_topk", "cosine_topk", "embedding_dup_pairs",
    "embedding_dup_pairs_lsh", "jaccard_dup_pairs", "dup_clusters",
    # round-11 diff: hostile-timestamp hardening (watermark-poisoning
    # guards + 128-bit newest-wins keys)
    "stream_sessionize", "stream_dedup_ingest",
    "stream_view_purchase_funnel",
    # round-12 diff: advisory fixes — explicit-floor decimal avg
    # oracle (incremental_monthly_revenue), out-of-range 'big' token
    # in the manifest checksum (lineitem_integrity_manifest,
    # manifest_repair_diff), sampling-free z-order file placement +
    # empty-schema-file-robust footer audit (zorder_skip_audit);
    # all four names already ride the sample below.
    # round-11 diff: PK-violation hardening (identity-grain clusters,
    # union-algebra jaccard postings, replay resolution at ingest)
    "jaccard_dup_pairs", "dup_clusters", "dedup_keep_best",
    "bloom_index_merge_maintenance", "latest_order_per_customer",
    "minhash_dup_pairs", "minhash_band_sweep_audit",
    "doc_sequence_packing", "pack_stats", "png_pixel_stats",
    "image_resize_stats", "image_dhash_dedup", "bmp_header_stats",
    "wav_header_stats", "png_text_chunk_stats",
    "price_percentiles", "brand_price_quartiles", "brand_price_disc_stats",
    "line_dedup_stats", "source_priority_dedup", "stream_running_totals",
    "stream_user_profile", "events_json_stats", "events_props_lateral",
    "props_map_stats", "revenue_ewma_by_nation",
    "value_outliers", "revenue_trend_by_nation", "label_feature_corr",
    "embedding_outlier_quarantine", "returns_pivot_by_year",
    "quantity_price_skyline", "lineitem_integrity_manifest",
    "decimal_revenue_exact", "lang_quality_geomean",
    "multimodal_features", "video_frame_sample", "audio_level_stats",
    "manifest_repair_diff", "lang_id_heuristic",
    "price_percentiles_approx", "incremental_monthly_revenue",
    "stream_fx_enrich", "exact_dedup_docs",
    "price_histogram", "ann_lsh_topk",
    "ann_ivf_topk", "kmv_distinct_users", "kmv_overlap_audit",
    "zorder_skip_audit", "observe_metrics_audit", "orc_roundtrip_audit",
    "schema_evolution_audit", "csv_quarantine_audit",
    "parquet_codec_matrix_audit", "zstd_encoding_audit",
    "parquet_bloom_filter_audit", "embedding_pca_audit",
    "pq_quantization_audit", "stream_bloom_index_maintenance",
    # round-9 diff: the global-rank/cumsum rewires (parallel forms in
    # all four registered queries; customer_rfm_segments also below)
    "order_value_quartiles", "orders_pareto",
    "perplexity_curriculum_mix",
    # round-7 diff: the merge_apply struct-key join rewrite (all three
    # merge-family consumers), the token-bucket state-schema change,
    # and this round's new queries
    "dedup_keep_best_equivalence",
    "aqe_skew_split_audit", "aqe_broadcast_demotion_audit",
    "aqe_coalesce_partitions_audit",
    "multi_table_swap_audit", "stream_partial_session_eviction",
    "join_order_cost_audit", "tiff_multi_ifd_stats",
    "zstd_encoding_audit",
    "cross_lingual_contamination", "domain_router_mix",
    "dedup_corpus_token_accounting", "bloom_fpr_audit",
    "tokenizer_fertility_by_lang", "stats_staleness_audit",
    "semantic_dedup_keep_best", "semantic_dedup_ivf_keep_best",
    "ngram_novelty_scores", "doc_kl_novelty",
    "length_bucket_packing_audit",
    "stream_two_table_publish", "bloom_index_merge_maintenance",
    "stream_rocksdb_state_rollup", "stream_rocksdb_changelog_restart",
    "stream_bloom_index_maintenance", "state_store_metrics_audit",
    "parquet_bloom_filter_audit",
    "merge_upsert_monthly_revenue", "retractable_view_maintenance",
    "stream_dimension_merge", "stream_rate_limit_tokens",
    # earlier rounds' diff coverage
    # this diff's new queries
    "doc_perplexity_filter", "bpe_merge_step",
    "quantity_price_skyline", "nation_trade_pagerank",
    "embedding_covariance_probe", "embedding_pca_audit",
    "copurchase_association_rules", "copurchase_triangle_stats",
    "revenue_ewma_by_nation", "brand_price_quartiles",
    "lang_quality_geomean", "doc_stride_spans",
    "orders_key_skew_audit", "events_selfjoin_cardinality", "source_drift_audit",
    "gopher_quality_filter", "compression_ratio_signal",
    "session_window_rollup", "pq_quantization_audit",
    "feature_hash_audit", "order_rank_in_customer_history", "orc_roundtrip_audit",
    "incremental_dedup_new_docs",
    "vocab_coverage_stats", "schema_evolution_audit",
    "scd2_pointintime_join",
    "doc_bigram_perplexity", "latest_order_per_customer",
    "decimal_revenue_exact", "nullsafe_segment_match",
    "csv_quarantine_audit", "customer_order_years",
    "masked_customer_extract",
    "stratified_doc_sample", "customer_rfm_segments",
    "weekly_revenue_iso", "stream_dedup_then_rollup",
    "temperature_mix_weights",
    "nation_revenue_share_of_parent",
    "ann_ivfpq_topk",
    "jl_projection_audit",
    "longest_order_gap",
    "curation_pipeline_report", "stream_quality_gate",
    "fb_campaign_roas",
    # family spread: relational / window / asof / events-ts / etl / llm
    "revenue_by_nation", "rolling_7d_revenue", "asof_last_purchase",
    "events_by_day", "fb_campaign_spend", "exact_dedup_docs",
    # round-4 diff coverage: atomic staged compaction + let-binding
    # rewrites in the shingle/text/simhash paths
    "compaction_file_audit", "simhash_near_dups", "decontaminate_docs",
    "doc_difficulty_buckets",
    # round-4 second wave: image_decode dispatch in the feature path,
    # margin-strengthened ANN audits
    "multimodal_features", "ann_lsh_topk", "ann_ivf_topk",
    # round-5: classic-OLAP surface growth (SURVEY §7b slate) + the
    # array-column canonicalization fix
    "customer_order_years",
    "priority_groups_frame_revenue", "qualify_nation_top_years",
    "grouping_id_revenue_routing", "orders_tablesample_hash",
    "events_props_lateral", "brand_price_disc_stats",
    "lineitem_unpivot_metrics", "daily_revenue_locf",
    "purchase_nearest_view",
    "merge_upsert_monthly_revenue", "commit_protocol_audit",
    "bloom_partition_index_audit", "parquet_codec_matrix_audit",
    "line_dedup_stats", "bloom_decontaminate_13gram",
    "quality_classifier_scores", "perplexity_curriculum_mix",
    "trigram_lm_train", "doc_pack_with_splits",
    "source_priority_dedup", "contamination_removal_report",
    "class_balance_audit", "pii_cooccurrence_audit",
    "stream_stream_left_outer", "stream_windowed_topk",
    "stream_rate_limit_tokens", "stream_dedup_ttl",
    "stream_atomic_sink_ingest",
    "gif_header_stats", "jpeg_exif_orientation_stats",
    "image_dhash_dedup",
    # round-5 second wave (round-6 slate pulled forward)
    "embedding_outlier_quarantine", "bmp_header_stats",
    "png_text_chunk_stats", "minhash_band_sweep_audit",
    "stream_full_outer_interval", "stream_dimension_merge",
    "compaction_binpack_audit", "partition_evolution_audit",
    "retractable_view_maintenance", "watermark_lag_observability",
    # round-8 diff coverage: degenerate-bucket hardening of the shared
    # candidate tail (_bucketed_dup_pairs: chunk-pair split + tiled
    # matmul + AQE-adaptive rejoin) — both consumers of the LSH algebra
    "embedding_dup_pairs", "embedding_dup_pairs_lsh",
]

Q, O = e.queries(), e.oracle_sql()

if "--all" in sys.argv:
    # full-gate mode: every oracle-backed query under the vanilla
    # hostile-TZ session (the pytest gate runs the tuned session;
    # this catches conf-dependence it would mask)
    SAMPLE = list(O)
elif len(sys.argv) > 1:
    # positional names: run EXACTLY these (r12 fix — names used to be
    # silently ignored and every "per-name" run was a full-sample run;
    # harmless in the strong direction, but subset claims must mean
    # what they say)
    unknown = [n for n in sys.argv[1:] if n not in Q]
    assert not unknown, f"unknown queries: {unknown}"
    SAMPLE = list(sys.argv[1:])


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].map(
                lambda v: v.date().isoformat() if pd.notna(v) else None)
        elif df[c].dtype == object:
            df[c] = df[c].map(
                lambda v: v.isoformat() if hasattr(v, "isoformat")
                else str(list(v)) if isinstance(v, (list, tuple)) or
                type(v).__name__ == "ndarray" else v)
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(9)
    cols = sorted(df.columns)
    return df[cols].sort_values(cols).reset_index(drop=True)


fails = []
for name in SAMPLE:
    sdf = norm(Q[name](spark, SF).toPandas())
    odf = norm(con.sql(O[name]).df())
    ok = sdf.shape == odf.shape and all(
        (sdf[c].astype(str).values == odf[c].astype(str).values).all()
        for c in sdf.columns)
    print(f"{name:28s} spark={sdf.shape} oracle={odf.shape} "
          f"{'OK' if ok else 'FAIL'}")
    if not ok:
        fails.append(name)
        print(sdf.head(3))
        print(odf.head(3))

# 3. ETL write-path probe (exactly-once + quarantine + day partitions)
from facebook_ads_bigquery_etl_spark.etl.facebook import run_facebook_pipeline
from facebook_ads_bigquery_etl_spark.fixtures import FB_FIXTURE

wh = tempfile.mkdtemp()
try:
    valid, quarantined = run_facebook_pipeline(spark, FB_FIXTURE, wh)
    nq = quarantined.count()
    n1 = spark.read.parquet(wh).count()
    run_facebook_pipeline(spark, FB_FIXTURE, wh)
    n2 = spark.read.parquet(wh).count()
    parts = [d for d in os.listdir(wh) if d.startswith("date=")]
    assert n1 == n2, f"exactly-once broken: {n1} != {n2}"
    assert nq == 1, f"quarantine: {nq}"
    assert parts, "no date= partition dirs"
    print(f"etl probe: rows={n1} rerun={n2} quarantined={nq} "
          f"partitions={len(parts)} OK")
finally:
    shutil.rmtree(wh, ignore_errors=True)

print("RESULT:", "FAIL " + str(fails) if fails else "ALL GREEN")
sys.exit(1 if fails else 0)
