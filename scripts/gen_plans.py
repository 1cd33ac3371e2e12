"""Generate PLANS.md — the committed EXPLAIN audit (VERDICT r1 item 3/5).

For each audited query: the FORMATTED physical plan at sf0.1 plus the
plan properties the repo's tests pin (tests/test_scale_layout.py
asserts the same properties, so a regression fails CI before the
driver sees it).

Run from the repo root:  python scripts/gen_plans.py

Dump mode:  python scripts/gen_plans.py --dump <out_dir> <suffix> name [name ...]
writes `plan_of` each named query (registered name or bench EXTRA name)
to <out_dir>/<name>_<suffix>.txt. Streaming audit families execute
their stream to build the returned table, so their dumped plan is the
final returned DataFrame's (often a memory-sink/local scan — the
audit's distributed work happens in foreachBatch/microbatch plans),
which is exactly what the driver's `queries()[name]` returns.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# The plans embed the session's core count (shuffle partitions,
# round-robin widths), so they are generated at one fixed count, not
# the host's: a regeneration then differs from the committed file only
# where a plan really changed.
CPUS = 32

# query → (why it's audited, [plan substrings that MUST be present],
#          [plan substrings that MUST be absent])
AUDITS: dict[str, tuple[str, list[str], list[str]]] = {
    "pricing_summary": (
        "full-scan aggregate: date filter must reach the parquet scan, "
        "aggregation must be two-phase (map-side partials)",
        ["PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate",
         "partial_"],
        ["CartesianProduct"],
    ),
    "revenue_by_nation": (
        "5-way star join: every dimension broadcast, fact shuffles once",
        ["BroadcastHashJoin"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    "brand_revenue": (
        "fact ⋈ small dim: dim broadcast, part scan pruned to the two "
        "columns the query needs",
        ["BroadcastHashJoin", "ReadSchema: struct<p_partkey:bigint,p_brand:string>"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    "asof_last_purchase": (
        "as-of join via union + carry-forward window: ONE shuffle on the "
        "union, no pair blowup",
        ["Window"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    "rapid_reorder_pairs": (
        "bounded self range-join: equi key (custkey) carries the join; the "
        "date band is a post-join filter, never a nested loop over the fact",
        [],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    "orders_above_customer_avg": (
        "correlated scalar subquery decorrelated to aggregate + equi join",
        [],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    "top_customers": (
        "global top-k: TakeOrderedAndProject (no full sort of the aggregate)",
        ["TakeOrderedAndProject"],
        ["CartesianProduct"],
    ),
    "top3_parts_per_brand": (
        "per-group top-k: WindowGroupLimit pushes the rank filter below the "
        "shuffle so only k rows per group cross",
        ["WindowGroupLimit"],
        ["CartesianProduct"],
    ),
    "bloom_pruned_revenue": (
        "runtime Bloom-filter injection: might_contain over the dim key "
        "sketch prunes the fact scan before the shuffle",
        ["might_contain", "bloom_filter_agg"],
        ["CartesianProduct"],
    ),
    "minhash_dup_pairs": (
        "MinHash-LSH: shingle/signature frames are persisted once "
        "(InMemoryTableScan) so banding and exact-verify don't recompute "
        "the 64-permutation tree",
        ["InMemoryTableScan"],
        ["CartesianProduct"],
    ),
    "events_by_day": (
        "events scan: nanos timestamp read as long + date bucketing; "
        "single two-phase aggregate",
        ["partial_"],
        ["CartesianProduct", "Exchange hashpartitioning(user"],
    ),
    "tfidf_top_terms": (
        "TF-IDF: vocabulary-sized df table broadcast onto tf rows; per-doc "
        "top-k via WindowGroupLimit; no nested loop anywhere",
        ["BroadcastHashJoin", "WindowGroupLimit"],
        ["CartesianProduct"],
    ),
    "rolling_distinct_users": (
        "explode-to-window rewrite: sequence+explode then ONE hash "
        "countDistinct — no per-day fact re-scan, no frame-distinct state",
        ["Generate", "partial_count(distinct"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    "price_histogram": (
        "global min/max broadcast back onto the scan (single-row build "
        "side), then one hash aggregate on the bin id",
        ["BroadcastNestedLoopJoin", "partial_"],
        ["CartesianProduct"],
    ),
    "cosine_topk": (
        "exact ANN baseline: broadcast nested loop IS the documented plan "
        "(tiny query side × corpus scan); the scale paths are "
        "ann_lsh_topk/ann_ivf_topk",
        ["BroadcastNestedLoopJoin", "WindowGroupLimit"],
        ["CartesianProduct"],
    ),
    "scd2_dimension": (
        "SCD2 snapshot merge: one full-outer equi join on the business key "
        "(broadcast full-outer at test SF because the dim is tiny; SMJ at "
        "scale), attribute comparison as a codegen'd hash — never a "
        "per-column nested loop",
        [],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    "salted_segment_revenue": (
        "salted join demo: Generate = the explode that replicates the dim "
        "per salt. At this SF AQE correctly broadcasts the replicated dim "
        "(strictly better when it fits); at production scale — the only "
        "time salting is needed — the same plan shuffles on (key, salt)",
        ["Generate"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    "column_profile_lineitem": (
        "two-pass stats: Expand carries ONLY the exact-distinct counts; "
        "the HLL sketches live in a separate single-group aggregate "
        "(sharing one agg OOMs — buffer per (gid,value) group), joined "
        "back as a 1-row × 1-row nested loop (intended, constant cost)",
        ["Expand", "BroadcastNestedLoopJoin"],
        ["CartesianProduct"],
    ),
    "gap_filled_revenue": (
        "calendar densify: Generate = per-key sequence() explode (no "
        "driver-side date loop), left join on (key, day), one Window for "
        "the carry-forward",
        ["Generate", "Window"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    "constraint_audit_orders": (
        "data-quality audit: scan-class checks share ONE aggregate pass "
        "over a column-pruned scan; referential integrity broadcasts the "
        "distinct dimension keys (fact never shuffles for the FK check)",
        ["BroadcastHashJoin"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "SortMergeJoin"],
    ),
    "incremental_monthly_revenue": (
        "incremental rollup: history and delta slices carry pushed "
        "date-range scan filters, partial states merge in a second hash "
        "aggregate — no join, no re-scan of the union as raw rows",
        ["PushedFilters: [IsNotNull(o_orderdate)"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "SortMergeJoin"],
    ),
    "funnel_conversion": (
        "staged funnel: each stage equi-joins on user_id against the "
        "previous stage's (user, first-ts) frame; event_type filters are "
        "pushed to every scan, and no stage materializes per-user arrays. "
        "Since r13 the view/click stage frames are materialized once "
        "(each feeds the next stage AND its own count) — their pushed "
        "filters live in the materialization pass, witnessed in "
        "plans/r13/funnel_conversion_before.txt; the purchase stage "
        "stays in the final plan and pins the pushdown property here",
        ["PushedFilters: [IsNotNull(event_type), EqualTo(event_type,purchase)"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    "token_budget_mix": (
        "token-budget mixing: ONE shuffle on the stratum key feeding the "
        "cumsum window; the budget table is a compiled CASE, not a join",
        ["Window"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "SortMergeJoin"],
    ),
    "rolling_users_hll": (
        "mergeable-sketch rollup: per-day HLL sketches explode to their "
        "window days and union-merge; no window function over raw events, "
        "no fact re-scan per window width",
        ["ObjectHashAggregate", "Generate"],
        ["CartesianProduct"],
    ),
    "lineitem_integrity_manifest": (
        "integrity manifest: single hash-aggregate pass (map-side "
        "partials) over a column-pruned scan; checksum is a plain SUM",
        ["partial_"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "SortMergeJoin",
         "Window"],
    ),
    "supplier_revenue_share": (
        "global-share HAVING: the 1-row total is broadcast back over the "
        "per-supplier frame — scalar subquery as broadcast, never a "
        "re-scan or cross join of the fact",
        ["BroadcastNestedLoopJoin"],  # 1-row × per-key frame: intended
        ["CartesianProduct", "SortMergeJoin"],
    ),
    "last_touch_attribution": (
        "as-of attribution: union + carry-forward window = ONE shuffle on "
        "user_id, same cost profile as an equi-join; no pair blowup",
        ["Window"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "SortMergeJoin"],
    ),
    "value_outliers": (
        "3-sigma audit: per-type stats frame broadcast back onto the "
        "scan; two aggregate passes, zero wide shuffles of the fact",
        ["BroadcastHashJoin"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "SortMergeJoin"],
    ),
    "returned_revenue_topk": (
        "TPC-H Q10: returnflag filter pushed to the lineitem scan, dims "
        "broadcast, top-20 via TakeOrderedAndProject (no global sort)",
        ["PushedFilters: [IsNotNull(l_returnflag), EqualTo(l_returnflag,R)",
         "BroadcastHashJoin", "TakeOrderedAndProject"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    "shipmode_priority_counts": (
        "TPC-H Q12: equi join carries the date-arithmetic band as a "
        "post-join filter; conditional counts are codegen'd CASE "
        "partials, never a per-priority re-scan",
        ["partial_"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    "forecast_revenue_change": (
        "TPC-H Q6: the ENTIRE predicate (date range, discount band, "
        "quantity cap) reaches the parquet scan; no join, 1-row combine",
        ["PushedFilters: [IsNotNull(l_shipdate), IsNotNull(l_discount), "
         "IsNotNull(l_quantity), GreaterThanOrEqual(l_shipdate"],
        ["CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin"],
    ),
    "product_profit": (
        "TPC-H Q9: part filter broadcast-prunes the fact before the "
        "orders join; supplier/nation broadcast; exactly one wide join",
        ["BroadcastHashJoin"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    "supplier_part_counts": (
        "TPC-H Q16: distinct-pair reduction BEFORE any join; exclusion "
        "list rides a broadcast anti join; part dim broadcast",
        ["BroadcastHashJoin LeftAnti", "BroadcastHashJoin Inner"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "SortMergeJoin"],
    ),
    "dominant_part_suppliers": (
        "TPC-H Q20: pair agg reduces the fact BEFORE the per-part share "
        "window; window reuses the agg's hash partitioning; dims broadcast",
        ["Window", "BroadcastHashJoin"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "SortMergeJoin"],
    ),
    "label_feature_corr": (
        "statistical aggregates: embeddings reduced to their scalar norm "
        "before the join, corr/covar/stddev partial-merged; no vector "
        "crosses an exchange",
        ["partial_corr"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    "fuzzy_part_name_pairs": (
        "blocked fuzzy join: candidates ride an ordinary equi-join on the "
        "block key (broadcast at this SF, sort-merge at scale), Levenshtein "
        "verify runs codegen'd inside the joined stage — never an n2 loop",
        ["levenshtein"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    "weighted_doc_sample": (
        "priority sampling: map-only scoring then global top-k as "
        "TakeOrderedAndProject (per-partition heap, driver merges k rows "
        "per partition) — no global sort, no shuffle of the data",
        ["TakeOrderedAndProject"],
        ["CartesianProduct", "Exchange hashpartitioning"],
    ),
    "doc_perplexity_filter": (
        "unigram-LM quality gate: vocab and threshold join back broadcast "
        "(corpus text never shuffles); no sort-merge anywhere. Since r13 "
        "the vocab counts and per-doc entropies are materialized once "
        "(each fed 2+ consumers; the token explode replayed ~5x) — the "
        "vocab BroadcastHashJoin lives in the materialization pass, "
        "witnessed in plans/r13/doc_perplexity_filter_before.txt; the "
        "final plan reads the materialized per-doc frame",
        ["Scan ExistingRDD"],
        ["CartesianProduct", "SortMergeJoin"],
    ),
    "bpe_merge_step": (
        "BPE pair step: map-side pair fan-out + hash agg; top-20 is "
        "TakeOrderedAndProject, never a global sort",
        ["TakeOrderedAndProject"],
        ["CartesianProduct", "Exchange rangepartitioning"],
    ),
    "quantity_price_skyline": (
        "skyline: dominance window runs over the post-reduction (~50-row) "
        "frame — the fact table sees only one hash agg",
        ["Window"],
        ["CartesianProduct", "SortMergeJoin"],
    ),
    # nation_trade_pagerank is NOT plan-audited: the registered query
    # materializes the (≤625-row) edge list during construction and
    # returns a local relation, so its visible plan is trivial; the
    # edge-derivation join shape is the same 5-way star revenue_by_nation
    # pins above, and the iteration is driver-side by design.
    "embedding_covariance_probe": (
        "mergeable Gram partials: one MapInPandas pass over the vectors; "
        "all moment joins broadcast (batch-count-sized frames). Since r14 "
        "the three moment frames are materialized once (five parallel "
        "broadcast builders raced on the lazy partials cache and each "
        "recomputed the corpus pass) — the MapInPandas pass lives in the "
        "materialization lineage, asserted under PRE_AUDITS; the final "
        "plan witnesses the broadcast joins over the materialized frames",
        ["BroadcastHashJoin", "Scan ExistingRDD"],
        ["CartesianProduct", "SortMergeJoin"],
    ),
    "copurchase_association_rules": (
        "market basket: pair stream from an equi-join on the order key; "
        "item supports and the order total join back broadcast",
        ["BroadcastHashJoin"],
        ["CartesianProduct"],
    ),
    "copurchase_triangle_stats": (
        "degree-oriented triangles: orientation + wedge joins are "
        "broadcast at this SF; no cartesian anywhere",
        ["BroadcastHashJoin"],
        ["CartesianProduct"],
    ),
    "revenue_ewma_by_nation": (
        "sequential fold: grouped applyInPandas (FlatMapGroupsInPandas) "
        "AFTER the fact reduces to (nation, day) grain",
        ["FlatMapGroupsInPandas"],
        ["CartesianProduct", "SortMergeJoin"],
    ),
    "brand_price_quartiles": (
        "exact percentiles as a partial-merge aggregate — two-phase agg, "
        "no window, no global sort",
        ["partial_percentile"],
        ["CartesianProduct", "Exchange rangepartitioning"],
    ),
    "gopher_quality_filter": (
        "rule-based quality gate: pure codegen'd expressions, MAP-ONLY — "
        "no exchange of any kind touches the corpus",
        [],
        ["Exchange", "CartesianProduct"],
    ),
    "compression_ratio_signal": (
        "zlib redundancy signal: Arrow-batched scalar pandas UDF "
        "(ArrowEvalPython), map-only — no exchange",
        ["ArrowEvalPython"],
        ["Exchange", "CartesianProduct"],
    ),
    "orders_key_skew_audit": (
        "skew diagnosis: two chained two-phase aggregates (fact → keys → "
        "1 row), map-side partials at both levels",
        ["partial_"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    "vocab_coverage_stats": (
        "vocab induction + rescore: top-k via TakeOrderedAndProject, "
        "vocabulary broadcast back — corpus text never shuffles",
        ["TakeOrderedAndProject", "BroadcastHashJoin"],
        ["CartesianProduct", "SortMergeJoin"],
    ),
    "incremental_dedup_new_docs": (
        "incremental dedup: history collapses to DISTINCT digests joined "
        "broadcast; within-batch dedup is one digest-keyed window",
        ["BroadcastHashJoin", "Window"],
        ["CartesianProduct"],
    ),
    "order_rank_in_customer_history": (
        "distribution ranks: one Window over customer-keyed partitions — "
        "single exchange on the partition key, no global sort",
        ["Window"],
        ["CartesianProduct", "Exchange rangepartitioning"],
    ),
    "feature_hash_audit": (
        "portable feature hash: rolling hash runs codegen'd (no Python "
        "eval node), one (kind, bucket) aggregate",
        ["partial_"],
        ["CartesianProduct", "ArrowEvalPython", "BatchEvalPython"],
    ),
    "stratified_doc_sample": (
        "per-stratum top-k: WindowGroupLimit pushes the rank filter below "
        "the stratum exchange — only ~k rows per stratum per map "
        "partition cross the shuffle",
        ["WindowGroupLimit"],
        ["CartesianProduct", "Exchange rangepartitioning"],
    ),
    "decimal_revenue_exact": (
        "exact decimal aggregation: two-phase with map-side decimal "
        "partials — order-independent money sums",
        ["partial_"],
        ["CartesianProduct", "Exchange rangepartitioning"],
    ),
    "nullsafe_segment_match": (
        "null-safe equality plans as a HASH join on the null-safe key — "
        "the NULL bucket shuffles like any other value, no nested loop",
        [],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    "ann_ivfpq_topk": (
        "IVF-PQ: encoding/ADC run as Arrow-batched pandas UDFs; the "
        "probe join is keyed on the int cell id — no cartesian anywhere",
        ["ArrowEvalPython"],
        ["CartesianProduct"],
    ),
    "curation_pipeline_report": (
        "curation funnel: quality metrics map-side, dedup via one "
        "digest-keyed window, stage joins on the doc id — no cartesian, "
        "no text shuffle (the window key is the 32-byte hash)",
        ["Window"],
        ["CartesianProduct"],
    ),
    "longest_order_gap": (
        "gap analytics: one customer-keyed window then a hash agg on the "
        "same key — the agg reuses the window's partitioning",
        ["Window"],
        ["CartesianProduct", "Exchange rangepartitioning"],
    ),
    "lang_quality_geomean": (
        "vectorized pandas UDAF: grouped aggregation runs as "
        "ArrowAggregatePython over Arrow batches with partial merge",
        ["ArrowAggregatePython"],
        ["CartesianProduct"],
    ),
    "fb_campaign_roas": (
        "the headline question: spend and action-value aggregate "
        "two-phase (map-side partials) on (date, campaign) and join on "
        "the same key — one Generate for the actions explode, equi join "
        "only (AQE broadcasts the smaller aggregate at runtime on real "
        "volumes), never a nested loop",
        ["HashAggregate", "Generate"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    # schema_evolution_audit / csv_quarantine_audit return driver-built
    # 1-row audit frames (plan = ExistingRDD; the work is in the
    # side-effect reads they verify) — nothing to pin, deliberately
    # absent here.
    "scd2_pointintime_join": (
        "bitemporal resolution: facts equi-join the SCD2 history on the "
        "business key with the validity interval as a join-side filter — "
        "hash joins end to end, never an interval nested loop",
        ["BroadcastHashJoin"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    "masked_customer_extract": (
        "governed extract: mask/band/row-policy are all codegen'd "
        "projections over ONE column-pruned scan — policy never costs a "
        "join or a second pass",
        ["Scan parquet"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "SortMergeJoin",
         "BroadcastHashJoin", "Exchange"],
    ),
    # -- round-5 additions (§7b slate) --
    "purchase_nearest_view": (
        "nearest-direction as-of: tag + union + TWO window carries over "
        "ONE sort — there is NO join operator anywhere in the plan; both "
        "directions' candidates ride the same user_id shuffle",
        ["Union", "Window"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "SortMergeJoin",
         "BroadcastHashJoin"],
    ),
    "quality_classifier_scores": (
        "broadcast-logistic-weights gate: scoring is pure codegen over "
        "one column-pruned scan — ZERO exchanges, zero joins, zero "
        "Python; the learned filter runs at scan speed",
        ["Scan parquet"],
        ["Exchange", "CartesianProduct", "BroadcastNestedLoopJoin",
         "SortMergeJoin", "BroadcastHashJoin", "ArrowEvalPython",
         "MapInPandas"],
    ),
    "priority_groups_frame_revenue": (
        "GROUPS-frame rewrite: dense_rank + RANGE frame are two window "
        "functions over the SAME (priority) partitioning — one Exchange+"
        "Sort serves both; no join, no second shuffle",
        ["Window"],
        ["CartesianProduct", "SortMergeJoin", "BroadcastHashJoin",
         "BroadcastNestedLoopJoin"],
    ),
    "lineitem_unpivot_metrics": (
        "UNPIVOT: a single Expand node fans the fact scan ×4 map-side — "
        "NOT a union of self-scans; one scan, one aggregate shuffle",
        ["Expand"],
        ["Union", "CartesianProduct", "SortMergeJoin"],
    ),
    "grouping_id_revenue_routing": (
        "grouping sets: one Expand + hash aggregate over the joined "
        "fact; dimensions broadcast; rollup levels never rescan",
        ["Expand", "BroadcastHashJoin"],
        ["CartesianProduct", "SortMergeJoin", "Union"],
    ),
    "merge_upsert_monthly_revenue": (
        "MERGE shape: base and delta aggregate two-phase, then ONE "
        "null-safe full-outer sort-merge join on the merge key decides "
        "update/insert/keep per row",
        ["SortMergeJoin", "HashAggregate"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    "events_props_lateral": (
        "map LATERAL: from_json + Generate(explode) fan out map-side; "
        "only (event_type, key) pairs reach the aggregate exchange",
        ["Generate"],
        ["CartesianProduct", "SortMergeJoin", "BroadcastHashJoin"],
    ),
    "orders_tablesample_hash": (
        "hash TABLESAMPLE: the sampling predicate is codegen'd integer "
        "arithmetic evaluated at the scan stage — no join, no Python, "
        "the 95% dropped never shuffle",
        ["HashAggregate"],
        ["CartesianProduct", "SortMergeJoin", "BroadcastHashJoin",
         "ArrowEvalPython", "MapInPandas"],
    ),
    "line_dedup_stats": (
        "cross-doc line dedup: segment fan-out is a map-side Generate; "
        "first-writer-wins is ONE window over the segment-text shuffle; "
        "per-doc accounting aggregates on doc_id — no self-join of text",
        ["Generate", "Window"],
        ["CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin"],
    ),
    "bloom_decontaminate_13gram": (
        "13-gram bloom: gram fan-out map-side (Generate), the benchmark "
        "side collapses to a broadcast bit set (BroadcastHashJoin for the "
        "exact-overlap check, 1-row BroadcastNestedLoopJoin for the bit "
        "array scalar) — corpus text never self-joins, no cartesian",
        ["Generate", "BroadcastHashJoin"],
        ["CartesianProduct", "SortMergeJoin"],
    ),
    "trigram_lm_train": (
        "trigram LM: map-side gram Generate, two-level hash aggregates, "
        "1-row vocab broadcast, top-30 via TakeOrderedAndProject (never "
        "a full sort)",
        ["Generate", "TakeOrderedAndProject"],
        ["CartesianProduct", "SortMergeJoin"],
    ),
    "doc_pack_with_splits": (
        "split packing: lang-partitioned cumsum window, then the piece "
        "fan-out (Generate over sequence()) rides the SAME partitioning — "
        "the aggregate reuses it; no join",
        ["Window", "Generate"],
        ["CartesianProduct", "SortMergeJoin", "BroadcastHashJoin"],
    ),
    "class_balance_audit": (
        "class balance: posexplode (Generate) fans vectors map-side into "
        "(label, dim) cells; ONE hash aggregate reduces them — vectors "
        "never shuffle whole; centroid joins are broadcast-sized",
        ["Generate", "HashAggregate", "BroadcastHashJoin"],
        ["CartesianProduct", "SortMergeJoin"],
    ),
    "pii_cooccurrence_audit": (
        "PII co-occurrence: detection is map-only regex codegen; the "
        "class-pair matrix is an equi self-join on doc_id of the tiny "
        "(doc, class) fan-out — broadcast hash join, never a cartesian",
        ["Generate", "BroadcastHashJoin"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    "image_dhash_dedup": (
        "perceptual dedup: decode+hash is Arrow-batched MapInPandas "
        "(map-only); the dedup aggregate shuffles only (hash, id) pairs",
        ["MapInPandas", "HashAggregate"],
        ["CartesianProduct", "SortMergeJoin", "BroadcastHashJoin"],
    ),
    "retractable_view_maintenance": (
        "retraction maintenance: base and correction aggregates "
        "two-phase, ONE null-safe full-outer sort-merge join applies "
        "the negative deltas — same shape as the additive MERGE",
        ["SortMergeJoin", "HashAggregate"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    # compaction_binpack_audit / partition_evolution_audit /
    # watermark_lag_observability / commit_protocol_audit /
    # stream_* rows return driver-built audit frames (plan =
    # ExistingRDD; the work is in the side-effect writes/streams they
    # verify) — nothing to pin, deliberately absent here.
    "embedding_outlier_quarantine": (
        "Mahalanobis quarantine: posexplode fans vectors map-side, ONE "
        "hash aggregate builds the (label, dim) moment table, broadcast "
        "back onto the same exploded stream — vectors never shuffle "
        "whole, thresholds are a label-grain broadcast. Since r13 the "
        "vec-grain distance frame is materialized once (it fed the "
        "threshold AND the output join, replaying both exploded-vector "
        "passes) — the posexplode/moment shape lives in the "
        "materialization pass, witnessed in "
        "plans/r13/embedding_outlier_quarantine_before.txt",
        ["HashAggregate", "BroadcastHashJoin", "Scan ExistingRDD"],
        ["CartesianProduct", "SortMergeJoin"],
    ),
    "bmp_header_stats": (
        "BMP container walk: synthesize and parse are chained "
        "MapInPandas stages, map-only end to end",
        ["MapInPandas"],
        ["CartesianProduct", "SortMergeJoin", "BroadcastHashJoin",
         "Window"],
    ),
    "gif_header_stats": (
        "GIF container walk: synthesize and parse are two chained "
        "MapInPandas stages, map-only end to end — no shuffle between "
        "them, no join",
        ["MapInPandas"],
        ["CartesianProduct", "SortMergeJoin", "BroadcastHashJoin",
         "Window"],
    ),
    "join_order_cost_audit": (
        "star join under size estimates: all four dimension joins "
        "broadcast (the returned frame is the broadcast-mode run); "
        "no shuffle join, no cross product",
        ["BroadcastHashJoin"],
        ["CartesianProduct", "SortMergeJoin"],
    ),
    "tiff_multi_ifd_stats": (
        "TIFF IFD-chain walk: chained MapInPandas stages, map-only — "
        "payload bytes never shuffle, no join, no window",
        ["MapInPandas"],
        ["CartesianProduct", "SortMergeJoin", "BroadcastHashJoin",
         "Window"],
    ),
    "ngram_novelty_scores": (
        "novelty scoring: gram fan-out map-side (Generate over the "
        "let-bound tokenizer), reference DF table is a pre-aggregated "
        "(gram, df) frame joined on the gram key — document bodies "
        "never shuffle, per-doc aggregation is two-phase partial. Since "
        "r13 the gram stream is materialized once (it fed three "
        "consumers) — the map-side Generate lives in the "
        "materialization pass, witnessed in "
        "plans/r13/ngram_novelty_scores_before.txt",
        ["partial_", "Scan ExistingRDD"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    "doc_kl_novelty": (
        "learned-LM KL novelty: map-side trigram Generate, two-level LM "
        "hash aggregates, scoring joins carry (a,b,c) gram keys + counts "
        "(bodies never shuffle), 1-row vocab broadcast, per-doc window + "
        "final agg two-phase partial",
        ["Generate", "partial_", "Window"],
        ["CartesianProduct", "SortMergeJoin"],
    ),
    "order_value_quartiles": (
        "global NTILE via operators/rank.py range-bucketed exact rank: the "
        "sort runs as parallel per-bucket windows (Exchange hashpartitioning "
        "on the histogram bucket), never one task sorting the whole fact — "
        "the r7/r8 verdicts' last named scale-killer, closed",
        ["Window", "partial_"],
        ["SinglePartition", "CartesianProduct"],
    ),
    "customer_rfm_segments": (
        "three global quintiles over the customer-grain frame via "
        "range-bucketed parallel ntile; base agg persisted once "
        "(InMemoryTableScan) and the skinny (custkey, score) frames join "
        "back on the unique key — no single-task sort anywhere",
        ["Window", "InMemoryTableScan"],
        ["SinglePartition", "CartesianProduct"],
    ),
    "orders_pareto": (
        "global running revenue share via range-bucketed parallel cumsum "
        "(with_global_cumsum) over DECIMAL: the customer-grain sort runs "
        "as per-bucket windows (hashpartitioning on __bucket), never one "
        "task. The plan's remaining SinglePartition exchanges are the "
        "1-ROW scalar aggregates (n_customers/total and the final summary "
        "row) — bounded aggregate state after map-side partials, which is "
        "the correct shape for a scalar output, not a data sort. The "
        "float-derived per-customer frame is persisted (advisor r9) so "
        "every operator action reads one pinned materialization",
        ["Window", "partial_", "hashpartitioning(__bucket",
         "InMemoryTableScan"],
        ["CartesianProduct"],
    ),
    "perplexity_curriculum_mix": (
        "doc-grain fluency quartiles via range-bucketed parallel ntile "
        "(per-bucket windows, hashpartitioning on __bucket); the LM "
        "scoring joins stay broadcast. Remaining SinglePartition "
        "exchanges are the 1-row corpus-total aggregates (bounded state). "
        "The float-derived per-doc frame is persisted (advisor r9) so "
        "every operator action reads one pinned materialization",
        ["Window", "BroadcastHashJoin", "hashpartitioning(__bucket",
         "InMemoryTableScan"],
        ["CartesianProduct"],
    ),
}


# PRE-MATERIALIZATION audits: a reuse barrier (operators/materialize)
# moves a subtree's plan text out of the final EXPLAIN, so the
# properties below are asserted on the plans of the frames the query's
# invocation materialized — the plans that actually ran, barriers on.
# A regression INSIDE the materialization pass (a lost pushdown, a
# broadcast degrading) fails the audit.
# query → (why, [plan substrings that MUST be present]).
PRE_AUDITS: dict[str, tuple[str, list[str]]] = {
    "funnel_conversion": (
        "the view/click stage frames are materialized once; their "
        "event_type pushdowns must still reach the parquet scans in the "
        "pre-materialization lineage",
        ["EqualTo(event_type,view)", "EqualTo(event_type,click)"],
    ),
    "doc_perplexity_filter": (
        "vocab counts + per-doc entropies are materialized once; the "
        "vocab/threshold joins must still be broadcast (corpus text "
        "never shuffles) in the pre-materialization lineage",
        ["BroadcastHashJoin"],
    ),
    "embedding_outlier_quarantine": (
        "the vec-grain distance frame is materialized once; the "
        "map-side posexplode vector fan-out must still be a Generate "
        "in the pre-materialization lineage",
        ["posexplode", "Generate"],
    ),
    "ngram_novelty_scores": (
        "the gram stream is materialized once; the gram fan-out must "
        "still be a map-side Generate over the let-bound tokenizer in "
        "the pre-materialization lineage",
        ["Generate"],
    ),
    "embedding_covariance_probe": (
        "the moment frames are materialized once (r14); the corpus pass "
        "must still be ONE MapInPandas over the vectors in the "
        "pre-materialization lineage",
        ["MapInPandas"],
    ),
}


def pre_materialization_plan(queries, name, spark, sf):
    """Build ``name`` and return the formatted plans of the frames its
    invocation materialized (see PRE_AUDITS)."""
    from facebook_ads_bigquery_etl_spark.operators import materialize

    queries[name](spark, sf)
    return "\n".join(plan_of(df) for df in materialize.inputs())


def plan_of(df) -> str:
    s = df._sc._jvm.PythonSQLUtils.explainString(  # same as .explain("formatted")
        df._jdf.queryExecution(), "formatted"
    )
    # Literal control characters (e.g. the CDC hash's \x1f separator /
    # \x00 null sentinel) would make PLANS.md read as binary to
    # grep/git — escape everything below 0x20 except \n\t.
    return "".join(
        c if c in "\n\t" or ord(c) >= 0x20 else f"\\x{ord(c):02x}" for c in s
    )


def dump(spark, out_dir: str, suffix: str, names: list[str]) -> int:
    import bench

    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        fn = bench.EXTRA.get(name) or bench.QUERIES[name]
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan_of(fn(spark, SF)))
        print(f"wrote {path}")
    return 0


def main() -> int:
    from facebook_ads_bigquery_etl_spark.plans import QUERIES
    from facebook_ads_bigquery_etl_spark.session import get_spark

    spark = get_spark(cpus=CPUS)
    if sys.argv[1:2] == ["--dump"]:
        out_dir, suffix, *names = sys.argv[2:]
        return dump(spark, out_dir, suffix, names)
    out = [
        "# PLANS — physical-plan audit",
        "",
        f"`EXPLAIN FORMATTED` at `{SF}` on `local[{CPUS}]` (regenerate: `python scripts/gen_plans.py`).",
        "Each section lists the plan properties tests/test_scale_layout.py pins —",
        "the audit is executable, not prose: if a listed property regresses, the",
        "test suite fails.",
        "",
    ]
    failures = []
    for name, (why, must, must_not) in AUDITS.items():
        df = QUERIES[name](spark, SF)
        plan = plan_of(df)
        checks = []
        for frag in must:
            ok = frag in plan
            checks.append((f"contains `{frag}`", ok))
            if not ok:
                failures.append((name, f"missing {frag}"))
        for frag in must_not:
            ok = frag not in plan
            checks.append((f"free of `{frag}`", ok))
            if not ok:
                failures.append((name, f"unexpected {frag}"))
        out.append(f"## {name}")
        out.append("")
        out.append(why + ".")
        out.append("")
        for label, ok in checks:
            out.append(f"- {'✅' if ok else '❌'} {label}")
        out.append("")
        # keep the artifact reviewable and stable across runs: plan body
        # without the node ids and the exchange/broadcast plan ids
        body = re.sub(r"\[plan_id=\d+\]", "[plan_id=·]", re.sub(r"\(\d+\)", "(·)", plan))
        out.append("```\n" + body.strip() + "\n```")
        out.append("")
    out.append("## Pre-materialization audits")
    out.append("")
    out.append(
        "Properties the reuse barriers move out of the final plan, "
        "asserted on the plans of the frames each query materialized."
    )
    out.append("")
    for name, (why, must) in PRE_AUDITS.items():
        plan = pre_materialization_plan(QUERIES, name, spark, SF)
        out.append(f"### {name} (pre-materialization)")
        out.append("")
        out.append(why + ".")
        out.append("")
        for frag in must:
            ok = frag in plan
            out.append(f"- {'✅' if ok else '❌'} contains `{frag}`")
            if not ok:
                failures.append((name, f"pre-materialization missing {frag}"))
        out.append("")
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    with open(path, "w") as f:
        f.write("\n".join(out))
    print(f"wrote {path}; {len(AUDITS)} plans, {len(failures)} failures")
    for name, what in failures:
        print("FAIL", name, what)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
