"""Null-injection regression gate (round 11): the queries the 10%-NULL
sweep found divergent must stay Spark≡DuckDB on a fixture with NULLs
injected into non-key value/text columns. The full sweep is
`scripts/sweep.py --mutator nulls` (all 250 oracle-backed queries);
this test pins the fast subset of the fixed queries — the slow streaming/plan-audit
members (stream_fx_enrich, stream_dimension_merge,
stream_rocksdb_changelog_restart, stats_staleness_audit,
audio_level_stats, video_frame_sample, multimodal_features) are
exercised by the sweep script and their own unit tests.

Why it matters at 100 TB: a corrupt or absent value/text/blob column
is routine dirty data, and the driver's sf0.01 gate never sees one —
every divergence here was invisible to it by design. Fix classes
(r11): explicit NULLS FIRST/LAST window placement, NULL groups are
not segments (filtered on BOTH sides), NULL payload → NULL feature
(never a crash, never a shared sentinel key), and decimal sums where
double partial-order ulps flipped a rounding boundary.
"""

from __future__ import annotations

import pytest

from tests import oracle_check as oc
from tests.conftest import SF_SMOKE

# fast members of the round-11 nulls fix set (each < ~10 s)
FIXED_FAST = [
    "order_value_quartiles",
    "order_rank_in_customer_history",
    "latest_order_per_customer",
    "feature_hash_audit",
    "kmv_distinct_users",
    "price_percentiles_approx",
    "lang_quality_geomean",
    "manifest_repair_diff",
    "lang_id_heuristic",
    "doc_fingerprints",
    "source_priority_dedup",
    "csv_quarantine_audit",
    "incremental_monthly_revenue",
    "retractable_view_maintenance",
    "zorder_skip_audit",
    "compression_ratio_signal",
    "exact_dedup_docs",
]


@pytest.fixture(scope="module")
def nulls_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("nulls_fixture")
    return oc.write_fixture(oc.nulls, SF_SMOKE, str(d))


@pytest.mark.parametrize("name", FIXED_FAST)
def test_nulls_input_matches_oracle(spark, nulls_dir, name):
    assert not oc.compare(spark, name, nulls_dir)


def test_null_text_gets_null_fingerprint(spark):
    """NULL payload → NULL feature at the operator layer: bare
    xxhash64 maps NULL to its non-null seed constant, which would give
    every unreadable doc the SAME dedup key."""
    from facebook_ads_bigquery_etl_spark.operators.text import (
        with_fingerprint,
    )

    df = spark.createDataFrame(
        [(1, "alpha"), (2, None), (3, "alpha"), (4, None)],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r["fingerprint"]
            for r in with_fingerprint(df).collect()}
    assert rows[2] is None and rows[4] is None
    assert rows[1] == rows[3] and rows[1] is not None
