"""Degenerate-input regression gate (round 10): the queries the
all-empty (and one-row) sweeps found divergent must stay
Spark≡DuckDB on zero-row and one-row fixtures. The full sweep lives
in `scripts/sweep.py --mutator empty` (all 250 oracle-backed
queries, ~15 min on 4 cores; `--mutator one_row` for the one-row
variant); this test pins the fast subset of the fixed queries — the
slow streaming/write-path members are exercised by their own unit
tests and the sweep script.

Why it matters at 100 TB: an empty day partition or filtered-out
slice is routine, and the driver's correctness gate only runs at
sf0.01, so degenerate-input divergence is invisible to it by design.

At n=1 a handful of layout/heuristic audit booleans are exempt by
design (`oracle_check.SCALE_FLOOR_EXEMPT`).
"""

from __future__ import annotations

import pytest

from tests import oracle_check as oc
from tests.conftest import SF_SMOKE

# fast members of the round-10 fix set (each < ~10 s on empty input)
FIXED_FAST = [
    "price_histogram",
    "ann_lsh_topk",
    "events_selfjoin_cardinality",
    "jl_projection_audit",
    "doc_fingerprints",
    "dedup_corpus_token_accounting",
    "constraint_audit_orders",
    "cube_events",
    "rollup_returns",
    "grouping_sets_revenue",
    "grouping_id_revenue_routing",
    "kmv_distinct_users",
    "kmv_overlap_audit",
    "embedding_pca_audit",
    "pq_quantization_audit",
    "ann_ivf_topk",
    "orc_roundtrip_audit",
    "schema_evolution_audit",
    "csv_quarantine_audit",
    "zorder_skip_audit",
    "zstd_encoding_audit",
    "parquet_bloom_filter_audit",
    "observe_metrics_audit",
    "compaction_file_audit",
    "dpp_audit",
    "partition_evolution_audit",
]


@pytest.fixture(scope="module", params=["empty", "one_row"], ids=["empty", "onerow"])
def fixture_dir(request, tmp_path_factory):
    d = tmp_path_factory.mktemp(f"degenerate_fixture_{request.param}")
    return request.param, oc.write_fixture(oc.MUTATORS[request.param], SF_SMOKE, str(d))


@pytest.mark.parametrize("name", FIXED_FAST)
def test_degenerate_input_matches_oracle(spark, fixture_dir, name):
    mutator, d = fixture_dir
    if name in oc.EXEMPT.get(mutator, ()):
        pytest.skip("heuristic booleans below their scale floor at n=1")
    assert not oc.compare(spark, name, d)
