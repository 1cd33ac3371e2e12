"""Extreme-value regression gate (round 11): the queries the NaN/Inf/
hostile-text sweep found divergent must stay Spark≡DuckDB on a fixture
with special floats and hostile text injected. The full sweep is
`scripts/sweep.py --mutator extremes` (all 250 oracle-backed queries,
250/250 clean at round 11); this test pins a fast subset of the fixed queries —
the slow streaming/plan-audit members (stream_running_totals,
stream_user_profile, stream_partial_session_eviction, stream_fx_enrich,
and the AQE/DPP/zstd/bloom/stats/join-cost/multi-swap audits) are
exercised by the sweep script.

Why it matters at 100 TB: a NaN or Inf from an upstream division, a
corrupt embedding (zero vector, NaN element), an empty or
whitespace-only document, and a truncated JSON blob are all routine
dirty data — and the driver's sf0.01 gate never sees any of them.
Fix classes (r11 extremes sweep):

* vector quarantine — similarity/ANN/moment operators exclude
  non-finite (and, for cosine, zero-norm) vectors at entry;
* zero-token text — ratios NULL, quality a definite 0.0, segmenters
  emit no segments;
* non-finite measurements NULLed at the query input boundary
  (operators.casting.finite_or_null + DuckDB isfinite() twins);
* integrity checksums render non-finite money as its IEEE class
  token so the manifest stays total over corrupt rows;
* NaN-safe audit comparisons (NaN != NaN must not fail a claim that
  actually holds);
* malformed JSON → NULL fields, oracles gated on json_valid.
"""

from __future__ import annotations

import pytest

from tests import oracle_check as oc
from tests.conftest import SF_SMOKE

# fast members of the round-11 extremes fix set (each < ~10 s)
FIXED_FAST = [
    "bpe_token_counts",
    "doc_token_stats",
    "doc_quality_filter",
    "doc_difficulty_buckets",
    "quality_classifier_scores",
    "domain_router_mix",
    "lang_quality_geomean",
    "lang_stats",
    "line_dedup_stats",
    "source_priority_dedup",
    "jaccard_dup_pairs",
    "cosine_topk",
    "embedding_dup_pairs",
    "embedding_quantize_error",
    "embedding_outlier_quarantine",
    "label_feature_corr",
    "value_outliers",
    "revenue_trend_by_nation",
    "price_percentiles",
    "price_histogram",
    "brand_price_quartiles",
    "returns_pivot_by_year",
    "quantity_price_skyline",
    "masked_customer_extract",
    "decimal_revenue_exact",
    "incremental_monthly_revenue",
    "orders_pareto",
    "lineitem_integrity_manifest",
    "events_json_stats",
    "events_props_lateral",
    "props_map_stats",
    "revenue_ewma_by_nation",
]


@pytest.fixture(scope="module")
def extremes_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("extremes_fixture")
    return oc.write_fixture(oc.extremes, SF_SMOKE, str(d))


@pytest.mark.parametrize("name", FIXED_FAST)
def test_extreme_input_matches_oracle(spark, extremes_dir, name):
    assert not oc.compare(spark, name, extremes_dir)


def test_finite_or_null_boundary(spark):
    """The validity boundary: non-finite doubles → NULL, finite and
    NULL inputs pass through unchanged."""
    from pyspark.sql import functions as F

    from facebook_ads_bigquery_etl_spark.operators.casting import (
        finite_or_null,
    )

    df = spark.createDataFrame(
        [(1, 2.5), (2, float("nan")), (3, float("inf")),
         (4, float("-inf")), (5, None)],
        "id long, x double",
    )
    got = {r["id"]: r["y"] for r in
           df.select("id", finite_or_null(F.col("x")).alias("y")).collect()}
    assert got == {1: 2.5, 2: None, 3: None, 4: None, 5: None}


def test_vector_quarantine_predicates(spark):
    """finite_vectors admits any all-finite vector (zero included);
    valid_vectors additionally rejects zero-norm — the cosine-space
    contract every similarity/ANN operator filters on."""
    from pyspark.sql import functions as F

    from facebook_ads_bigquery_etl_spark.operators.similarity import (
        finite_vectors,
        valid_vectors,
    )

    df = spark.createDataFrame(
        [
            (1, [1.0, 2.0]),
            (2, [float("nan"), 1.0]),
            (3, [float("inf"), 1.0]),
            (4, [0.0, 0.0]),
            (5, None),
        ],
        "id long, embedding array<double>",
    )
    got = {
        r["id"]: (r["fin"], r["val"])
        for r in df.select(
            "id",
            finite_vectors("embedding").alias("fin"),
            valid_vectors("embedding").alias("val"),
        ).collect()
    }
    assert got[1] == (True, True)
    assert got[2][0] is False and not got[2][1]
    assert got[3][0] is False and not got[3][1]
    assert got[4] == (True, False)  # zero vector: measurable, not cosine-able
    assert not got[5][0] and not got[5][1]


def test_quality_score_zero_token_doc(spark):
    """Empty/whitespace docs: NULL ratios, quality pinned 0.0."""
    from facebook_ads_bigquery_etl_spark.operators.text import (
        with_quality_score,
    )

    df = spark.createDataFrame(
        [(1, "the cat sat on the mat"), (2, ""), (3, " \t\n ")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in with_quality_score(df).collect()}
    assert rows[1]["quality_score"] > 0.0
    for d in (2, 3):
        assert rows[d]["n_tokens"] == 0
        assert rows[d]["avg_token_len"] is None
        assert rows[d]["stopword_ratio"] is None
        assert rows[d]["quality_score"] == 0.0


def test_manifest_checksum_total_over_nonfinite(spark):
    """render_scaled_int: finite money → exact cents, non-finite →
    IEEE class token, NULL stays NULL — the checksum never aborts and
    distinguishes corruption classes."""
    from pyspark.sql import functions as F

    from facebook_ads_bigquery_etl_spark.operators.integrity import (
        render_scaled_int,
    )

    df = spark.createDataFrame(
        [(1, 12.345), (2, float("nan")), (3, float("inf")),
         (4, float("-inf")), (5, None)],
        "id long, x double",
    )
    got = {r["id"]: r["y"] for r in
           df.select("id", render_scaled_int(F.col("x"), 100).alias("y")).collect()}
    assert got == {1: "1235", 2: "nan", 3: "inf", 4: "-inf", 5: None}


def test_manifest_checksum_total_over_out_of_range_finite(spark):
    """r12 advisory: a FINITE corrupt double whose scaled value
    exceeds BIGINT range — including one that overflows to Inf only
    AFTER the ×100 scaling (1e308) — renders as a sign/'big' token
    instead of aborting the ANSI ROUND/CAST, on the engine AND on the
    generated DuckDB twin (render_scaled_int_sql)."""
    import duckdb

    from pyspark.sql import functions as F

    from facebook_ads_bigquery_etl_spark.operators.integrity import (
        render_scaled_int,
        render_scaled_int_sql,
    )

    vals = [
        (1, 12.345),          # sane → exact cents
        (2, 1e308),           # ×100 overflows to Inf after isfinite(x)
        (3, -1e308),
        (4, 8.0e18),          # finite scaled=8e20 ≥ 2^62, no overflow
        (5, -8.0e18),
        (6, 4.0e16),          # scaled 4e18 < 2^62: still a long
        (7, float("inf")),
        (8, None),
    ]
    want = {1: "1235", 2: "big", 3: "-big", 4: "big", 5: "-big",
            6: str(4 * 10**18), 7: "inf", 8: None}
    df = spark.createDataFrame(vals, "id long, x double")
    got = {r["id"]: r["y"] for r in
           df.select("id", render_scaled_int(F.col("x"), 100).alias("y")).collect()}
    assert got == want

    con = duckdb.connect()
    case = render_scaled_int_sql("x", 100)
    rows = con.execute(
        f"SELECT id, {case} AS y FROM (VALUES "
        "(1, 12.345), (2, 1e308), (3, -1e308), (4, 8.0e18), (5, -8.0e18),"
        "(6, 4.0e16), (7, CAST('inf' AS DOUBLE)), (8, CAST(NULL AS DOUBLE))"
        ") t(id, x)"
    ).fetchall()
    assert {i: y for i, y in rows} == want
