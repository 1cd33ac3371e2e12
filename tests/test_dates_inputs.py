"""Hostile-timestamp regression gate (round 11): the queries the
dates sweep found divergent must stay Spark≡DuckDB on a fixture with
corrupt timestamps injected (zeroed epoch, pre-1900, sentinel
far-future — `scripts/sweep.py --mutator dates`, 250/250 clean at
round 11).

Why it matters at 100 TB: corrupt timestamps are routine dirty data
(zeroed epoch fields, unit-confused parses, sentinel 9999s), and ONE
far-future event advances a streaming watermark past the entire live
corpus — every event-time pipeline then silently drops everything
that arrives after it. Conventions pinned here:

* watermark-poisoning guard — every WATERMARKED pipeline bounds event
  time at the stream source (streaming.pipeline.bound_event_time,
  window [1990, 2100)); event-time-agnostic pipelines are not bounded;
* pre-epoch events are late even against the INITIAL watermark (0 =
  1970) — without the guard they vanish from streaming aggregates
  while every batch oracle keeps them;
* 128-bit order keys — epoch-µs arithmetic that fits sane timestamps
  in int64 overflows on corrupt ones; newest-wins keys ride
  DECIMAL(38,0) (Spark) / HUGEINT (DuckDB).

The fast members run here; the slow staged-restart members
(stream_rocksdb_changelog_restart, state_store_metrics_audit,
watermark_lag_observability, the outer joins) are exercised by the
sweep script.
"""

from __future__ import annotations

import pytest

from tests import oracle_check as oc
from tests.conftest import SF_SMOKE

# fast members of the round-11 dates fix set
FIXED_FAST = [
    "stream_sessionize",
    "stream_dedup_ingest",
    "stream_dedup_then_rollup",
    "stream_dedup_ttl",
    "stream_windowed_topk",
    "stream_view_purchase_funnel",
    "stream_dimension_merge",
]


@pytest.fixture(scope="module")
def dates_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("dates_fixture")
    return oc.write_fixture(oc.dates, SF_SMOKE, str(d))


@pytest.mark.parametrize("name", FIXED_FAST)
def test_dates_input_matches_oracle(spark, dates_dir, name):
    assert not oc.compare(spark, name, dates_dir)


def test_bound_event_time_window(spark):
    """The validity window: sane rows and the 2099 sentinels pass,
    pre-1990 and >= 2100 rows are excluded, NULL ts is excluded
    (a NULL event time cannot participate in a watermark)."""
    from facebook_ads_bigquery_etl_spark.streaming.pipeline import (
        bound_event_time,
    )

    rows = [
        (1, "2024-01-05 00:00:00"),
        (2, "1899-07-05 12:00:00"),
        (3, "1970-01-01 00:00:00"),
        (4, "2250-01-01 00:00:00"),
        (5, "2099-01-01 00:00:00"),
        (6, None),
    ]
    from pyspark.sql import functions as F

    df = spark.createDataFrame(rows, "id long, ts_s string").select(
        "id", F.col("ts_s").cast("timestamp").alias("ts")
    )
    kept = {r["id"] for r in bound_event_time(df).collect()}
    assert kept == {1, 5}
