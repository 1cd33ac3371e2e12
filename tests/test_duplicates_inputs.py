"""Primary-key-violation regression gate (round 11): the queries the
duplicates sweep found divergent AND fixed must stay Spark≡DuckDB on a
fixture with replayed keys (same PK, drifted payload —
`scripts/sweep.py --mutator duplicates`; the reference's own
at-least-once ingest failure mode, reference main.py:86-89).

Conventions pinned here (see SURVEY §7h-quater):

* identity operators take identity-grain input — dedup_clusters emits
  one membership row per identity; jaccard_pairs deduplicates
  postings per (id, hash) so a replayed doc contributes the UNION of
  its copies' shingle sets (the per-copy postings previously drove
  the Jaccard denominator to an ANSI divide-by-zero);
* resolve_replays = deterministic one-row-per-key resolution by the
  content-total order, identical across engines and layouts;
* exactly-once counts are COUNT(DISTINCT key).

The fixture is the sweep's own (`oracle_check.duplicates`), replays
of all six keyed tables. The one exemption, stream_dedup_then_rollup,
is pinned by test_stream_dedup_then_rollup_pk_exemption_scope below.
"""

from __future__ import annotations

import pytest

from tests import oracle_check as oc
from tests.conftest import SF_SMOKE

# fixed members of the round-11 duplicates wave (fast ones; the
# streaming member stream_dedup_ingest and the slow semantic/minhash
# audits run in the sweep script)
FIXED_FAST = [
    "jaccard_dup_pairs",
    "dup_clusters",
    "dedup_keep_best",
    "dedup_keep_best_equivalence",
    "latest_order_per_customer",
    "bloom_index_merge_maintenance",
    "doc_sequence_packing",
    "pack_stats",
    "png_pixel_stats",
    "image_dhash_dedup",
    "bmp_header_stats",
    "video_frame_sample",
    "audio_level_stats",
    "embedding_covariance_probe",
]


@pytest.fixture(scope="module")
def duplicates_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("duplicates_fixture")
    return oc.write_fixture(oc.duplicates, SF_SMOKE, str(d))


@pytest.mark.parametrize("name", FIXED_FAST)
def test_duplicates_input_matches_oracle(spark, duplicates_dir, name):
    assert not oc.compare(spark, name, duplicates_dir)


def test_resolve_replays_deterministic(spark):
    """One row per key, winner = greatest content-total tuple; clean
    keys pass through; the same winner regardless of input order."""
    from facebook_ads_bigquery_etl_spark.operators.dedup import (
        resolve_replays,
    )

    rows = [
        (1, "a", 10.0),
        (1, "a", 10.5),  # replay, drifted payload — greater tuple wins
        (2, "b", 5.0),
        (3, None, 1.0),
        (3, "c", None),  # non-NULL text sorts before NULL (desc_nulls_last)
    ]
    df = spark.createDataFrame(rows, "k long, s string, v double")
    got = {
        r["k"]: (r["s"], r["v"])
        for r in resolve_replays(df, ["k"]).collect()
    }
    assert got == {1: ("a", 10.5), 2: ("b", 5.0), 3: ("c", None)}
    # order-insensitive: reversed input, same winners
    df2 = spark.createDataFrame(list(reversed(rows)), "k long, s string, v double")
    got2 = {
        r["k"]: (r["s"], r["v"])
        for r in resolve_replays(df2, ["k"]).collect()
    }
    assert got2 == got


def test_resolve_replays_degenerate_inputs(spark):
    """r12 advisory: key covering every column falls back to
    dropDuplicates; unorderable dtypes (maps, nested maps) are skipped
    when DERIVING the default order; the rank temp name never collides
    with an input column. None of these occur at current call sites —
    the guards keep a future caller from an analysis-time crash."""
    from pyspark.sql import functions as F

    from facebook_ads_bigquery_etl_spark.operators.dedup import (
        resolve_replays,
    )

    # (a) keys cover all columns → dropDuplicates semantics, no raise
    df = spark.createDataFrame([(1, "a"), (1, "a"), (2, "b")], "k long, s string")
    got = sorted((r["k"], r["s"]) for r in resolve_replays(df, ["k", "s"]).collect())
    assert got == [(1, "a"), (2, "b")]

    # (b) map-typed payload is skipped in the derived order; the
    #     orderable column still decides the winner
    dfm = spark.createDataFrame(
        [(1, {"x": 1}, 10.0), (1, {"y": 2}, 11.0), (2, {"z": 3}, 5.0)],
        "k long, m map<string,int>, v double",
    )
    win = {r["k"]: r["v"] for r in resolve_replays(dfm, ["k"]).collect()}
    assert win == {1: 11.0, 2: 5.0}

    # (c) ONLY unorderable non-key columns → dropDuplicates fallback
    dfo = spark.createDataFrame(
        [(1, {"x": 1}), (1, {"x": 1}), (2, {"z": 3})],
        "k long, m map<string,int>",
    )
    assert resolve_replays(dfo, ["k"]).count() == 2

    # (d) explicit order_cols are honored as given
    exp = {r["k"]: r["v"]
           for r in resolve_replays(dfm, ["k"], order_cols=["v"]).collect()}
    assert exp == {1: 11.0, 2: 5.0}

    # (e) __rr_rn collision: pre-existing column survives untouched
    dfc = spark.createDataFrame(
        [(1, 7, 1.0), (1, 8, 2.0)], "k long, __rr_rn int, v double"
    )
    out = resolve_replays(dfc, ["k"]).collect()
    assert len(out) == 1 and out[0]["__rr_rn"] == 8 and out[0]["v"] == 2.0


def test_stream_dedup_then_rollup_pk_exemption_scope(spark, tmp_path):
    """Pin the ONE documented PK-violation exemption (r11 duplicates
    sweep; r12 verdict item 3): ``dropDuplicatesWithinWatermark``
    keeps the ARRIVAL-ORDER copy of a replayed key, so on a
    payload-drifted replay the kept VALUE follows arrival order, NOT
    the content-total order every batch resolve_replays twin uses.
    Deterministic drift resolution needs a version column — a
    MERGE-style contract the exactly-once repair deliberately does
    not assume.

    Scope pinned here: (a) COUNTS stay deterministic and exactly-once
    (one row per key); (b) the kept value is the FIRST-ARRIVAL copy
    (single-file fixture → file order IS arrival order in every union
    branch); (c) that value DIFFERS from the content-total winner sum.
    A future change that silently makes the stream resolve by content
    order (fixing the exemption) or breaks the counts (worsening it)
    fails this test and must update `oracle_check.duplicates` with it."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as e

    ts = dt.datetime.fromisoformat
    rows = [
        # key 1: original BEFORE drifted replay → arrival keeps 10.0
        (1, ts("2024-01-01T10:00:00"), 100, "a", 10.0, "{}"),
        # key 2: drifted replay BEFORE original → arrival keeps 20.5
        (2, ts("2024-01-01T11:00:00"), 100, "a", 20.5, "{}"),
        (1, ts("2024-01-01T10:00:00"), 100, "a", 10.5, "{}"),
        (2, ts("2024-01-01T11:00:00"), 100, "a", 20.0, "{}"),
        (3, ts("2024-01-01T12:00:00"), 100, "a", 5.0, "{}"),
        # watermark closer: finalizes the 2024-01-01 window, its own
        # window stays open and is NOT emitted in append mode
        (99, ts("2024-01-05T00:00:00"), 100, "z", 0.0, "{}"),
    ]
    tab = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([r[4] for r in rows], pa.float64()),
            "props": pa.array([r[5] for r in rows], pa.string()),
        }
    )
    pq.write_table(tab, str(tmp_path / "events.parquet"))

    got = {
        (str(r["date"]), r["event_type"]): (r["n_events"], r["total_value"])
        for r in e.queries()["stream_dedup_then_rollup"](
            spark, str(tmp_path)
        ).collect()
    }
    # (a)+(b): exactly-once counts; value = first-arrival copies
    # (10.0 + 20.5 + 5.0)
    assert got == {("2024-01-01", "a"): (3, 35.5)}
    # (c) the content-total winner sum (10.5 + 20.5 + 5.0 = 36.0)
    # is a DIFFERENT number — the documented engine-vs-batch-resolve
    # divergence this exemption covers
    assert got[("2024-01-01", "a")][1] != 36.0


def test_resolve_replays_oracle_twins_match_schema_order():
    """r12 advisory: the SQL twins of resolve_replays hardcode the
    content-total ORDER BY as an explicit column list while the Spark
    side derives it from DataFrame column order — a schema column
    reorder or addition would silently change the winner on ONE side.
    Pin the two: every content-total ROW_NUMBER twin in the registered
    oracles must enumerate exactly the non-key columns, in schema
    order, of the frame the Spark side resolves."""
    import re

    import pyarrow.parquet as pq

    import __spark_entry__ as e

    def nonkey(table, key):
        names = pq.read_schema(f"{SF_SMOKE}/{table}.parquet").names
        return [c for c in names if c != key]

    expected = {
        "doc_id": nonkey("documents", "doc_id"),
        "vec_id": nonkey("embeddings", "vec_id"),
        "o_orderkey": nonkey("orders", "o_orderkey"),
        # bloom_index_merge_maintenance resolves a PROJECTED events
        # frame — select(event_id, user_id, value, ts::date AS d) in
        # plans/warehouse.py; if that projection changes, this pin
        # must change WITH it (that is the point of the pin).
        "event_id": ["user_id", "value", "d"],
    }
    pat = re.compile(
        r"ROW_NUMBER\(\) OVER \(PARTITION BY (\w+)\s+ORDER BY\s+([^()]*?)\)\s+AS",
        re.S,
    )
    found = 0
    for name, sql in e.oracle_sql().items():
        for key, order in pat.findall(sql):
            items = [x.strip() for x in order.split(",")]
            if not all(x.endswith("DESC NULLS LAST") for x in items):
                continue  # ranked-top-k window, not a resolve twin
            cols = [x[: -len("DESC NULLS LAST")].strip() for x in items]
            assert key in expected, (
                f"{name}: content-total resolve twin over unknown key "
                f"{key!r} — add its expected column order to this pin"
            )
            assert cols == expected[key], (name, key, cols, expected[key])
            found += 1
    # the known twin families must actually be seen (media ×7, docs
    # packer/chunker, embeddings ×4+, orders, events) — a regex rot
    # that stops matching would otherwise pass vacuously
    assert found >= 10, found


def test_jaccard_union_algebra_on_replays(spark):
    """A replayed doc contributes the UNION of its copies' shingle
    sets — no divide-by-zero, and pair scores match the set algebra."""
    from facebook_ads_bigquery_etl_spark.operators.dedup import (
        jaccard_pairs,
    )

    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma"),
            (1, "alpha beta delta"),  # replay with drift: union has 4 tokens
            (2, "alpha beta gamma delta"),
        ],
        "doc_id long, text string",
    )
    rows = {(r["a_id"], r["b_id"]): r["jaccard"]
            for r in jaccard_pairs(df, threshold=0.5, ngram=1).collect()}
    # union(doc1) = {alpha,beta,gamma,delta} == doc2 → jaccard 1.0
    assert rows == {(1, 2): 1.0}
