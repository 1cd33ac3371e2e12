"""Table resolution without a schema-inference job.

``plans.registry.read_parquet`` (and through it ``load_tables`` and the
plans' direct table reads) converts the schema of the footer Spark's
own parquet inference would read on the driver. These tests pin that
the resulting frame's schema equals ``spark.read.parquet(path).schema``
on the repo's inputs and on the layouts the engine writes, that the
file picked is the one Spark picks, that Spark's own error still
surfaces where there is no file to read, and that resolving tables and
building queries over them starts no Spark job.
"""

from __future__ import annotations

import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from facebook_ads_bigquery_etl_spark.plans import QUERIES
from facebook_ads_bigquery_etl_spark.plans.registry import load_tables, read_parquet

from tests.conftest import SF_ORACLE, SF_SMOKE

TESTDATA = [
    os.path.join(os.path.dirname(SF_SMOKE), sf) for sf in ("sf0.001", "sf0.01", "sf0.1")
]

# Session confs that steer parquet → Spark schema conversion; the
# vanilla session runs each at its default.
CONVERSION_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.mergeSchema",
)


@pytest.fixture()
def vanilla(spark):
    """A fresh session on the shared context, in a non-UTC zone, with
    every schema-conversion conf at its default."""
    s = spark.newSession()
    s.conf.set("spark.sql.session.timeZone", "America/New_York")
    for key in CONVERSION_CONFS:
        s.conf.unset(key)
    return s


def _jobs_of(session, fn):
    sc = session.sparkContext
    group = f"table-schema-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, sc.statusTracker().getJobIdsForGroup(group)


def _assert_resolves_as_inferred(session, path):
    """Same schema as inference, and from the footer: no job ran."""
    got, jobs = _jobs_of(session, lambda: read_parquet(session, path).schema)
    assert (got, jobs) == (session.read.parquet(path).schema, []), path


@pytest.mark.parametrize("sf_dir", TESTDATA)
def test_testdata_tables_resolve_as_inferred(vanilla, sf_dir):
    tables = sorted(f for f in os.listdir(sf_dir) if f.endswith(".parquet"))
    assert tables
    for t in tables:
        _assert_resolves_as_inferred(vanilla, os.path.join(sf_dir, t))


def test_perfbench_tables_resolve_as_inferred(vanilla, tmp_path):
    from perfbench.inputs import TABLES, write_tables

    out = write_tables(str(tmp_path), seed=7, sf=0.001)
    for t in TABLES:
        _assert_resolves_as_inferred(vanilla, os.path.join(out, f"{t}.parquet"))


def _spark_frame(session):
    return session.range(40).select(
        F.col("id"),
        (F.col("id") % 3).cast("int").alias("k"),
        F.concat(F.lit("s"), F.col("id").cast("string")).alias("s"),
        (F.col("id") / 7).alias("x"),
        F.expr("date_add(DATE'2024-01-01', CAST(id % 4 AS INT))").alias("date"),
        F.expr("CAST(id * 1000000 AS TIMESTAMP)").alias("ts"),
        F.expr("CAST(id AS DECIMAL(18, 2))").alias("amount"),
    )


def _edge_layouts(session, root):
    """The layouts the engine reads: Spark-written tables (multi-file,
    partitioned — including an underscore-led ``k=v`` level like the
    streaming sink's ``__sink_batch`` — and a ``limit(0)`` write), plus
    foreign files: zero rows, INT96, NANOS and a null-typed column."""
    df = _spark_frame(session)
    df.repartition(4).write.parquet(f"{root}/multi")
    df.withColumn("__sink_batch", F.col("id") % 2).write.partitionBy(
        "date", "__sink_batch"
    ).parquet(f"{root}/partitioned")
    df.limit(0).write.parquet(f"{root}/limit0")
    schema = pa.schema([("a", pa.int64()), ("b", pa.string()), ("c", pa.timestamp("us"))])
    pq.write_table(schema.empty_table(), f"{root}/zero_rows.parquet")
    ts = pa.array([1_700_000_000_123_456_789, None], pa.timestamp("ns"))
    pq.write_table(
        pa.table({"ts": ts, "v": [1.5, 2.5]}),
        f"{root}/int96.parquet",
        use_deprecated_int96_timestamps=True,
    )
    pq.write_table(pa.table({"ts": ts, "v": [1, 2]}), f"{root}/nanos.parquet", version="2.6")
    pq.write_table(
        pa.table({"n": pa.array([None, None], pa.null()), "v": [1, 2]}),
        f"{root}/null_typed.parquet",
    )
    return {
        "multi": f"{root}/multi",
        "partitioned": f"{root}/partitioned",
        "limit0": f"{root}/limit0",
        "zero_rows": f"{root}/zero_rows.parquet",
        "int96": f"{root}/int96.parquet",
        "nanos": f"{root}/nanos.parquet",
        "null_typed": f"{root}/null_typed.parquet",
    }


def test_edge_layouts_resolve_as_inferred(vanilla, tmp_path):
    layouts = _edge_layouts(vanilla, str(tmp_path))
    vanilla.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    for name, path in layouts.items():
        _assert_resolves_as_inferred(vanilla, path)
    # the partition columns still come from the listing
    cols = read_parquet(vanilla, layouts["partitioned"]).columns
    assert cols[-2:] == ["date", "__sink_batch"]


def test_first_file_in_path_order_decides(vanilla, tmp_path):
    """Without schema merging Spark reads one footer: the first listed
    data file in path order. A later file's extra column stays out, and
    hidden names (``_``- or ``.``-led), which sort first, are skipped."""
    d = tmp_path / "drift"
    d.mkdir()
    pq.write_table(pa.table({"a": [1]}), str(d / "part-00000.parquet"))
    pq.write_table(pa.table({"a": [2], "extra": ["x"]}), str(d / "part-00001.parquet"))
    pq.write_table(pa.table({"hidden": [0.5]}), str(d / "_staging.parquet"))
    pq.write_table(pa.table({"hidden": [0.5]}), str(d / ".tmp.parquet"))
    got = read_parquet(vanilla, str(d))
    assert got.columns == ["a"]
    _assert_resolves_as_inferred(vanilla, str(d))


def test_merging_and_summary_files_stay_with_spark(vanilla, tmp_path):
    """Where Spark's inference reads more than the first data file — the
    session merges schemas, or a summary file is present and read
    first — the read is Spark's own, so the schemas still agree."""
    d = tmp_path / "drift"
    d.mkdir()
    pq.write_table(pa.table({"a": [1]}), str(d / "part-00000.parquet"))
    pq.write_table(pa.table({"a": [2], "extra": ["x"]}), str(d / "part-00001.parquet"))
    vanilla.conf.set("spark.sql.parquet.mergeSchema", "true")
    assert read_parquet(vanilla, str(d)).columns == ["a", "extra"]
    vanilla.conf.unset("spark.sql.parquet.mergeSchema")
    pq.write_metadata(pa.schema([("a", pa.int64()), ("summary", pa.int32())]),
                      str(d / "_common_metadata"))
    expected = vanilla.read.parquet(str(d)).schema
    assert expected.fieldNames() == ["a", "summary"]
    assert read_parquet(vanilla, str(d)).schema == expected


def _spark_error(fn):
    try:
        fn()
    except Exception as exc:  # noqa: BLE001 — the class is what is compared
        return type(exc)
    raise AssertionError("expected Spark to raise")


def test_spark_error_stands_where_no_footer_is_read(vanilla, tmp_path):
    """A missing path, an empty directory and a footer the session's
    converter refuses (NANOS without nanosAsLong) raise what
    ``spark.read.parquet`` raises."""
    (tmp_path / "empty").mkdir()
    pq.write_table(
        pa.table({"ts": pa.array([1], pa.timestamp("ns"))}),
        str(tmp_path / "nanos.parquet"),
        version="2.6",
    )
    for path in (tmp_path / "missing", tmp_path / "empty", tmp_path / "nanos.parquet"):
        expected = _spark_error(lambda: vanilla.read.parquet(str(path)).schema)
        with pytest.raises(expected):
            read_parquet(vanilla, str(path)).schema


def test_resolving_and_building_start_no_job(spark):
    """Schema inference runs one Spark job per table; reading the
    footer on the driver runs none, so neither resolving tables nor
    building a query over them starts a job."""
    tables, jobs = _jobs_of(
        spark, lambda: load_tables(spark, SF_ORACLE, "orders", "customer", "nation", "region")
    )
    assert set(tables) == {"orders", "customer", "nation", "region"}
    assert jobs == []
    for name in ("grouping_sets_revenue", "user_sessions"):
        df, jobs = _jobs_of(spark, lambda: QUERIES[name](spark, SF_ORACLE))
        assert df.columns and jobs == [], name
