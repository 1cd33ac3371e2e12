"""Query scratch space (``operators/materialize``): every directory a
query writes is an entry of its invocation, removed when the next
invocation opens or at ``release()``; the one process-lived stage
(the stream-stream join slices) is published whole or not at all; and
the per-process root that holds both is gone once the process exits.
"""

from __future__ import annotations

import glob
import os
import shutil
import subprocess
import sys
import uuid

import pytest
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameWriter

from facebook_ads_bigquery_etl_spark.operators import materialize as mat
from facebook_ads_bigquery_etl_spark.plans import QUERIES
from facebook_ads_bigquery_etl_spark.plans import streaming_queries as sq
from facebook_ads_bigquery_etl_spark.plans.registry import load_tables
from facebook_ads_bigquery_etl_spark.streaming import read_event_stream
from tests import oracle_check as oc
from tests.conftest import SF_SMOKE

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_into_scratch(prefix: str) -> str:
    path = mat.scratch(prefix)
    with open(os.path.join(path, "part"), "w") as f:
        f.write("x")
    return path


def test_scratch_lives_until_the_next_invocation_opens():
    a = mat.invocation(_write_into_scratch)("a_")
    assert os.path.isfile(os.path.join(a, "part"))
    b = mat.invocation(_write_into_scratch)("b_")
    assert not os.path.exists(a)
    assert os.path.isfile(os.path.join(b, "part"))
    mat.release()


def test_release_removes_scratch():
    a = mat.invocation(_write_into_scratch)("a_")
    assert mat.release() >= 1
    assert not os.path.exists(a)


def test_lone_file_source_survives_the_scratch_removal(spark, tmp_path):
    """``read_event_stream`` stages a lone file behind a symlink in
    scratch; removing the scratch unlinks the link, never the file."""
    src = tmp_path / "events.parquet"
    shutil.copy(f"{SF_SMOKE}/events.parquet", src)
    size = src.stat().st_size
    before = set(glob.glob(os.path.join(mat._process_root(), "lone_file_*")))
    stream = mat.invocation(read_event_stream)(spark, str(src))
    assert stream.isStreaming
    (staged,) = set(glob.glob(os.path.join(mat._process_root(), "lone_file_*"))) - before
    assert os.path.islink(os.path.join(staged, "events.parquet"))
    mat.invocation(lambda: None)()
    assert not os.path.exists(staged)
    assert src.is_file() and src.stat().st_size == size


def test_failed_stage_build_leaves_nothing(tmp_path):
    def build(path):
        with open(os.path.join(path, "half"), "w") as f:
            f.write("x")
        raise RuntimeError("build failed")

    name = f"probe_{uuid.uuid4().hex}"
    with pytest.raises(RuntimeError, match="build failed"):
        mat.stage(name, build)
    assert not glob.glob(os.path.join(mat._process_root(), name + "*"))
    built = mat.stage(name, lambda path: open(f"{path}/whole", "w").close())
    assert os.listdir(built) == ["whole"]
    # built once per process: a second call finds it without building
    assert mat.stage(name, lambda path: pytest.fail("rebuilt")) == built


def test_process_root_is_gone_after_the_process_exits(tmp_path):
    code = (
        "from facebook_ads_bigquery_etl_spark.operators import materialize as m\n"
        "open(m.scratch('s_') + '/part', 'w').close()\n"
        "m.stage('st', lambda p: open(p + '/part', 'w').close())\n"
        "print(m._process_root())\n"
    )
    env = {**os.environ, "TMPDIR": str(tmp_path)}
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=REPO, env=env, check=True,
        capture_output=True, text=True,
    ).stdout.strip()
    assert os.path.dirname(out) == str(tmp_path)
    assert not os.path.exists(out) and os.listdir(tmp_path) == []


def test_half_built_louter_stage_is_rebuilt_whole(spark, tmp_path, monkeypatch):
    """A slice write that fails mid-build must not leave a stage that a
    later call extends: the retried stage holds exactly the events rows
    plus the two sentinels, and the join over it matches its oracle."""
    sf = str(shutil.copytree(SF_SMOKE, tmp_path / "sf"))
    real = DataFrameWriter.parquet
    calls = []

    def flaky(self, path, *args, **kwargs):
        calls.append(path)
        if len(calls) == 2:
            raise RuntimeError("slice write failed")
        return real(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", flaky)
    with pytest.raises(RuntimeError, match="slice write failed"):
        sq._staged_louter_src(spark, sf)
    monkeypatch.setattr(DataFrameWriter, "parquet", real)

    stage = spark.read.parquet(sq._staged_louter_src(spark, sf))
    ev = load_tables(spark, sf, "events")["events"].select(*stage.columns)
    rows = stage.filter(F.col("event_id") >= 0)
    assert stage.count() == ev.count() + 2
    assert rows.exceptAll(ev).count() == 0 and ev.exceptAll(rows).count() == 0
    sentinels = stage.filter(F.col("event_id") < 0).select("event_id").collect()
    assert sorted(r[0] for r in sentinels) == [-2, -1]
    assert oc.compare(spark, "stream_stream_left_outer", sf) == {}


def test_partial_session_eviction_job_count(spark):
    """Building the query runs the events checkpoint, the four staging
    writes (their pool threads carry the caller's job group) and
    nothing after the drain: memory-sink rows already live on the
    driver, so no action re-reads the result table. The stream's
    micro-batches run on the stream's own thread, outside the group."""
    sc = spark.sparkContext
    group = f"partial-sess-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = QUERIES["stream_partial_session_eviction"](spark, SF_SMOKE)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert out.collect()
    assert len(jobs) == 5
