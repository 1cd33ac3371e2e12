"""Smoke test of the benchmark itself (not part of the engine's suite):

    python3 -m pytest perfbench/test_smoke.py -q

Runs every workload at sf0.001 with a one-account daily load (the
workload's minimum rounds: two days of ingest), untraced and traced, and checks that the result line
carries every metric of ``BENCHMARK.json`` with its unit and that every
op passed its output check. The unit tests below pin the statistics the
metrics rest on.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import layers, run, trace  # noqa: E402
from perfbench.status import core_seconds, parse_metric  # noqa: E402


def _benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_benchmark_json_matches_layers():
    bench = _benchmark()
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == layers.END_TO_END
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == [
        (m.name, m.unit, m.better) for m in layers.PER_LAYER
    ]
    from perfbench.workloads import WORKLOADS

    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)


@pytest.mark.parametrize("workload", ["ingest", "analytics"])
@pytest.mark.parametrize("traced", [0, 1])
def test_workload_smoke(workload, traced):
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"),
        "--workload", workload, "--seed", "7", "--seconds", "0", "--trace", str(traced),
        "--sf", "0.001", "--accounts", "1",
    ]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    detail = json.loads(proc.stdout.strip().splitlines()[-2])["detail"]
    assert result["correct"] and result["failed"] == 0, detail["errors"]
    assert result["attempted"] >= 2
    bench = _benchmark()
    want = bench["per_layer"] if traced else bench["end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in want
    }
    for name, v in result["metrics"].items():
        assert isinstance(v["value"], (int, float)), name
        if not traced:
            assert v["value"] > 0, name


def test_tail_has_ten_samples_above():
    lat = [float(i) for i in range(1, 121)]
    value, pct = run.tail(lat)
    assert value == 110.0 and sum(x > value for x in lat) == 10
    assert pct == pytest.approx(100 * 110 / 120)
    # too few samples for a percentile: the slowest op
    assert run.tail([3.0, 1.0, 2.5]) == (3.0, 100.0)


def test_self_time_subtracts_children():
    t = trace.Tracer()
    t.spans = [
        trace.Span("op", "bench", 0.0, 10.0, None, 0),
        trace.Span("a", "etl", 1.0, 6.0, 0, 0),
        trace.Span("b", "sinks", 2.0, 4.0, 1, 0),
        trace.Span("c", "sinks", 5.0, 9.0, 0, 0),
    ]
    # the children of "op" overlap: together they cover 1..9
    assert trace.self_times(t.spans, t.spans) == {"bench": 2.0, "etl": 3.0, "sinks": 6.0}


def test_insert_nests_under_innermost_span():
    t = trace.Tracer()
    t.op = 0
    t.spans = [
        trace.Span("op", "bench", 0.0, 10.0, None, 0),
        trace.Span("a", "etl", 1.0, 6.0, 0, 0),
        trace.Span("b", "sinks", 2.0, 4.0, 1, 0),
    ]
    offset = time.time() - time.perf_counter()
    t.insert("scan", "sources", offset + 2.5, offset + 4.5)
    s = t.spans[-1]
    # the midpoint 3.5 lies in "b"; the span is clipped to it
    assert (s.parent, s.layer) == (2, "sources")
    assert s.start == pytest.approx(2.5, abs=1e-3) and s.end == pytest.approx(4.0)
    assert trace.self_times(t.spans, t.spans)["sinks"] == pytest.approx(0.5, abs=1e-3)


def test_parse_metric():
    assert parse_metric("1,234") == 1234
    assert parse_metric("total (min, med, max (stageId: taskId))\n1.5 KiB (0.0 B, 1.0 B)") == 1536
    assert parse_metric("39 ms") == pytest.approx(0.039)


def test_core_probe_runs_on_every_cpu():
    allowed = os.sched_getaffinity(0)
    probes = core_seconds()
    assert len(probes) == len(allowed) and all(p > 0 for p in probes)
    assert os.sched_getaffinity(0) == allowed
