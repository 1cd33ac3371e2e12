"""Benchmark of the engine, one workload per run.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 8 --trace 0

Run from the repository root. The run generates its inputs from
``--seed`` under ``.perfbench/`` (sf0.1 tables, synthetic ad accounts),
starts one local session on ``local[N]`` with N the CPUs this process
may use, and drives one closed-loop client: whole rounds of the
workload's ops (see ``workloads.py``), at least ``MIN_ROUNDS`` and
until ``--seconds`` have passed. Every op's output is checked. The last
stdout line is one JSON object, ``{"correct", "attempted", "failed",
"metrics"}``, with the end-to-end metrics (``--trace 0``) or the
per-layer metrics (``--trace 1``) of ``layers.py``; the line before it
holds the run's details (CPUs, load, versions, per-op records). A
traced run interleaves untraced and traced rounds in the order
untraced, traced, traced, untraced (repeated), so the tracing overhead
on ``op_p50_s`` is measured in the same process and the speed-up of
later rounds falls on both sides alike; it writes its spans to
``.perfbench/traces/``.

Op latency is the op's wall time scaled by the share of CPU time the
machine got while it asked for it: ``wall * (1 - steal / (busy + steal))``
over the op, from ``/proc/stat``. On a shared host the hypervisor's
steal varies from run to run (0 to 45 % measured on a 4-vCPU VM) and
stretches every op with it. The neighbours on the same physical cores
also slow a core down while it runs, which steal does not show: by up
to twice for a second, and by 2.3 times on average for over an hour
(4-vCPU VM), where the raw op latencies of ten runs spread 0.2-0.4 of
their median. So after every op the run times a fixed piece of work
on all CPUs at once (thread CPU time, which leaves steal out;
``status.core_seconds``), and every time metric is reported at the
core speed of the reference machine: divided by the run's
``slowdown``, the mean probe time over ``PROBE_REF_S``, and throughput
multiplied by it. The raw wall-time median, the slowdown and each op's
mean probe time are in the details (``op_p50_wall_s``, ``slowdown``,
``core_s``).

``setup_s`` runs from the start of session creation to the first timed
op: session and JVM start, the oracle queries and one untimed round of
every op on the timed inputs (class loading, JIT, codegen, Python
workers). Generating the inputs and checking the outputs (the warm-up
round's too, after the timed loop) is the benchmark's own work and is
not part of it.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import random
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE_DIR = os.path.join(ROOT, ".perfbench")
# the session's default heap is 24g; a benchmark run needs under 3g, and
# a smaller heap keeps it from crowding a shared host
DRIVER_MEM = "3g"
# A fixed heap and young generation: with G1 sizing both on the fly, how
# much heap the JVM had touched at its peak varied by 500 MB between runs
# of the same inputs; fixed, by under 50 MB (4-vCPU VM, analytics).
YOUNG_GEN = "512m"
# CPU seconds of the core-speed probe at the speed the time metrics are
# reported at: a quiet core of a 4-vCPU VM. The probe took 4.6 ms there
# while the cores ran 2.28 times slower than quiet, by the time an
# interpreter-bound probe took then and on the quiet VM.
PROBE_REF_S = 0.0020


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", type=float, default=0.1, help="scale of the generated tables")
    p.add_argument("--accounts", type=int, default=8, help="ad accounts per daily load")
    return p.parse_args(argv)


def configure_env(work: str) -> int:
    """Point every scratch location at ``work`` and size the session to
    the CPUs this process may run on (not the session default of 32)."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    return cpus


def session_conf(work: str) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.hadoop.hadoop.tmp.dir": tmp,
        # no hsperfdata file under /tmp; JVM temp files stay in the run dir
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEM} -Xmn{YOUNG_GEN}"
        ),
    }


def kind_medians(records) -> dict[str, float]:
    """The median latency of each op kind among ``records``: one value
    per op of a round."""
    by_kind: dict[str, list[float]] = {}
    for r in records:
        by_kind.setdefault(r["kind"], []).append(r["latency_s"])
    return {k: statistics.median(v) for k, v in by_kind.items()}


def tail(latencies: list[float]) -> tuple[float, float]:
    """(value, percentile): the highest percentile with at least ten
    samples above it. Below a hundred samples that percentile would
    sit under p90, no tail, so the slowest op is reported instead, at
    percentile 100."""
    s = sorted(latencies)
    n = len(s)
    if n >= 100:
        return s[n - 11], 100.0 * (n - 10) / n
    return s[-1], 100.0


# ------------------------------------------------------------------ run


class Runner:
    """The closed-loop client: runs ops one after another, records each
    op's latency, input rows and streaming progress, and samples memory
    between ops. ``check`` then compares every op's output with what it
    should be; no op reads what a later op writes over, so checking
    after the loop keeps the checks' jobs out of the timed window."""

    def __init__(self, args, ctx, ops):
        from .status import TriggerListener

        self.args, self.ctx, self.ops = args, ctx, ops
        self.listener = TriggerListener()
        ctx.spark.streams.addListener(self.listener)
        self.records: list[dict] = []
        self._results: list[tuple] = []  # (record, op, context round, result)
        self.rss_peak = 0.0
        # wall time of the untraced rounds, steal-scaled like op latency
        self.timed_s = 0.0
        # core-speed probe times, and the wall time the probes took
        self.core_s: list[float] = []
        self.probe_wall_s = 0.0
        self.tracer = self.status = None

    def close(self) -> None:
        self.ctx.spark.streams.removeListener(self.listener)

    def sample_rss(self) -> None:
        from .status import tree_rss_mb

        self.rss_peak = max(self.rss_peak, tree_rss_mb(os.getpid()))

    def run_op(self, op, traced: bool) -> dict:
        from .status import cpu_ticks, stolen_share

        rec = {"kind": op.kind, "round": self.ctx.round, "traced": traced, "ok": False}
        self.ctx.landed.clear()
        self.listener.take()
        try:
            ticks = cpu_ticks()
            if traced:
                result = self._traced(op, rec)
            else:
                t0 = time.perf_counter()
                result = op.run(self.ctx)
                rec["wall_s"] = time.perf_counter() - t0
            # the op's latency on CPUs the hypervisor does not share
            rec["stolen_share"] = stolen_share(ticks, cpu_ticks())
            rec["latency_s"] = rec["wall_s"] * (1.0 - rec["stolen_share"])
            rec["rows"] = op.rows(self.ctx, result)
            if op.info is not None:
                rec.update(op.info(result))
            self._results.append((rec, op, self.ctx.round, result))
        except Exception:  # an op that raises is a failed op; the run goes on
            rec["error"] = traceback.format_exc(limit=4)
        if op.layer == "streaming":
            self.listener.settle()
        triggers = self.listener.take()
        rec["triggers"] = triggers
        rec["rows"] = rec.get("rows", 0) + sum(t["input_rows"] for t in triggers)
        self.sample_rss()
        rec["core_s"] = statistics.fmean(self.probe())
        self.records.append(rec)
        return rec

    def probe(self) -> list[float]:
        from .status import core_seconds

        t0 = time.perf_counter()
        probes = core_seconds()
        self.core_s.extend(probes)
        self.probe_wall_s += time.perf_counter() - t0
        return probes

    def check(self) -> None:
        """Check every op that returned; set each record's ``ok``."""
        current = self.ctx.round
        for rec, op, rnd, result in self._results:
            self.ctx.round = rnd
            try:
                rec["ok"] = bool(op.check(self.ctx, result))
            except Exception:
                rec["error"] = traceback.format_exc(limit=4)
        self.ctx.round = current
        self._results.clear()

    def _traced(self, op, rec: dict):
        """Run ``op`` with spans on; the status-store deltas of the op
        are read right after it."""
        from .workloads import collect

        tr = self.tracer
        self.status.take()
        tr.op = len(self.records)
        tr.active = True
        try:
            if op.build is None:
                t0 = time.perf_counter()
                with tr.span(f"op.{op.kind}", "bench"):
                    result = op.run(self.ctx)
                rec["wall_s"] = time.perf_counter() - t0
                return result
            # DataFrame op: build, plan and collect timed apart; the
            # status read between build and collect is outside them
            t0 = time.perf_counter()
            with tr.span(f"op.{op.kind}", "bench"), tr.span("plans.build", "plans"):
                df = op.build(self.ctx)
            build_s = time.perf_counter() - t0
            tr.active = False
            rec["build_status"] = self.status.take()
            tr.active = True
            t1 = time.perf_counter()
            with tr.span(f"op.{op.kind}", "bench"):
                with tr.span("plans.plan", "plans"):
                    df._jdf.queryExecution().executedPlan()
                t2 = time.perf_counter()
                with tr.span("plans.exec", "plans"):
                    result = collect(df)
            t3 = time.perf_counter()
            rec.update(build_s=build_s, plan_s=t2 - t1, exec_s=t3 - t2)
            rec["wall_s"] = build_s + (t3 - t1)
            return result
        finally:
            tr.active = False
            rec["status"] = self.status.take()
            rec["storage"] = self.status.storage()
            # the executors' reads of a source, as spans of the
            # sources layer inside whichever span waited for them
            for name, start, end in rec["status"]["scan_stages"]:
                tr.insert(f"sources.{name}", "sources", start, end)

    def loop(self, seconds: float, rounds_min: int, trace: bool) -> float:
        from .status import cpu_ticks, stolen_share
        from .workloads import round_order

        rng = random.Random(self.args.seed)
        t0 = time.perf_counter()
        r = 0
        while r < rounds_min or time.perf_counter() - t0 < seconds or (trace and r < 4):
            traced = trace and r % 4 in (1, 2)
            ticks, t_round = cpu_ticks(), time.perf_counter()
            probe_s = self.probe_wall_s
            for op in round_order(self.ops, rng):
                self.run_op(op, traced)
            if not traced:
                wall = time.perf_counter() - t_round - (self.probe_wall_s - probe_s)
                self.timed_s += wall * (1.0 - stolen_share(ticks, cpu_ticks()))
            r += 1
            self.ctx.round += 1
        return time.perf_counter() - t0


def end_to_end(records, setup_s, rss_peak, timed_s, slowdown) -> tuple[dict, dict]:
    """The end-to-end metrics of untraced ``records``, which ran in
    ``timed_s`` of timed wall time (the loop's untraced rounds; the
    output checks run after the loop), on cores ``slowdown`` times
    slower than the reference machine's."""
    ok = [r for r in records if r["ok"]]
    lat = [r["latency_s"] for r in ok] or [float("nan")]
    kinds = list(kind_medians(ok).values()) or [float("nan")]
    timed_s = (timed_s or float("nan")) / slowdown
    tail_s, tail_pct = tail(lat)
    metrics = {
        "setup_s": setup_s / slowdown,
        # the median op of a round: invariant to how many rounds ran
        "op_p50_s": statistics.median(kinds) / slowdown,
        "op_tail_s": tail_s / slowdown,
        "ops_per_min": 60.0 * len(ok) / timed_s,
        "rows_per_s": sum(r["rows"] for r in ok) / timed_s,
        "ok_op_ratio": len(ok) / len(records),
        "peak_rss_mb": rss_peak,
    }
    info = {
        "op_tail_percentile": tail_pct,
        "op_samples": len(lat),
        "timed_s": timed_s,
        "slowdown": slowdown,
        "op_p50_latency_s": statistics.median(kinds),
        "op_p50_wall_s": statistics.median(
            kind_medians([{**r, "latency_s": r["wall_s"]} for r in ok]).values()
        ) if ok else float("nan"),
    }
    return metrics, info


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        import facebook_ads_bigquery_etl_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine package is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    from .workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    work = os.path.join(STATE_DIR, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    try:
        result, detail = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps(result))
    return 0


def run(args, work: str) -> tuple[dict, dict]:
    """One benchmark run; returns the result line and the details."""
    from . import inputs, layers, workloads
    from .status import StatusReader, cpu_ticks, stolen_share

    detail = {"workload": args.workload, "seed": args.seed, "loadavg_start": os.getloadavg()}
    cpus = configure_env(work)
    ops = workloads.WORKLOADS[args.workload]
    accounts = [f"act_{args.seed}_{i}" for i in range(args.accounts)]
    queries = [op.kind for op in ops if op.build is not None]

    ctx = workloads.Context(None, os.path.join(work, "data"), work, accounts)
    if queries:
        ctx.table_rows = inputs.row_counts(inputs.write_tables(ctx.data_dir, args.seed, args.sf))
    tracer = None
    if args.trace:
        from .trace import Tracer

        tracer = Tracer()
        install_trace(tracer)
    spark = None
    try:
        t_setup, ticks_setup = time.perf_counter(), cpu_ticks()
        if tracer:
            tracer.active = True
        from facebook_ads_bigquery_etl_spark import session

        spark = ctx.spark = session.get_spark("perfbench", extra_conf=session_conf(work))
        phases = {"session": time.perf_counter() - t_setup}
        if tracer:
            tracer.active = False
        t0 = time.perf_counter()
        ctx.oracles = workloads.prepare_oracles(ctx.data_dir, queries) if queries else {}
        phases["oracles"] = time.perf_counter() - t0
        # warm-up: one untimed round on the timed inputs, so class
        # loading, codegen, every Python worker and most JIT compilation
        # of the hot loops are done before timing
        warm = Runner(args, ctx, ops)
        for op in workloads.round_order(ops, random.Random(-args.seed)):
            t0 = time.perf_counter()
            warm.run_op(op, traced=False)
            phases[f"warm.{op.kind}"] = time.perf_counter() - t0
        ctx.round += 1
        warm.close()
        runner = Runner(args, ctx, ops)
        if tracer:
            runner.tracer, runner.status = tracer, StatusReader(spark)
        runner.sample_rss()
        setup_s = time.perf_counter() - t_setup
        setup_s *= 1.0 - stolen_share(ticks_setup, cpu_ticks())
        ticks0 = cpu_ticks()
        wall_s = runner.loop(args.seconds, workloads.MIN_ROUNDS[args.workload], bool(args.trace))
        ticks1 = cpu_ticks()
        # the checks read back what the ops landed, once for both
        warm.check()
        runner.check()
        detail.update(spark_version=spark.version)
    finally:
        if spark is not None:
            stop_spark(spark)

    records = runner.records
    core_s = warm.core_s + runner.core_s
    slowdown = statistics.fmean(core_s) / PROBE_REF_S
    e2e, info = end_to_end(
        [r for r in records if not r["traced"]], setup_s, runner.rss_peak, runner.timed_s,
        slowdown,
    )
    failed = sum(not r["ok"] for r in records)
    detail.update(
        cpus=cpus,
        nproc=os.cpu_count(),
        loadavg_end=os.getloadavg(),
        python_version=platform.python_version(),
        wall_s=wall_s,
        stolen_share=stolen_share(ticks0, ticks1),
        rounds=ctx.round - 1,
        setup_phases_s=phases,
        warmup_failed=[r["kind"] for r in warm.records if not r["ok"]],
        errors=[r["error"] for r in records if "error" in r][:3],
        per_kind_median_s=kind_medians([r for r in records if r["ok"]]),
        **info,
    )
    if args.trace:
        from .trace_metrics import layer_metrics

        # trace.* compare op latencies of one run: both at measured speed
        values, detail["self_s_by_kind"] = layer_metrics(
            records, tracer, info["op_p50_latency_s"], args
        )
        values["session.start_s"] = phases["session"]
        metrics = {m.name: {"value": values[m.name], "unit": m.unit} for m in layers.PER_LAYER}
        detail["end_to_end_untraced"] = e2e
        detail["trace_file"] = write_trace(args, tracer, metrics, records)
    else:
        metrics = {k: {"value": v, "unit": layers.END_TO_END[k]} for k, v in e2e.items()}
    detail["records"] = [
        {k: r.get(k) for k in ("kind", "round", "traced", "ok", "latency_s", "wall_s",
                               "stolen_share", "core_s", "rows")}
        for r in records
    ]
    result = {
        "correct": failed == 0,
        "attempted": len(records),
        "failed": failed,
        "metrics": metrics,
    }
    return result, detail


TRACED = {
    "session": [("facebook_ads_bigquery_etl_spark.session", "get_spark")],
    "sources": [("facebook_ads_bigquery_etl_spark.sources", "register_all")],
    "etl": [
        ("facebook_ads_bigquery_etl_spark.etl.runner", "handle_event"),
        ("facebook_ads_bigquery_etl_spark.etl.dispatch", "dispatch_event"),
        ("facebook_ads_bigquery_etl_spark.etl.facebook", "transform_insights"),
        ("facebook_ads_bigquery_etl_spark.operators.casting", "split_required_violations"),
    ],
    "sinks": [
        ("facebook_ads_bigquery_etl_spark.sinks", "write_day_partitioned"),
        ("facebook_ads_bigquery_etl_spark.sinks", "publish_tables_atomic"),
        ("facebook_ads_bigquery_etl_spark.sinks", "publish_tables_atomic_once"),
        ("facebook_ads_bigquery_etl_spark.sinks", "compact_partitions"),
        ("facebook_ads_bigquery_etl_spark.sinks", "compact_partitions_atomic"),
        ("facebook_ads_bigquery_etl_spark.sinks", "read_published_or_empty"),
    ],
    "plans": [
        ("facebook_ads_bigquery_etl_spark.plans.registry", "load_tables",
         lambda args, kwargs: len(args) - 2),
    ],
    "operators": [
        ("facebook_ads_bigquery_etl_spark.operators.dedup", "minhash_dup_pairs"),
        ("facebook_ads_bigquery_etl_spark.operators.multimodal", "image_dhash"),
        ("facebook_ads_bigquery_etl_spark.operators.multimodal", "synth_media_from_documents"),
    ],
    "streaming": [
        ("facebook_ads_bigquery_etl_spark.streaming.pipeline", "read_event_stream"),
        ("facebook_ads_bigquery_etl_spark.streaming.pipeline", "write_stream_to_warehouse"),
        # start, run to completion and stop of a registered stream query
        ("facebook_ads_bigquery_etl_spark.plans.streaming_queries", "_drain"),
    ],
}


def install_trace(tracer) -> None:
    import importlib

    import facebook_ads_bigquery_etl_spark.plans  # noqa: F401  (loads every query module)

    from . import workloads  # noqa: F401  (its by-name imports are rebound too)

    for layer, entries in TRACED.items():
        for module, attr, *count in entries:
            importlib.import_module(module)
            tracer.rebind(module, attr, layer, *count)


def write_trace(args, tracer, metrics, records) -> str:
    """Write the spans, per-op records and layer metrics with their
    predictions; returns the file's path relative to the repository."""
    from .layers import PER_LAYER

    path = os.path.join(STATE_DIR, "traces", f"{args.workload}-seed{args.seed}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    doc = {
        "workload": args.workload,
        "seed": args.seed,
        "predictions": [m.__dict__ for m in PER_LAYER],
        "metrics": metrics,
        "spans": [s.as_dict() for s in tracer.spans],
        "ops": [{k: v for k, v in r.items() if k != "error"} for r in records],
    }
    with open(path, "w") as fh:
        json.dump(doc, fh, default=str)
    return os.path.relpath(path, ROOT)


def stop_spark(spark) -> None:
    """Stop the session and the JVM, and wait until the JVM and every
    process under it (the Python workers) has exited."""
    from pyspark import SparkContext

    from .status import _children

    kids = _children()
    tree, stack = [], list(kids.get(os.getpid(), ()))
    while stack:
        pid = stack.pop()
        tree.append(pid)
        stack.extend(kids.get(pid, ()))
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    alive = [p for p in tree if _alive(p)]
    while alive and time.time() < deadline:
        time.sleep(0.2)
        alive = [p for p in alive if _alive(p)]
    for pid in alive:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    from perfbench.run import main as _main

    sys.exit(_main())
