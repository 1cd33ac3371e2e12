"""Per-layer metrics of a traced run, from its spans, the status-store
deltas and the streaming progress recorded with every traced op; how
each is aggregated is described in ``layers.py``.
"""

from __future__ import annotations

import os
import statistics

from facebook_ads_bigquery_etl_spark.sources.currencylayer import CurrencyLayerReader
from facebook_ads_bigquery_etl_spark.sources.facebook_insights import FacebookInsightsReader

from .run import kind_medians
from .trace import self_times

ENGINE_PHASES = ("latestOffset", "getBatch", "queryPlanning", "walCommit", "commitOffsets")


def _sum(records, key) -> float:
    return sum(r.get(key, 0.0) for r in records)


def _status(records, field) -> float:
    return sum(
        r.get("status", {}).get(field, 0.0) + r.get("build_status", {}).get(field, 0.0)
        for r in records
    )


def _div(a: float, b: float) -> float:
    return a / b if b else 0.0


def planned_partitions(accounts: int) -> int:
    """Input partitions the two connectors plan for one day's load of
    ``accounts`` accounts, from their own planning code."""
    day = {"since": "2024-01-01", "until": "2024-01-01", "transport": "synthetic"}
    names = ",".join(f"a{i}" for i in range(accounts))
    fb = FacebookInsightsReader(None, {**day, "accounts": names})
    return len(fb.partitions()) + len(CurrencyLayerReader(None, day).partitions())


def layer_metrics(records, tracer, untraced_p50, args) -> tuple[dict, dict]:
    """(metric values by name, mean latency and per-layer self time by
    op kind) over the traced ops among ``records``."""
    cpus = int(os.environ["SPARK_GRAFT_CPUS"])
    traced = [r for r in records if r["traced"]]
    index = {id(r): i for i, r in enumerate(records)}
    n = len(traced) or 1
    loads = [r for r in traced if r["kind"] == "load"]
    n_load = len(loads)
    loaded_rows = _sum(loads, "landed") + _sum(loads, "quarantined")

    spans_by_op: dict[int, list] = {}
    for s in tracer.spans:
        spans_by_op.setdefault(s.op, []).append(s)

    def spans(recs, *names):
        return [s for r in recs for s in spans_by_op.get(index[id(r)], ()) if s.name in names]

    def span_s(recs, *names) -> float:
        return sum(s.end - s.start for s in spans(recs, *names))

    selfs: dict[str, float] = {}
    by_kind: dict[str, dict[str, float]] = {}
    for r in traced:
        own = spans_by_op.get(index[id(r)], [])
        st = self_times(own, tracer.spans)
        kind = by_kind.setdefault(r["kind"], {"ops": 0, "latency_s": 0.0})
        kind["ops"] += 1
        kind["latency_s"] += r.get("latency_s", 0.0)
        for layer, v in st.items():
            selfs[layer] = selfs.get(layer, 0.0) + v
            kind[layer] = kind.get(layer, 0.0) + v
    for kind in by_kind.values():
        for k in list(kind):
            if k != "ops":
                kind[k] /= kind["ops"]

    triggers = [t for r in traced for t in r.get("triggers", ())]
    stream_ops = [r for r in traced if r.get("triggers")]
    write_tasks = _status(traced, "write_tasks")
    task_run = _status(traced, "executorRunTime") / 1e3
    lat = list(kind_medians([r for r in traced if r["ok"]]).values()) or [0.0]
    last_storage = traced[-1]["storage"] if traced else (0, 0.0)
    load_tables = spans(traced, "registry.load_tables")

    m = {
        "sources.partitions_planned": planned_partitions(args.accounts) if n_load else 0.0,
        "sources.rows_emitted": _div(_status(loads, "batchscan_rows"), n_load),
        "sources.scan_passes": _div(_status(loads, "batchscan_rows"), loaded_rows),
        "sources.retries": _div(_status(loads, "numFailedTasks"), n_load),
        "sources.self_s": _div(selfs.get("sources", 0.0), n_load),
        "etl.jobs_per_op": _div(_status(loads, "jobs"), n_load),
        "etl.transform_build_s": _div(
            span_s(loads, "facebook.transform_insights", "casting.split_required_violations"), n_load
        ),
        "etl.quarantined_ratio": _div(_sum(loads, "quarantined"), loaded_rows),
        "etl.self_s": _div(selfs.get("etl", 0.0), n_load),
        "sinks.write_s": span_s(traced, "sinks.write_day_partitioned") / n,
        "sinks.write_tasks": write_tasks / n,
        "sinks.write_empty_tasks": max(0.0, write_tasks - _status(traced, "write_files")) / n,
        "sinks.files_written": _status(traced, "write_files") / n,
        "sinks.bytes_per_row": _div(_status(traced, "write_bytes"), _status(traced, "write_rows")),
        "sinks.publish_s": span_s(
            traced, "sinks.publish_tables_atomic", "sinks.publish_tables_atomic_once"
        ) / n,
        "sinks.self_s": selfs.get("sinks", 0.0) / n,
        "plans.load_tables_s": sum(s.end - s.start for s in load_tables) / n,
        "plans.tables_loaded": sum(s.count for s in load_tables) / n,
        "plans.build_s": (
            _sum(traced, "build_s")
            - sum(s.end - s.start for s in load_tables if s.parent is not None)
        ) / n,
        "plans.build_jobs": sum(r.get("build_status", {}).get("jobs", 0.0) for r in traced) / n,
        "plans.plan_s": _sum(traced, "plan_s") / n,
        "plans.exec_s": _sum(traced, "exec_s") / n,
        "plans.self_s": selfs.get("plans", 0.0) / n,
        "operators.python_bytes_sent": _status(traced, "python_bytes_sent") / n,
        "operators.python_bytes_returned": _status(traced, "python_bytes_returned") / n,
        "operators.persisted_rdds_live": float(last_storage[0]),
        "operators.storage_mem_mb": float(last_storage[1]),
        "operators.self_s": selfs.get("operators", 0.0) / n,
        "streaming.batches": len(triggers) / n,
        "streaming.input_rows": sum(t["input_rows"] for t in triggers) / n,
        "streaming.add_batch_s": sum(t.get("addBatch", 0.0) for t in triggers) / n,
        "streaming.engine_phases_s": sum(
            t.get(p, 0.0) for t in triggers for p in ENGINE_PHASES
        ) / n,
        "streaming.outside_trigger_s": (
            _sum(stream_ops, "latency_s")
            - sum(t.get("triggerExecution", 0.0) for t in triggers)
        ) / n,
        "spark.jobs": _status(traced, "jobs") / n,
        "spark.stages": _status(traced, "stages") / n,
        "spark.tasks": _status(traced, "numTasks") / n,
        "spark.task_run_s": task_run / n,
        "spark.task_cpu_s": _status(traced, "executorCpuTime") / 1e9 / n,
        "spark.gc_s": _status(traced, "jvmGcTime") / 1e3 / n,
        "spark.shuffle_write_bytes": _status(traced, "shuffleWriteBytes") / n,
        "spark.spill_bytes": (
            _status(traced, "memoryBytesSpilled") + _status(traced, "diskBytesSpilled")
        ) / n,
        "spark.busy_ratio": _div(task_run, _sum(traced, "latency_s") * cpus),
        "trace.op_p50_s": statistics.median(lat),
        "trace.untraced_op_p50_s": untraced_p50,
        "trace.overhead_s": statistics.median(lat) - untraced_p50,
        "trace.unattributed_s": selfs.get("bench", 0.0) / n,
    }
    return m, by_kind
