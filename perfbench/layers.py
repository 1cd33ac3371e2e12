"""The metrics the benchmark reports, and what each layer metric predicts.

``END_TO_END`` is what a run prints without tracing. ``PER_LAYER`` is
what a traced run prints: one row per metric with its unit, which way
is better, the end-to-end metric and workload it should move, and the
workload where it should stay flat. A performance change names the
layer metric it moves; the prediction columns say where to look for
the end-to-end effect and where none is expected.

Values are means per traced op, except: ``sources.*`` and ``etl.*`` are
per load op (the one op that drives them), ``operators.persisted_rdds_live``
and ``operators.storage_mem_mb`` are read after the last op, ratios
divide run totals, and ``*.self_s`` is span time not covered by child
spans. ``trace.overhead_s`` is the traced minus the untraced
``op_p50_s`` of the same run; all ``trace.*`` and ``*_s`` layer values
are at the speed the run measured, not scaled by its ``slowdown`` to
the reference machine as the end-to-end times are.

The connectors read on the executors, inside the Spark jobs that
``etl`` and ``sinks`` calls start. ``sources.self_s`` is therefore the
registration of the sources plus the wall time of every stage that
scans a source (submission to completion, taken out of the span that
waited for it); that stage also runs the row-wise transform and
casting Spark pipelines into the scan. The driver-side planning of a
source's partitions stays in the caller's self time.
"""

from __future__ import annotations

from dataclasses import dataclass

END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "ops_per_min": "ops/min",
    "rows_per_s": "rows/s",
    "ok_op_ratio": "ratio",
    "peak_rss_mb": "MB",
}


@dataclass(frozen=True)
class LayerMetric:
    name: str
    unit: str
    better: str
    moves: str  # end-to-end metric(s) it should move
    on: str  # workload where it moves them
    flat_on: str  # workload where it should not move


def _m(name, unit, better, moves, on, flat_on) -> LayerMetric:
    return LayerMetric(name, unit, better, moves, on, flat_on)


PER_LAYER = [
    _m("session.start_s", "s", "lower", "setup_s", "all", "-"),
    _m("sources.partitions_planned", "count", "lower", "op_p50_s", "ingest", "analytics"),
    _m("sources.rows_emitted", "rows", "lower", "op_p50_s rows_per_s", "ingest", "analytics"),
    _m("sources.scan_passes", "ratio", "lower", "op_p50_s rows_per_s", "ingest", "analytics"),
    _m("sources.retries", "count", "lower", "op_p50_s", "ingest", "analytics"),
    _m("sources.self_s", "s", "lower", "op_p50_s", "ingest", "analytics"),
    _m("etl.jobs_per_op", "count", "lower", "op_p50_s", "ingest", "analytics"),
    _m("etl.transform_build_s", "s", "lower", "op_p50_s", "ingest", "analytics"),
    _m("etl.quarantined_ratio", "ratio", "lower", "ok_op_ratio", "ingest", "analytics"),
    _m("etl.self_s", "s", "lower", "op_p50_s", "ingest", "analytics"),
    _m("sinks.write_s", "s", "lower", "op_p50_s", "ingest", "analytics"),
    _m("sinks.write_tasks", "count", "lower", "op_p50_s", "ingest", "analytics"),
    _m("sinks.write_empty_tasks", "count", "lower", "op_p50_s", "ingest", "analytics"),
    _m("sinks.files_written", "count", "lower", "op_p50_s", "ingest", "analytics"),
    _m("sinks.bytes_per_row", "B/row", "lower", "op_p50_s", "ingest", "analytics"),
    _m("sinks.publish_s", "s", "lower", "op_p50_s", "ingest", "analytics"),
    _m("sinks.self_s", "s", "lower", "op_p50_s", "ingest", "analytics"),
    _m("plans.load_tables_s", "s", "lower", "op_p50_s ops_per_min", "analytics", "ingest"),
    _m("plans.tables_loaded", "count", "lower", "op_p50_s ops_per_min", "analytics", "ingest"),
    _m("plans.build_s", "s", "lower", "op_p50_s ops_per_min", "analytics", "ingest"),
    _m("plans.build_jobs", "count", "lower", "op_p50_s ops_per_min", "analytics", "ingest"),
    _m("plans.plan_s", "s", "lower", "op_p50_s ops_per_min", "analytics", "ingest"),
    _m("plans.exec_s", "s", "lower", "op_p50_s ops_per_min", "analytics", "ingest"),
    _m("plans.self_s", "s", "lower", "op_p50_s ops_per_min", "analytics", "ingest"),
    _m("operators.python_bytes_sent", "B", "lower", "op_p50_s", "analytics", "ingest"),
    _m("operators.python_bytes_returned", "B", "lower", "op_p50_s", "analytics", "ingest"),
    _m("operators.persisted_rdds_live", "count", "lower", "peak_rss_mb", "analytics", "ingest"),
    _m("operators.storage_mem_mb", "MB", "lower", "peak_rss_mb", "analytics", "ingest"),
    _m("operators.self_s", "s", "lower", "op_p50_s", "analytics", "ingest"),
    _m("streaming.batches", "count", "lower", "op_p50_s rows_per_s", "analytics", "ingest"),
    _m("streaming.input_rows", "rows", "higher", "rows_per_s", "analytics", "ingest"),
    _m("streaming.add_batch_s", "s", "lower", "op_p50_s rows_per_s", "analytics", "ingest"),
    _m("streaming.engine_phases_s", "s", "lower", "op_p50_s rows_per_s", "analytics", "ingest"),
    _m("streaming.outside_trigger_s", "s", "lower", "op_p50_s", "analytics", "ingest"),
    _m("spark.jobs", "count", "lower", "op_p50_s", "all", "-"),
    _m("spark.stages", "count", "lower", "op_p50_s", "all", "-"),
    _m("spark.tasks", "count", "lower", "op_p50_s", "all", "-"),
    _m("spark.task_run_s", "s", "lower", "op_p50_s", "all", "-"),
    _m("spark.task_cpu_s", "s", "lower", "op_p50_s", "all", "-"),
    _m("spark.gc_s", "s", "lower", "op_p50_s peak_rss_mb", "all", "-"),
    _m("spark.shuffle_write_bytes", "B", "lower", "op_p50_s", "all", "-"),
    _m("spark.spill_bytes", "B", "lower", "op_p50_s", "all", "-"),
    _m("spark.busy_ratio", "ratio", "higher", "ops_per_min", "all", "-"),
    _m("trace.op_p50_s", "s", "lower", "op_p50_s", "all", "-"),
    _m("trace.untraced_op_p50_s", "s", "lower", "op_p50_s", "all", "-"),
    _m("trace.overhead_s", "s", "lower", "-", "all", "-"),
    _m("trace.unattributed_s", "s", "lower", "op_p50_s", "all", "-"),
]
