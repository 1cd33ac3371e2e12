"""``bigquery_local`` — Spark 4 Python DataSource WRITER that stands in
for the BigQuery streaming-insert sink (reference main.py:81-91).

The reference appends rows with ``client.insert_rows(table, rows)`` —
an at-least-once streaming insert (no insertId → retried runs
duplicate). This datasource reproduces that interface shape on local
storage so the sink seam is demonstrably pluggable: the SAME DataFrame
routes through ``format("parquet")``, ``format("orc")`` or
``format("bigquery_local")`` with no pipeline changes (see
tests/test_sinks.py).

Write protocol (the part a real connector would share):

* each task serializes its partition to ``part-{taskAttemptId}.jsonl``
  under ``<path>/_staging/`` — executor-side, no driver involvement;
* ``commit`` (driver, after every task succeeded) moves staged files
  into the table directory — so a failed job leaves no visible rows;
* ``abort`` removes staged files.

``mode("append")`` therefore gives BigQuery-parity at-least-once
semantics across RETRIED JOBS (re-running the job appends the same
rows again, exactly like the reference's missing-insertId bug), while
individual task retries stay invisible thanks to the stage+commit
protocol.
"""

from __future__ import annotations

import dataclasses
import json
import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceWriter,
    WriterCommitMessage,
)


@dataclasses.dataclass
class _Staged(WriterCommitMessage):
    staged_path: str


class BigQueryLocalWriter(DataSourceWriter):
    def __init__(self, options: dict, overwrite: bool):
        path = options.get("path")
        if not path:
            raise ValueError("bigquery_local requires a target path (save(path))")
        self.path = path
        self.overwrite = overwrite

    def write(self, iterator):
        """Executor-side: stream this partition's rows into ONE staged
        JSONL file. Rows are rendered with default=str so dates and
        timestamps survive the trip (read back with schema inference
        or an explicit schema, as BigQuery itself would)."""
        from pyspark import TaskContext

        ctx = TaskContext.get()
        staging = os.path.join(self.path, "_staging")
        os.makedirs(staging, exist_ok=True)
        staged = os.path.join(staging, f"part-{ctx.taskAttemptId()}.jsonl")
        n = 0
        with open(staged, "w", encoding="utf-8") as fh:
            for row in iterator:
                fh.write(json.dumps(row.asDict(), default=str) + "\n")
                n += 1
        return _Staged(staged_path=staged)

    def commit(self, messages):
        """Driver-side, all tasks succeeded: publish staged files. On
        overwrite, drop previously published files first (whole-table
        truncate — the WRITE_TRUNCATE analogue)."""
        if self.overwrite:
            for f in os.listdir(self.path):
                if f.endswith(".jsonl"):
                    os.remove(os.path.join(self.path, f))
        for m in messages:
            if m is None:
                continue
            dest = os.path.join(self.path, os.path.basename(m.staged_path))
            os.replace(m.staged_path, dest)

    def abort(self, messages):
        for m in messages or []:
            if m is not None and os.path.exists(m.staged_path):
                os.remove(m.staged_path)


class BigQueryLocalDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "bigquery_local"

    def writer(self, schema, overwrite: bool) -> DataSourceWriter:
        return BigQueryLocalWriter(self.options, overwrite)


__all__ = ["BigQueryLocalDataSource", "BigQueryLocalWriter"]
