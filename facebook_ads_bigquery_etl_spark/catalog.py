"""Idempotent DDL — the engine's analog of the reference's
``exist_dataset_table`` (reference main.py:44-78): the bucketed
managed-table layout of the co-located-join proof, whose dataset
(→ Spark database) is created if missing (reference main.py:48-55,
without the hardcoded location "US"). The ETL path writes
day-partitioned files (``sinks.write_day_partitioned``), not managed
tables.
"""

from __future__ import annotations


def write_bucketed_table(
    df,
    db: str,
    table: str,
    bucket_col: str,
    n_buckets: int = 32,
    sort_cols: list[str] | None = None,
) -> str:
    """Write a managed table bucketed (hash-partitioned on disk) by
    ``bucket_col`` — the co-located-join layout: two tables bucketed
    the same way join with NO shuffle on either side (each bucket i
    joins bucket i), the physical analog of BigQuery clustering for
    join keys rather than scan pruning.

    At 100 TB this converts the recurring fact⋈fact shuffle (the
    dominant cost of a star-schema workload) into a one-time layout
    cost paid at ingest. Bucket count should be sized so one bucket
    ≈ one task's memory budget at the target scale.
    """
    df.sparkSession.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
    writer = df.write.mode("overwrite").bucketBy(n_buckets, bucket_col)
    writer = writer.sortBy(*(sort_cols or [bucket_col]))
    writer.saveAsTable(f"{db}.{table}")
    return "ok"
