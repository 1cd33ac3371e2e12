"""Idempotent DDL — the engine's analog of the reference's
``exist_dataset_table`` (reference main.py:44-78): create-if-missing
dataset (→ Spark database), and the bucketed managed-table layout of
the co-located-join proof. The ETL path writes day-partitioned files
(``sinks.write_day_partitioned``), not managed tables.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def ensure_database(spark: SparkSession, db: str, location: str | None = None) -> None:
    """CREATE DATABASE IF NOT EXISTS (reference main.py:48-55; the
    hardcoded location "US" becomes an argument)."""
    loc = f" LOCATION '{location}'" if location else ""
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}{loc}")


def write_bucketed_table(
    df,
    db: str,
    table: str,
    bucket_col: str,
    n_buckets: int = 32,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
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
    spark = df.sparkSession
    ensure_database(spark, db)
    writer = df.write.mode(mode).bucketBy(n_buckets, bucket_col)
    writer = writer.sortBy(*(sort_cols or [bucket_col]))
    writer.saveAsTable(f"{db}.{table}")
    return "ok"
