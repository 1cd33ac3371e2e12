"""End-to-end job runner — the engine's analog of the reference's
Cloud Function entry point ``get_facebook_data(event, context)``
(reference main.py:94-221): decode the event, route, pull the day via
the connector layer, transform, write exactly-once.

Differences by design: ingest happens on EXECUTORS via the Python
DataSources (not a driver loop), the backfill-date path works
(reference main.py:99-100 crashes), re-runs are idempotent (dynamic
partition overwrite vs duplicating streaming inserts), and REQUIRED
violations are quarantined and returned instead of surfacing as
BigQuery insert errors.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..operators.casting import required_violation_predicate
from ..schemas import (
    FACEBOOK_CLUSTERING_FIELDS,
    FACEBOOK_PARTITION_FIELD,
    SCHEMA_FACEBOOK_STAT,
)
from ..sinks import clear_partition, write_day_partitioned
from ..sources import register_all
from .dispatch import JobRequest, dispatch_event
from .facebook import transform_insights


@dataclass
class JobResult:
    job: str
    run_date: str
    rows_written: int
    rows_quarantined: int
    warehouse_path: str


def run_facebook_job(
    spark: SparkSession,
    req: JobRequest,
    warehouse_root: str,
    transport: str,
    until: str | None = None,
) -> JobResult:
    """One day by default; pass ``until`` for a backfill range — the
    connector plans one partition per (account × day), so an N-day
    backfill is N× the parallelism, not N sequential runs."""
    d = req.run_date.isoformat()
    raw = (
        spark.read.format("facebook_insights")
        .option("accounts", req.attributes.get("accounts", "act_demo"))
        .option("transport", transport)
        .option("since", d)
        .option("until", until or d)
        .load()
        .drop("ad_account")
    )
    stat = transform_insights(raw)
    bad = required_violation_predicate(SCHEMA_FACEBOOK_STAT)
    path = f"{warehouse_root}/facebook_stat"
    # One connector pull: the sink counts written and rejected rows on
    # the write's own pass.
    n_written, n_quarantined = write_day_partitioned(
        stat,
        path,
        partition_field=FACEBOOK_PARTITION_FIELD,
        clustering_fields=FACEBOOK_CLUSTERING_FIELDS,
        reject=bad,
    )
    # Rejected rows land in a side table in the target schema, as cast:
    # a value that failed its cast (clicks 'oops') is NULL there, every
    # other column keeps its typed value. The reference loses these rows
    # to opaque BigQuery insert errors (main.py:86-89); here they stay
    # queryable. The side table holds each run date once, like the main
    # table: a rerun replaces its run date's rows, and a rerun that
    # rejects nothing clears them on the driver without a Spark job.
    side = f"{warehouse_root}/quarantine/facebook_stat"
    if n_quarantined:
        # This rare path pulls the day from the connector a second time.
        write_day_partitioned(
            stat.filter(bad).withColumn("_quarantined_on", F.lit(d)),
            side,
            partition_field="_quarantined_on",
        )
    else:
        clear_partition(side, "_quarantined_on", d)
    return JobResult("get_facebook", d, n_written, n_quarantined, path)


def run_currency_job(
    spark: SparkSession, req: JobRequest, warehouse_root: str, transport: str
) -> JobResult:
    d = req.run_date.isoformat()
    fx = (
        spark.read.format("currencylayer")
        .option("source", req.attributes.get("from_currency", "USD"))
        .option("currencies", req.attributes.get("to_currency", "UAH"))
        .option("transport", transport)
        .option("since", d)
        .option("until", d)
        .load()
    )
    path = f"{warehouse_root}/exchange_rate"
    n_written, _ = write_day_partitioned(fx, path, partition_field="date")
    return JobResult("get_currency", d, n_written, 0, path)


def handle_event(
    spark: SparkSession,
    event: dict,
    warehouse_root: str,
    transport: str = "fixture",
) -> JobResult:
    """Decode + route + run one daily job (the reference's whole
    lifecycle, SURVEY §3). ``transport`` picks the API backend
    (fixture/synthetic for tests, http in production)."""
    register_all(spark)
    req = dispatch_event(event)
    if req.job == "get_facebook":
        return run_facebook_job(spark, req, warehouse_root, transport)
    return run_currency_job(spark, req, warehouse_root, transport)
