"""SparkSession factory with scale-appropriate defaults.

The reference runs single-threaded in a 1 GiB Cloud Function
(reference README.md:44); here the execution substrate is Spark. The
defaults below are the ones that matter at 100 TB:

* AQE on (runtime shuffle coalescing, skew-join splitting, dynamic
  broadcast) — replaces any hand-tuned plan choices.
* ``spark.sql.shuffle.partitions`` sized to cores locally; on a real
  cluster AQE coalesces from a high initial number, so the local value
  only needs to avoid tiny-partition overhead.
* Session timezone pinned UTC so date/timestamp semantics are stable
  across engines (and match the DuckDB oracle).
* Arrow enabled for any pandas interchange (vectorized UDF path).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_APP = "facebook_ads_bigquery_etl_spark"


def get_spark(
    app_name: str = DEFAULT_APP,
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a local SparkSession tuned for this engine.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` (driver contract) or,
    when that is unset, the CPUs this process may run on — so a bare
    run never oversubscribes the host.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # Spill-aware scan splits: 128 MiB input slices keep a task's
        # working set within a few hundred MiB of executor memory at
        # any SF; AQE then coalesces small post-shuffle partitions, so
        # the only knob to revisit at 100 TB is shuffle_partitions'
        # INITIAL value (set high; AQE shrinks, never grows).
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
