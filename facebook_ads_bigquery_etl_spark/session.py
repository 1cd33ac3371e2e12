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
* Python workers start with the ``_pyworker`` bootstrap on their
  ``PYTHONPATH`` (``spark.executorEnv.PYTHONPATH``, which reaches both
  the task-worker daemons and the data-source planner daemons). Every
  task and every planner call ends in ``importlib.invalidate_caches()``,
  which on CPython 3.11 makes each zip importer re-read ``pyspark.zip``'s
  whole central directory — about 0.14 s per round trip on a 4-vCPU
  VM, against milliseconds of work for a connector page. The
  bootstrap re-reads an archive only when its ``(st_mtime_ns,
  st_size)`` changed since the last read, relying on an archive's
  stat changing whenever its bytes do; then it runs the next
  ``sitecustomize`` on the path, if any.

A query that needs a different session conf for a while (an audit
flipping AQE knobs, a stream start pinning its state store) holds it
through :func:`scoped_conf`, which undoes it on exit.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession

DEFAULT_APP = "facebook_ads_bigquery_etl_spark"
WORKER_BOOTSTRAP_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "_pyworker")


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
    # The bootstrap goes first, so its sitecustomize runs and then
    # chains to one on the caller's worker PYTHONPATH.
    extra_conf = dict(extra_conf or {})
    caller_path = extra_conf.get("spark.executorEnv.PYTHONPATH", "").split(os.pathsep)
    extra_conf["spark.executorEnv.PYTHONPATH"] = os.pathsep.join(
        [WORKER_BOOTSTRAP_DIR, *(p for p in caller_path if p and p != WORKER_BOOTSTRAP_DIR)]
    )
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


@contextmanager
def scoped_conf(spark: SparkSession, overrides: dict[str, str]):
    """Hold ``overrides`` on ``spark``'s session conf inside this block.
    On exit, also when the block raises, each key gets back the value
    it held before, and a key that had none is unset again, so the
    session's own default applies as before."""
    saved = {}
    try:
        for k, v in overrides.items():
            prev = spark.conf.get(k, None)
            spark.conf.set(k, v)
            saved[k] = prev
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
