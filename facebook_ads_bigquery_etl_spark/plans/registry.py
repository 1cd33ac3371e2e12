"""Registry mapping query name → (spark impl, optional DuckDB oracle).

Contract (driver): the Spark callable takes (spark, sf_dir) and returns
a DataFrame; the oracle is ANSI SQL over pre-registered DuckDB views of
the same parquet files. Column names/aliases MUST match between the
two — the comparison sorts columns by name and hashes values.

Cross-engine determinism rules used throughout the library:

* every DOUBLE aggregate/output is ROUND()ed identically on both sides
  (parallel summation order differs between engines; rounding at a
  precision far above the float error bound makes hashes stable);
* every ORDER BY ... LIMIT / row_number ranking orders by the rounded
  measure plus a unique key tie-breaker (total order ⇒ same rows);
* integer aggregates are CAST(... AS BIGINT) in DuckDB (its SUM/COUNT
  can widen to HUGEINT, Spark stays BIGINT);
* raw timestamps are never emitted (Spark truncates parquet ns → µs);
  dates or integer epochs are emitted instead;
* NULLs from outer joins / LAG are COALESCEd to sentinels on both sides.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from ..operators.materialize import invocation

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    """Decorator: add a query (and its oracle SQL) to the registry.
    Each call of the query is one materialization invocation
    (operators/materialize)."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        fn = QUERIES[name] = invocation(fn)
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    """Read the requested parquet tables and register temp views so a
    query body can use either the DataFrame API or spark.sql.

    Two session confs are pinned here (runtime-settable, so this works
    under the driver's own vanilla session, not just ours):

    * UTC session timezone — the engine's declared date/timestamp
      semantics (BigQuery-style UTC dates, reference main.py:67-70's
      DAY partitioning). Without it, a driver session in another zone
      shifts `CAST(ts AS DATE)` across midnight vs the DuckDB oracle
      (observed: America/New_York moved events onto 2023-12-31).
    * nanosAsLong — the events table carries TIMESTAMP(NANOS) parquet,
      which Spark 4 refuses by default; it is read as nanos-since-epoch
      and converted to a µs timestamp with exact integer division
      (``div`` — double division would lose precision on epoch-nanos
      > 2^53). DuckDB's TIMESTAMP is µs-precision, so both engines see
      identical truncated values."""
    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    out = {}
    for n in names:
        df = spark.read.parquet(f"{sf_dir}/{n}.parquet")
        ts_dtype = dict(df.dtypes).get("ts")
        if n == "events" and ts_dtype == "bigint":
            # TIMESTAMP(NANOS) parquet surfaced via nanosAsLong
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif n == "events" and ts_dtype == "timestamp_ntz":
            # µs parquet without tz lands as TIMESTAMP_NTZ in Spark 4;
            # under the UTC session zone the cast is value-identity, and
            # it keeps epoch functions (unix_micros et al.) resolvable.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        df.createOrReplaceTempView(n)
        out[n] = df
    return out
