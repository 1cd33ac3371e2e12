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

import os
from collections.abc import Callable

from py4j.java_gateway import JavaClass, JavaObject
from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession

from ..operators.materialize import invocation
from ..sinks import spark_lists

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


_SUMMARIES = ("_common_metadata", "_metadata")


def _schema_file(path: str) -> str | None:
    """The file Spark's non-merging parquet inference reads for ``path``:
    the path itself, or for a local directory its first listed data
    file in path order (ParquetUtils.splitFiles sorts the leaves by
    path string and inference takes the head). None when there is no
    such local file, and when a summary file is present, which Spark
    would read first."""
    path = os.path.abspath(path)
    if os.path.isfile(path):
        return path
    leaves = []
    for root, dirs, files in os.walk(path, followlinks=True):
        if any(f in _SUMMARIES for f in files):
            return None
        dirs[:] = [d for d in dirs if spark_lists(d)]
        leaves += [f"{root}/{f}" for f in files if spark_lists(f)]
    return min(leaves, default=None)


def _footer_schema(spark: SparkSession, path: str) -> JavaObject | None:
    """The data schema ``spark.read.parquet(path)`` infers, as a JVM
    StructType, read from one footer on the driver instead of in a
    Spark job.

    Inference reads the footer of the file ``_schema_file`` picks and
    converts it with Spark's own ``readSchemaFromFooter`` (the
    Spark-written row-metadata schema first, else the parquet schema),
    so this runs the same conversion on the same file, with the
    converter built as ``ParquetFileFormat.mergeSchemasInParallel``
    builds it from the session conf as it is now (``nanosAsLong``
    included). Returns None — leave it to Spark — when there is no
    local data file (a missing path, an empty directory, a non-local
    URI), when the session merges schemas across files, or when the
    footer cannot be read or converted."""
    file = _schema_file(path)
    state = spark._jsparkSession.sessionState()
    conf = state.conf()
    if file is None or conf.isParquetSchemaMergingEnabled():
        return None
    gateway = spark._jvm._gateway_client

    def jclass(name: str) -> JavaClass:
        # by full name: walking spark._jvm.org.apache... costs one py4j
        # round trip per package segment
        return JavaClass(name, gateway)

    pq = "org.apache.spark.sql.execution.datasources.parquet."
    defaults = getattr(jclass(pq + "ParquetToSparkSchemaConverter$"), "MODULE$")

    def default(i: int) -> bool:
        return getattr(defaults, f"$lessinit$greater$default${i}")()

    converter = jclass(pq + "ParquetToSparkSchemaConverter")(
        conf.isParquetBinaryAsString(),
        conf.isParquetINT96AsTimestamp(),
        default(3),
        conf.parquetInferTimestampNTZEnabled(),
        conf.legacyParquetNanosAsLong(),
        default(6),
        default(7),
        conf.parquetReaderRespectUnknownTypeAnnotation(),
    )
    jpath = jclass("org.apache.hadoop.fs.Path")(file)
    try:
        footer = jclass(pq + "ParquetFooterReader").readFooter(
            jclass("org.apache.parquet.hadoop.util.HadoopInputFile").fromPath(
                jpath, state.newHadoopConf()
            ),
            jclass(
                "org.apache.parquet.format.converter.ParquetMetadataConverter"
            ).SKIP_ROW_GROUPS,
        )
        return jclass(pq + "ParquetFileFormat").readSchemaFromFooter(
            jclass("org.apache.parquet.hadoop.Footer")(jpath, footer), converter
        )
    except Py4JJavaError:
        return None


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the data schema read from the
    footer Spark's inference would read, so resolving the table starts
    no Spark job. Partition columns are still discovered (and typed)
    from the listing, and Spark infers — and raises — as before where
    ``_footer_schema`` returns None."""
    schema = _footer_schema(spark, path)
    reader = spark.read
    if schema is not None:
        # the JVM StructType straight to the JVM reader: pyspark's
        # .schema() would round-trip it through JSON (~7 ms a table)
        reader._jreader.schema(schema)
    return reader.parquet(path)


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
      identical truncated values.

    Each table goes through ``read_parquet``: its schema is converted on
    the driver from the footer of the file Spark's own inference would
    read (the ``.parquet`` file itself, or a directory's first data file
    in path order), after nanosAsLong is set, so building a query starts
    no schema-inference job. The footer is read again on every call, so
    a table rewritten between calls (or an events unit that changed) is
    seen as it is now."""
    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    out = {}
    for n in names:
        df = read_parquet(spark, f"{sf_dir}/{n}.parquet")
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
