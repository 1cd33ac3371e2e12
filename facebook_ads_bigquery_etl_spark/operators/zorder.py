"""Z-order (Morton-curve) clustering layout — multi-dimensional data
skipping for 100 TB scans.

A day-partitioned table clustered on ONE column (sinks.py's
``sortWithinPartitions``) skips beautifully on that column and not at
all on any other. Interleaving the bits of several columns into one
sort key gives every participating column partial locality: each
output file covers a small hyper-rectangle of the key space, so
parquet min/max stats prune files/row-groups for predicates on ANY of
the z-columns — the layout trick behind Delta/Iceberg OPTIMIZE ZORDER,
built here from plain Spark expressions (shift/or — whole-stage
codegen, no UDF).

Scale: per z-column, one t-digest quantile sketch pass computes the
equi-depth bin cut points (a driver-held array of 2^bits doubles —
bounded, never data-sized; a global rank/ntile window would instead
funnel every row through one partition). The rewrite itself is one
range-repartition + within-partition sort — the same cost profile as
the single-column clustered write; the benefit is at read time,
forever after.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

BITS = 8  # per-dimension resolution; 2 dims -> 16-bit z-value


def _bin_expr(col: str, cuts: list[float]) -> Column:
    """Equi-depth bin id = #cuts ≤ value — a codegen'd filter over the
    literal cut array (2^bits comparisons/row, no UDF, no shuffle)."""
    arr = F.array(*[F.lit(float(x)) for x in cuts])
    v = F.col(col).cast("double")
    return F.size(F.filter(arr, lambda x: x <= v)).cast("long")


def z_value_binned(bins: list[Column]) -> Column:
    """Morton interleave of per-column bin ids: bit j of column i lands
    at position j·n_cols + i. Pure expression tree, codegen'd."""
    n = len(bins)
    terms = [
        F.shiftleft(F.shiftright(b, j).bitwiseAND(F.lit(1)), j * n + i)
        for i, b in enumerate(bins)
        for j in range(BITS)
    ]
    return reduce(lambda a, b: a.bitwiseOR(b), terms)


# hash-scatter geometry for the file-id placement (see write_zordered):
# ids land in a space 16× wider than the id count — collision-free per
# salt with p ≈ exp(-n/32) (~61% at n_files = 16; the 64-salt search
# fails with p < 1e-25). Width IS the shuffle's task count, so it is
# kept at the smallest value the search comfortably absorbs: 256×
# was measurably slower (4096 near-empty reduce tasks per rewrite at
# n_files = 16), not safer.
_SCATTER_WIDTH = 16
_SALT_CACHE: dict[int, int] = {}


def _scatter_salt(spark, n_files: int) -> int:
    """Smallest salt k for which pmod(hash(id, k), _SCATTER_WIDTH ·
    n_files) is collision-free over ids 0..n_files-1 — evaluated with
    Spark's OWN murmur3 (one tiny data-independent job, memoized per
    n_files), so the searched mapping is exactly the one
    HashPartitioning applies. Deterministic across sessions and
    layouts by construction."""
    if n_files in _SALT_CACHE:
        return _SALT_CACHE[n_files]
    width = _SCATTER_WIDTH * n_files
    row = (
        spark.range(64)
        .withColumnRenamed("id", "k")
        .crossJoin(spark.range(n_files))
        .select("k", F.pmod(F.hash(F.col("id"), F.col("k")), F.lit(width)).alias("p"))
        .groupBy("k")
        .agg(F.countDistinct("p").alias("d"))
        .filter(F.col("d") == n_files)
        .agg(F.min("k"))
        .first()
    )
    if row[0] is None:  # p ≈ (1 - e^{-n/32})^64 — unreachable in practice
        raise RuntimeError(f"no collision-free scatter salt for n_files={n_files}")
    _SALT_CACHE[n_files] = int(row[0])
    return _SALT_CACHE[n_files]


def write_zordered(
    df: DataFrame,
    path: str,
    zcols: list[str],
    n_files: int = 16,
) -> None:
    """Rewrite ``df`` into ``n_files`` parquet files ordered along the
    Morton curve of ``zcols``: equi-depth bin each column
    (quantile-sketch cut points — robust to skewed/non-integer
    distributions), interleave, range-repartition on the z-value
    (contiguous, balanced curve segments per file) + within-partition
    sort, so each file's parquet min/max footer covers a tight
    hyper-rectangle of the key space."""
    probs = [i / (1 << BITS) for i in range(1, 1 << BITS)]
    bins = [
        _bin_expr(c, df.approxQuantile(c, probs, 0.001)) for c in zcols
    ]
    zv = z_value_binned(bins)
    zdf = df.withColumn("__z", zv)
    # File assignment is computed from SKETCHED equi-depth cuts of the
    # z-value itself (same _bin_expr trick as the per-column bins),
    # NOT left to repartitionByRange's reservoir sampling over the raw
    # __z distribution: that sampling is seeded by the RDD id, so the
    # file boundaries — and with them each file's hyper-rectangle —
    # shifted run-to-run with session history (observed: the skipping
    # audit's worst-dim fraction swung 0.69 → 0.81 purely from
    # preceding queries in the session; r11).
    #
    # Placement of the n_files integer ids is HASH SCATTER, not range
    # (r12 advisory): range-partitioning even the coarse 16-value
    # __file key still samples its boundaries, and a reservoir miss on
    # a LOW-MASS id (skewed __z makes the equi-depth bins unequal
    # after cut quantization) merges two curve segments into one file
    # — changing the file count the skipping audit divides by. The
    # ids are instead scattered into a wide partition space
    # (_SCATTER_WIDTH × n_files) with a salt searched deterministically
    # (one 64×n_files-row job, data-independent, memoized per n_files)
    # so the ids
    # occupy collision-free buckets; empty partitions write no file
    # (except the zero-row schema file Spark always emits for an
    # empty partition 0 — legal parquet every footer reader must
    # skip), so exactly one DATA file per present id with no sampling
    # anywhere in the layout path; sortWithinPartitions supplies the
    # z-order.
    file_probs = [i / n_files for i in range(1, n_files)]
    file_cuts = zdf.approxQuantile("__z", file_probs, 1.0 / (1 << 16))
    salt = _scatter_salt(df.sparkSession, n_files)
    (
        zdf.withColumn("__file", _bin_expr("__z", file_cuts))
        # salt cast long: the searched mapping hashed (long, long) —
        # murmur3 of (long, int) is a DIFFERENT value
        .repartition(_SCATTER_WIDTH * n_files, F.col("__file"), F.lit(salt).cast("long"))
        .sortWithinPartitions("__z")
        .drop("__z", "__file")
        .write.mode("overwrite")
        .parquet(path)
    )
