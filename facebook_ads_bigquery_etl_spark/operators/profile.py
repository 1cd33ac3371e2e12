"""Table statistics collection (the engine's ANALYZE TABLE).

The reference relies on BigQuery to keep table metadata; an engine
that plans its own joins at 100 TB needs column-level statistics —
row count, null count, NDV, min/max — to pick broadcast sides,
estimate shuffle widths, and validate layout decisions (the z-order /
clustering choices in operators/zorder.py are driven by exactly these
numbers).

Two passes over the (column-pruned) table: one plain aggregate for
counts / min-max / HLL sketches, one for the exact NDVs — kept apart
deliberately, see the buffer-blowup note in ``column_profile``. The
scale path for NDV is
``approx_count_distinct`` (HLL++, mergeable, constant memory); the
exact NDV is also computed here so the sketch's error is *measured*,
not assumed — at 100 TB you would drop the exact columns and keep
the audit to sampled partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def column_profile(
    df: DataFrame,
    numeric_cols: list[str],
    string_cols: list[str],
) -> DataFrame:
    """One row per profiled column: rows, nulls, exact + approx NDV,
    an integer-arithmetic bound check (|approx-exact|·100 ≤ 2·exact),
    numeric min/max (rounded doubles) or string min/max.

    Numeric and string min/max land in separate typed columns — a
    shared stringified column would make the result hostage to each
    engine's float-formatting rules.
    """
    # Exact NDVs go in a SEPARATE aggregate pass: multiple
    # COUNT(DISTINCT) triggers Catalyst's Expand rewrite, whose first
    # stage groups by (gid, value) — and every such group's aggregation
    # buffer would also carry the HLL++ sketches (rsd 1% → 2^14
    # registers each) if they shared the agg. At ~180k distinct values
    # that is gigabytes of buffer and a guaranteed executor OOM; split,
    # each pass is a plain single-group aggregate with constant memory.
    aggs: list[F.Column] = [F.count(F.lit(1)).alias("_rows")]
    for c in numeric_cols + string_cols:
        aggs.append(F.count(c).alias(f"_nn_{c}"))
        # rsd 1%: the audit pins a 2% bound, and the default 5% rsd
        # genuinely misses it (observed 58565 vs 59821 on sf0.01)
        aggs.append(F.approx_count_distinct(c, rsd=0.01).alias(f"_andv_{c}"))
    for c in numeric_cols:
        aggs.append(F.round(F.min(c), 4).alias(f"_min_{c}"))
        aggs.append(F.round(F.max(c), 4).alias(f"_max_{c}"))
    for c in string_cols:
        aggs.append(F.min(c).alias(f"_smin_{c}"))
        aggs.append(F.max(c).alias(f"_smax_{c}"))
    ndv_aggs = [
        F.count_distinct(F.col(c)).alias(f"_ndv_{c}")
        for c in numeric_cols + string_cols
    ]
    stats = df.agg(*aggs).crossJoin(df.agg(*ndv_aggs))

    rows = []
    for c in numeric_cols + string_cols:
        is_num = c in numeric_cols
        rows.append(
            F.struct(
                F.lit(c).alias("col_name"),
                F.col("_rows").alias("n_rows"),
                (F.col("_rows") - F.col(f"_nn_{c}")).alias("n_nulls"),
                F.col(f"_ndv_{c}").alias("n_distinct"),
                (
                    F.abs(F.col(f"_andv_{c}") - F.col(f"_ndv_{c}")) * 100
                    <= F.lit(2) * F.col(f"_ndv_{c}")
                ).alias("ndv_within_tol"),
                (F.col(f"_min_{c}") if is_num else F.lit(None).cast("double")).alias("min_num"),
                (F.col(f"_max_{c}") if is_num else F.lit(None).cast("double")).alias("max_num"),
                (F.lit(None).cast("string") if is_num else F.col(f"_smin_{c}")).alias("min_str"),
                (F.lit(None).cast("string") if is_num else F.col(f"_smax_{c}")).alias("max_str"),
            )
        )
    return stats.select(F.explode(F.array(*rows)).alias("s")).select("s.*")
