"""Global ranking without a single-partition window.

An unpartitioned window (``Window.orderBy`` with no ``partitionBy``)
plans an ``Exchange SinglePartition``: the ENTIRE input is sorted by
one task — fine at bench scale (measured 2.9–3.0× wall at 10×), the
bottleneck at 100×+. These operators compute the same exact global
rank / ntile with fully parallel stages:

1. value-based histogram boundaries from ``approxQuantile`` — ONLY a
   parallelism lever: exactness never depends on them, any
   deterministic value cuts work (approximate, skewed, even a single
   cut all stay correct, just less parallel);
2. per-bucket exact counts → cumulative offsets (one row per bucket,
   driver-side, broadcast back as a literal map);
3. ``row_number`` within each bucket (``partitionBy(bucket)`` — many
   small parallel windows);
4. global rank = bucket offset + local rank; ntile from the rank by
   Spark's own bucket-size distribution (first N mod k tiles get
   ⌈N/k⌉ rows).

Exactness requires the order to be TOTAL (pass tiebreak columns that
make it unique — every registered quartile/rank query already orders
by (value, key)); ties in ``value_col`` land in one bucket by
construction, so cross-bucket order is never violated.

Reference has no ranking surface (`main.py` is connector-only); this
is the scale form of the W-family global-rank queries — wired into
`order_value_quartiles`, `customer_rfm_segments` and `orders_pareto`,
whose committed plans carry no `Exchange SinglePartition` (10× ratio
2.9–3.0 → 1.15–1.21, STRESS.md round-9 section). There is no
single-partition fallback for small inputs: every caller ranks a
corpus-grain frame, and one code path keeps one plan shape.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _bucket_of(value_col: str, cuts: list[float]) -> Column:
    # index = #cuts strictly below the value (bisect_left over the
    # sorted, deduplicated cuts) → rows tied on a cut value share a
    # bucket. Balanced CASE tree = binary search: ≤ ⌈log2(n)⌉ codegen
    # comparisons per row. (The original F.aggregate HOF walked all n
    # cuts per row through an INTERPRETED lambda — CodegenFallback —
    # which at the old n_buckets=256 dominated the whole operator's
    # job time; r13 optimization, guide §1.2/§4.1 "prefer built-ins
    # with codegen". The tree is rendered as ONE SQL string and parsed
    # JVM-side: building it node-by-node through py4j cost ~1.4 s per
    # construction at 255 cuts, measured.) Semantics identical to the
    # HOF: NULL value → every `>` is NULL → every WHEN takes the ELSE
    # branch → bucket 0, exactly like the old sum of 0s; NaN > any
    # non-NaN in Spark's ordering → top bucket, like the old per-cut
    # comparisons.
    import math

    v = f"`{value_col}`"

    def lit(c: float) -> str:
        c = float(c)
        if math.isnan(c):
            return "CAST('NaN' AS DOUBLE)"
        if math.isinf(c):
            return f"CAST('{'-' if c < 0 else ''}Infinity' AS DOUBLE)"
        return repr(c) + "D"  # shortest repr round-trips exactly

    def tree(lo: int, hi: int) -> str:
        # returns #cuts < value, given cuts[:lo] all < value and
        # cuts[hi:] all >= value
        if lo == hi:
            return str(lo)
        mid = (lo + hi) // 2
        return (
            f"CASE WHEN {v} > {lit(cuts[mid])} "
            f"THEN {tree(mid + 1, hi)} ELSE {tree(lo, mid)} END"
        )

    return F.expr(tree(0, len(cuts)))


def _default_buckets(df: DataFrame) -> int:
    """Scale-adaptive bucket count: 2× the cluster's default
    parallelism (floor 64, cap 4096) instead of a constant — buckets
    only set the window parallelism and the quantile-probe/CASE-tree
    size, never correctness (any deterministic cuts are exact). More
    cores → more buckets → smaller per-bucket sorts; the cap bounds
    plan size and the probe (r13 optimization, guide §2: derive
    scale-dependent settings, don't pin them to one machine)."""
    par = df.sparkSession.sparkContext.defaultParallelism
    return max(64, min(4096, 2 * int(par)))


def _bucketed(df: DataFrame, value_col: str) -> DataFrame:
    """``df`` plus its histogram bucket ``__bucket`` (step 1) — the one
    bucket probe of rank and cumsum."""
    n = _default_buckets(df)
    probes = [i / n for i in range(1, n)]
    cuts = sorted(set(df.approxQuantile(value_col, probes, 0.001)))
    bucket = (
        _bucket_of(value_col, cuts) if cuts else F.lit(0)
    )  # empty/constant input: one bucket
    return df.withColumn("__bucket", bucket)


def _offsets(totals: dict) -> tuple[dict, object]:
    """Per-bucket totals → (bucket → sum of the totals of every
    STRICTLY lower bucket, grand total); a NULL total adds nothing."""
    offsets, acc = {}, 0
    for k in sorted(totals):
        offsets[k] = acc
        acc = acc + (totals[k] if totals[k] is not None else 0)
    return offsets, acc


def _bucket_offset(omap: Column, dtype: str) -> Column:
    """The row's bucket offset from ``omap`` (bucket → cumulative
    offset, built from one action over the input), as ``dtype``.

    The operators run several actions over their input (quantile
    probe, per-bucket totals, the final plan). A source that is not
    re-read-stable (concurrent writes, sampling) can grow a bucket
    between the totals collect and window time; that bucket is absent
    from the map, and the offset RAISES at runtime instead of silently
    emitting a null (advisor r8 finding). Pin such a source with
    ``materialize.persist`` before ranking it."""
    offset = F.element_at(omap, F.col("__bucket"))
    return F.when(
        offset.isNull(),
        F.raise_error(
            F.concat(
                F.lit(
                    "global rank: bucket absent when the offsets were "
                    "taken (input not re-read-stable; pin it with "
                    "materialize.persist): "
                ),
                F.col("__bucket").cast("string"),
            )
        ).cast(dtype),
    ).otherwise(offset)


def _global_rank(
    df: DataFrame, value_col: str, tiebreak_cols: list[str], out_col: str
) -> tuple[DataFrame, int]:
    """``df`` plus the exact 1-based global rank ``out_col`` by
    ``(value_col, *tiebreak_cols)`` (a TOTAL order — tiebreaks must
    make it unique), and the total row count (= the sum of the
    per-bucket counts it collects anyway, so the ntile formula pays no
    separate ``df.count()`` pass and the count and the offsets come
    from the SAME action — r13 optimization, guide §1.2)."""
    b = _bucketed(df, value_col)
    # exact per-bucket counts → cumulative offsets; one row per bucket
    # reaches the driver
    offsets, total = _offsets({
        r["__bucket"]: r["cnt"]
        for r in b.groupBy("__bucket").agg(F.count("*").alias("cnt")).collect()
    })
    omap = F.create_map(
        *[F.lit(x) for kv in sorted(offsets.items()) for x in kv]
    )
    w = Window.partitionBy("__bucket").orderBy(value_col, *tiebreak_cols)
    ranked = (
        b.withColumn("__local", F.row_number().over(w))
        .withColumn(
            out_col, (_bucket_offset(omap, "long") + F.col("__local")).cast("long")
        )
        .drop("__bucket", "__local")
    )
    return ranked, total


def ntile_from_rank(rank_col: str, total: int, k: int) -> Column:
    """Spark's exact NTILE(k) bucket for a 1-based global rank over
    ``total`` rows: the first ``total % k`` tiles hold ⌈total/k⌉ rows,
    the rest ⌊total/k⌋ — identical to ``F.ntile(k)`` over the same
    total order."""
    size, rem = divmod(int(total), int(k))
    big = rem * (size + 1)
    r = F.col(rank_col)
    if size == 0:  # fewer rows than tiles: rank IS the tile
        return r.cast("int")
    return (
        F.when(r <= big, F.ceil(r / F.lit(size + 1)))
        .otherwise(F.lit(rem) + F.ceil((r - big) / F.lit(size)))
        .cast("int")
    )


def with_global_cumsum(
    df: DataFrame,
    sum_col: str,
    value_col: str,
    tiebreak_cols: list[str],
    out_col: str = "global_cumsum",
) -> DataFrame:
    """Exact running ``SUM(sum_col) OVER (ORDER BY value, *tiebreaks
    ROWS UNBOUNDED PRECEDING)`` without a single-partition sort: the
    same histogram buckets as :func:`with_global_ntile`, per-bucket
    SUM totals → cumulative offsets (≤ one row per bucket to the
    driver), then a per-bucket running sum window. For a descending
    order, rank a negated column (as ``orders_pareto`` does).

    Exactness caveat: per-bucket partials are combined in bucket
    order, not element order — for FLOAT inputs the result can differ
    from a sequential pass by ulps (non-associative addition). Use an
    exactly-additive ``sum_col`` type (integer / decimal) when
    bit-parity with a sequential window or another engine matters;
    the offsets and the output are cast to the aggregate's own type."""
    b = _bucketed(df, value_col)
    totals = b.groupBy("__bucket").agg(F.sum(sum_col).alias("s"))
    # the aggregate's own type (e.g. decimal widens, long stays long)
    agg_type = totals.schema["s"].dataType.simpleString()
    offsets, _ = _offsets({r["__bucket"]: r["s"] for r in totals.collect()})
    omap = F.create_map(
        *[
            x
            for k in sorted(offsets)
            for x in (F.lit(k), F.lit(str(offsets[k])).cast(agg_type))
        ]
    )
    w = (
        Window.partitionBy("__bucket")
        .orderBy(value_col, *tiebreak_cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        b.withColumn("__local_sum", F.sum(sum_col).over(w))
        .withColumn(
            out_col,
            (_bucket_offset(omap, agg_type) + F.col("__local_sum")).cast(agg_type),
        )
        .drop("__bucket", "__local_sum")
    )


def with_global_ntile(
    df: DataFrame,
    value_col: str,
    tiebreak_cols: list[str],
    k: int,
    out_col: str = "tile",
) -> DataFrame:
    """Exact ``NTILE(k) OVER (ORDER BY value, *tiebreaks)`` that never
    single-task-sorts its input: the global rank, then the tile by
    Spark's own bucket-size distribution (:func:`ntile_from_rank`).
    The total row count comes out of the bucket-counts action the rank
    runs anyway — no separate count() pass. Empty input → a NULL
    tile column."""
    ranked, total = _global_rank(df, value_col, tiebreak_cols, "__grank")
    if total == 0:
        return df.withColumn(out_col, F.lit(None).cast("int"))
    return ranked.withColumn(
        out_col, ntile_from_rank("__grank", total, k)
    ).drop("__grank")
