"""Partition-level integrity manifests (count + order-insensitive
checksum) for verifying bulk copies and republishes.

Moving a 100 TB table between systems (the reference's BigQuery →
downstream exports, reference README.md:33-40) needs a cheap answer
to "did every row arrive, unmodified?" that does not re-join the two
copies. The manifest is one aggregate row per partition: row count
plus an ORDER-INSENSITIVE checksum — the sum of a per-row 28-bit hash
— so two manifests are comparable regardless of row order, file
layout, or engine.

Determinism contract (what makes the checksum engine-portable):

* the per-row hash input is a ``|``-joined string of INTEGER-rendered
  columns only — bigints as-is, monetary doubles as exact cents
  (``ROUND(x*100) AS BIGINT``), dates as ISO strings. Float
  formatting never enters the hash (engines disagree on it).
* the row hash is the first 7 hex digits of sha256 (28 bits), so a
  BIGINT sum stays exact far past 10^10 rows — no modular reduction,
  no overflow on either engine (DuckDB widens, Spark stays in long
  range: 2^28 · 10^10 < 2^62).

Mergeable: partition manifests re-aggregate to coarser grains (the
checksum is a sum), so a file-level manifest rolls up to partition
and table level for free.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


# Magnitude guard for the integer rendering: |x·scale| must fit a
# BIGINT after ROUND. 2^62 is exactly representable as a double and
# leaves a 2× margin below LONG_MAX, so round-up can never overflow.
_SCALED_INT_BOUND = float(2**62)


def render_scaled_int(col: Column, scale: int = 1) -> Column:
    """Engine-portable integer rendering of a double for checksum
    input: finite in-range values as ``ROUND(x·scale)`` longs,
    non-finite values as the literal IEEE class token
    (``nan``/``inf``/``-inf``), and finite values whose scaled
    magnitude exceeds BIGINT range (|x·scale| ≥ 2^62 — including
    x·scale overflowing to Inf AFTER the finiteness check, e.g.
    x = 1e308 at cents scale) as a sign/``big`` token — the checksum
    must stay TOTAL over corrupt rows (an Inf or absurd price is
    exactly the corruption a manifest exists to catch; aborting the
    manifest job on it would be self-defeating), and neither Inf nor
    an out-of-range double can round into a BIGINT under ANSI (r11
    extremes sweep; magnitude guard r12 advisory). NULL stays NULL
    (concat_ws skips it identically on both engines). DuckDB twin:
    ``render_scaled_int_sql`` — generated from the same ladder so the
    two can never drift."""
    x = col.cast("double")
    scaled = x * scale if scale != 1 else x
    finite = ~F.isnan(x) & (x != float("inf")) & (x != float("-inf"))
    return (
        F.when(
            finite & (F.abs(scaled) < F.lit(_SCALED_INT_BOUND)),
            F.round(scaled).cast("long").cast("string"),
        )
        .when(finite & (x > 0), F.lit("big"))
        .when(finite, F.lit("-big"))
        .when(F.isnan(x), F.lit("nan"))
        .when(x > 0, F.lit("inf"))
        .when(x < 0, F.lit("-inf"))
    )


def render_scaled_int_sql(col: str, scale: int = 1) -> str:
    """DuckDB twin of :func:`render_scaled_int`, generated so oracle
    text and engine ladder share one definition (r12 advisory). The
    bound literal is 2^62 as an exact double."""
    s = f"{col} * {scale}" if scale != 1 else col
    return (
        f"CASE WHEN isfinite({col}) AND abs({s}) < 4611686018427387904.0"
        f" THEN CAST(ROUND({s}) AS BIGINT)::VARCHAR"
        f" WHEN isfinite({col}) AND {col} > 0 THEN 'big'"
        f" WHEN isfinite({col}) THEN '-big'"
        f" WHEN isnan({col}) THEN 'nan'"
        f" WHEN {col} > 0 THEN 'inf' WHEN {col} < 0 THEN '-inf' END"
    )


def round_double_sql(expr: str, k: int) -> str:
    """DuckDB twin of Spark's ``round(double, k)`` — the r12 ROUND-tie
    recon (scripts/round_ties_probe.py) showed the engines' native
    rounds DIVERGE on shortest-repr tie values (6.9% of 2-decimal
    ties: Spark ``round(1.005, 2) = 1.01`` via BigDecimal.valueOf's
    shortest decimal string + HALF_UP, DuckDB ``1.00`` via binary
    multiply).

    Twin construction (r13 revision): DuckDB's double→VARCHAR is the
    SAME shortest repr BigDecimal.valueOf reads, and VARCHAR→DECIMAL
    parses it exactly, so ``ROUND(…DECIMAL(38,20)…, k)`` reproduces
    Spark's decimal-string HALF_UP (away from zero, matching Java).
    The rounded DECIMAL then bounces through VARCHAR again before the
    final DOUBLE cast: DuckDB's direct DECIMAL→DOUBLE readback is NOT
    correctly rounded once the scaled int128 exceeds 2^53 (probed at
    r13: ``999999999999999.5`` at k=1 — INSIDE the old 1e15 guard —
    read back ``…999.6``; the old r12 twin was silently wrong there),
    while exact-digits VARCHAR→DOUBLE is correctly rounded, exactly
    Java's ``BigDecimal.doubleValue()``. Verified over the full
    2·990-value tie corpus at k ∈ {0,1,2,6} plus magnitude-band
    probes in tests/test_round_ties.py.

    Guard ladder (each arm chosen so the decimal parse is EXACT for
    every shortest repr it can receive):

    * finite |x| < 1e-4 → DECIMAL(38,34). A shortest repr carries up
      to 17 significant digits; below 1e-4 the leading zeros push the
      last digit past fraction position 20, so the (38,20) parse
      SILENTLY ROUNDS the tail and double-rounds the result (r13
      review find: 1.4999999999999998e-06 at k=6 — twin said 2e-06,
      Spark says 1e-06). Scale 34 is exact down to |x| ≥ 1e-18; below
      that the only inexact parses carry a rounding that cannot reach
      digit k+1 for k ≤ 12 (it would need >17 consecutive significant
      9s), and every such value rounds to 0.0 on both engines.
    * finite |x| < 2^52 → DECIMAL(38,20) (18 integer digits; 2^52 ≈
      4.5e15 has 16, and at ≥ 1e-4 the 20-digit fraction is exact).
    * |x| ≥ 2^52 → IDENTITY: every such double is INTEGER-VALUED and
      Spark's BigDecimal round returns it unchanged at any k ≥ 0
      (verified live) — NOT DuckDB's native ROUND, whose
      multiply/divide loses ulps at magnitude (probed:
      ``ROUND(1.0000000000000002e16, 9)`` returns ``…04e16``).
      Non-finite and NULL pass through this arm unchanged, matching
      Spark.

    Requires 0 ≤ k ≤ 12 (repo sites use k ≤ 9); k > 12 would need a
    deeper tiny-arm carry analysis, so it raises.

    SCOPE (from the r12 triage): this twin closes the class ONLY
    where the two engines compute the BIT-IDENTICAL double before
    rounding (map-only deriveds, decimal-exact upstream). For
    ``ROUND(SUM(double), k)`` the dominant cross-engine term is ulp
    drift in the SUM itself (different addition orders) — there the
    fix is DECIMAL sums (the r11 money convention), not rounding;
    the r13 per-family decisions for the 162 remaining such sites
    (164 census minus the two MIN/MAX sites reclassified a and
    converted) are recorded in scripts/round_sites_classified.json
    `r13_class_b_decisions`.

    Converted oracle sites are GENERATED from this one function (r13
    advisory — the r12 wave hand-inlined the lean unguarded form, so
    the 'one definition, can never drift' property did not actually
    hold, and an unexpected NaN/Inf/huge value would have crashed the
    VARCHAR→DECIMAL cast there instead of producing a comparable
    value). The guard CASE repeats ``expr`` in each arm's predicate —
    measured immaterial at the oracle gate's scale even on the
    heaviest generated sites (embedding_dup_pairs' per-pair cosine
    fold: 0.24 s for the whole sf0.01 oracle), so there is
    deliberately NO unguarded variant."""
    if not 0 <= k <= 12:
        raise ValueError("round_double_sql requires 0 <= k <= 12")
    return (
        f"CASE WHEN isfinite({expr}) AND abs({expr}) < 0.0001"
        f" THEN CAST(CAST(ROUND(CAST(CAST({expr} AS VARCHAR)"
        f" AS DECIMAL(38,34)), {k}) AS VARCHAR) AS DOUBLE)"
        f" WHEN isfinite({expr}) AND abs({expr}) < 4503599627370496.0"
        f" THEN CAST(CAST(ROUND(CAST(CAST({expr} AS VARCHAR)"
        f" AS DECIMAL(38,20)), {k}) AS VARCHAR) AS DOUBLE)"
        f" ELSE {expr} END"
    )


def row_checksum(cols: list[Column]) -> Column:
    """28-bit per-row hash over pre-rendered integer/string columns."""
    joined = F.concat_ws("|", *[c.cast("string") for c in cols])
    return F.conv(F.substring(F.sha2(joined, 256), 1, 7), 16, 10).cast("long")


def partition_manifest(
    df: DataFrame, partition_cols: list[str], hashed_cols: list[Column]
) -> DataFrame:
    """One row per partition: ``(partition_cols…, n_rows, checksum)``.
    ``hashed_cols`` must already be integer-rendered (see module
    docstring) — pass e.g. ``F.round(F.col("price") * 100).cast("long")``
    for money, never a raw double."""
    return df.groupBy(*partition_cols).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(row_checksum(hashed_cols)).cast("long").alias("checksum"),
    )


def multiset_diff(a: DataFrame, b: DataFrame) -> tuple[int, int]:
    """``(|a ∖ b|, |b ∖ a|)`` as multisets of rows — the counts
    ``a.exceptAll(b).count()`` and ``b.exceptAll(a).count()`` give —
    in one action that scans each side once.

    Every row of ``a`` counts +1 and every row of ``b`` −1; the two
    sides are unioned by position and grouped on every column, which
    is the same row equality ``exceptAll`` uses (NULLs match, NaN
    matches NaN, −0.0 matches 0.0). A group's positive net count is
    its surplus in ``a``, a negative one its surplus in ``b``."""
    cols = [f"c{i}" for i in range(len(a.columns))]
    net = (
        a.toDF(*cols).withColumn("_side", F.lit(1))
        .unionAll(b.toDF(*cols).withColumn("_side", F.lit(-1)))
        .groupBy(*cols)
        .agg(F.sum("_side").alias("net"))
    )
    row = net.agg(
        F.sum(F.when(F.col("net") > 0, F.col("net"))).alias("a_only"),
        F.sum(F.when(F.col("net") < 0, -F.col("net"))).alias("b_only"),
    ).first()
    return row["a_only"] or 0, row["b_only"] or 0


def manifest_diff(expected: DataFrame, actual: DataFrame) -> DataFrame:
    """Partitions whose (count, checksum) disagree — empty means the
    copy is intact. Full-outer on the partition key so missing and
    unexpected partitions both surface."""
    keys = [c for c in expected.columns if c not in ("n_rows", "checksum")]
    e = expected.withColumnsRenamed({"n_rows": "e_rows", "checksum": "e_sum"})
    a = actual.withColumnsRenamed({"n_rows": "a_rows", "checksum": "a_sum"})
    return (
        e.join(a, keys, "full_outer")
        .filter(
            ~(
                F.col("e_rows").eqNullSafe(F.col("a_rows"))
                & F.col("e_sum").eqNullSafe(F.col("a_sum"))
            )
        )
    )
