"""Deterministic data mixing for training corpora: hash-based splits
and per-stratum sampling.

The training-pipeline staples — train/val/test assignment and mixture
sampling ("keep 30% of web text, all of wiki") — must be DETERMINISTIC
functions of the row, not RNG draws: reruns, backfills, and engines
must agree row-for-row, and membership must be decidable without a
global shuffle or a stored assignment table. The idiom: bucket =
integer prefix of sha256(id || salt); a row's split/sample fate is a
pure function of (id, salt). Changing the salt redraws the assignment;
adding data never reshuffles existing rows.

Everything is a JVM expression (sha2 + conv) — one map-only pass, no
RNG state, no UDF — and cross-engine reproducible (DuckDB's sha256
matches bit-for-bit, which is what the oracles pin).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

BUCKETS = 65536  # first 4 hex chars of the digest


def hash_bucket(id_col: str | Column, salt: str) -> Column:
    """Uniform bucket in [0, 65536) — a pure function of (id, salt)."""
    col = F.col(id_col) if isinstance(id_col, str) else id_col
    digest = F.sha2(F.concat(col.cast("string"), F.lit(salt)), 256)
    return F.conv(F.substring(digest, 1, 4), 16, 10).cast("long")


def with_split(
    df: DataFrame,
    id_col: str = "doc_id",
    salt: str = "split_v1",
) -> DataFrame:
    """Adds ``split`` ∈ {train, val, test} = 90/5/5% by hash bucket.
    Thresholds are integer bucket counts so both engines compare
    integers."""
    t_hi = int(0.90 * BUCKETS)
    v_hi = int((0.90 + 0.05) * BUCKETS)
    b = hash_bucket(id_col, salt)
    return df.withColumn(
        "split",
        F.when(b < t_hi, "train").when(b < v_hi, "val").otherwise("test"),
    )


def stratified_sample(
    df: DataFrame,
    rates: dict[str, float],
    strata_col: str = "lang",
    id_col: str = "doc_id",
    salt: str = "mix_v1",
) -> DataFrame:
    """Keep each row with its stratum's rate, deterministically:
    kept ⇔ bucket(id) < rate·65536; a stratum missing from ``rates``
    keeps every row. One map-only pass; the rate table
    is a CASE expression compiled into the plan (strata counts are
    config-sized, never data-sized)."""
    b = hash_bucket(id_col, salt)
    expr = F.lit(BUCKETS)
    for stratum, rate in sorted(rates.items()):
        expr = (
            F.when(F.col(strata_col) == stratum, F.lit(int(rate * BUCKETS)))
            .otherwise(expr)
        )
    return df.filter(b < expr)


def token_budget_mix(
    df: DataFrame,
    budgets: dict[str, int],
    *,
    token_col: str,
    strata_col: str = "lang",
    id_col: str = "doc_id",
    salt: str = "budget_v1",
    default_budget: int = 0,
) -> DataFrame:
    """Fill each stratum's TOKEN budget (not row budget) with a
    deterministic pseudo-random document order: docs are ranked by
    hash bucket within their stratum and taken while the running token
    total of the docs BEFORE them is under the stratum's budget (so
    the last doc may overshoot — standard take-while packing).

    This is the corpus-mixing primitive a pretraining run needs:
    "2e9 tokens of code, 1e9 of forums" is a token target per source,
    and sampling *rows* under-fills strata with long documents. One
    shuffle on the stratum key; the per-stratum running sum is a
    window cumsum, and the budget table compiles into the plan as a
    CASE expression. Rerun-stable and engine-reproducible: the order
    is sha256(id, salt), not RNG state."""
    from pyspark.sql.window import Window

    b = hash_bucket(id_col, salt)
    budget_expr: Column = F.lit(default_budget)
    for stratum, budget in sorted(budgets.items()):
        budget_expr = F.when(
            F.col(strata_col) == stratum, F.lit(budget)
        ).otherwise(budget_expr)
    w = (
        Window.partitionBy(strata_col)
        .orderBy(F.col("__bucket"), F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        df.withColumn("__bucket", b)
        .withColumn("__cum", F.sum(token_col).over(w))
        .filter(F.col("__cum") - F.col(token_col) < budget_expr)
        .drop("__bucket", "__cum")
    )


def priority_sample(
    df: DataFrame,
    id_col: str,
    weight_col: str | Column,
    k: int,
) -> DataFrame:
    """Weighted sample without replacement via PRIORITY SAMPLING
    (Duffield/Lund/Thorup): each row gets priority q = w/u for a
    uniform u derived from its id, and the k highest-priority rows are
    the sample — inclusion probability ≈ proportional to weight, no
    RNG state, fully re-runnable.

    u comes from an ARITHMETIC hash (Knuth multiplicative, reduced
    mod 2^31 first so the int64 product cannot overflow under ANSI
    mode): the same formula is expressible in any SQL engine, which is
    what makes the sample oracle-checkable bit-for-bit. A production
    run at trillions of ids would swap in ``xxhash64`` (same plan
    shape, engine-local hash); the contract — deterministic,
    weight-monotone inclusion — is unchanged.

    Scale shape: map-only scoring + global top-k, which Spark executes
    as TakeOrderedAndProject (per-partition heap of k, driver merges
    k·P rows) — no global sort, no shuffle of the data itself."""
    c = F.col(weight_col) if isinstance(weight_col, str) else weight_col
    h = F.pmod(
        F.pmod(F.col(id_col), F.lit(2147483648)) * F.lit(2654435761),
        F.lit(4294967296),
    )
    q = c.cast("double") * F.lit(4294967297.0) / (h + F.lit(1)).cast("double")
    return (
        df.select(F.col(id_col), c.cast("long").alias("weight"), q.alias("q"))
        .orderBy(F.col("q").desc(), F.col(id_col))
        .limit(k)
        .select(id_col, "weight", F.round("q", 4).alias("priority"))
    )


def stratified_priority_sample(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    stratum_col: str,
    k_per_stratum: int,
) -> DataFrame:
    """Per-stratum priority sampling: the same Duffield q = w/u
    arithmetic-hash priorities as :func:`priority_sample`, but the
    top-k is taken WITHIN each stratum via a keyed ranking window —
    a weight-biased, RNG-free, re-runnable sample with guaranteed
    per-group representation (the balanced-review-sample need a
    global top-k can't serve: a dominant stratum would crowd the
    others out entirely).

    Scale shape: map-only scoring, then ONE shuffle on the stratum
    key; WindowGroupLimit pushes the rank<=k filter below the
    exchange so only ~k rows per stratum per map partition cross."""
    h = F.pmod(
        F.pmod(F.col(id_col), F.lit(2147483648)) * F.lit(2654435761),
        F.lit(4294967296),
    )
    q = (
        F.col(weight_col).cast("double")
        * F.lit(4294967297.0)
        / (h + F.lit(1)).cast("double")
    )
    from pyspark.sql.window import Window as W

    w = W.partitionBy(stratum_col).orderBy(F.desc("q"), F.col(id_col))
    return (
        df.select(
            F.col(stratum_col),
            F.col(id_col),
            F.col(weight_col).cast("long").alias("weight"),
            q.alias("q"),
        )
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k_per_stratum)
        .select(
            stratum_col,
            id_col,
            "weight",
            F.round("q", 4).alias("priority"),
            F.col("rk").cast("bigint").alias("rk"),
        )
    )
