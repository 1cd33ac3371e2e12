"""Slowly-changing-dimension maintenance: snapshot diff (CDC) and
SCD Type-2 merge.

The reference appends immutable day-grain fact rows (main.py:86-89)
and keeps dimension attributes (campaign/adset/ad names) denormalized
on every row — so a renamed campaign silently rewrites history going
forward and loses it going back. A warehouse on top of this engine
needs the standard fix: compare today's dimension snapshot against
yesterday's, classify each key (insert / update / delete), and keep a
validity-ranged history table (SCD2).

Scale posture: one shuffle on the business key for the full-outer
join; attribute comparison is a single codegen'd hash over the
compared columns (no per-column chained OR that defeats null-safe
semantics). History merge touches only keys present in the new
snapshot's change set — at 100 TB fact scale the dimension is orders
of magnitude smaller and the change set smaller still, so the merge
never rewrites the whole history table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _attr_hash(cols: list[str], side: str) -> "F.Column":
    """Null-safe single-value digest of the compared attributes."""
    return F.sha2(
        F.concat_ws(
            "\x1f", *[F.coalesce(F.col(f"{side}.{c}").cast("string"), F.lit("\x00")) for c in cols]
        ),
        256,
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key: str,
    compare_cols: list[str],
) -> DataFrame:
    """CDC between two snapshots of a keyed table.

    Returns one row per key that changed, with ``change_type`` ∈
    {'insert', 'update', 'delete'} and the NEW attribute values
    (NULLs for deletes). Unchanged keys are dropped — the output is
    a change set, sized by churn, not by the dimension.
    """
    o = old.alias("o")
    n = new.alias("n")
    joined = o.join(n, F.col(f"o.{key}") == F.col(f"n.{key}"), "full_outer")
    change = (
        F.when(F.col(f"o.{key}").isNull(), F.lit("insert"))
        .when(F.col(f"n.{key}").isNull(), F.lit("delete"))
        .when(_attr_hash(compare_cols, "o") != _attr_hash(compare_cols, "n"), F.lit("update"))
    )
    return (
        joined.withColumn("change_type", change)
        .filter(F.col("change_type").isNotNull())
        .select(
            F.coalesce(F.col(f"o.{key}"), F.col(f"n.{key}")).alias(key),
            "change_type",
            *[F.col(f"n.{c}").alias(c) for c in compare_cols],
        )
    )


def scd2_merge(
    old: DataFrame,
    new: DataFrame,
    key: str,
    compare_cols: list[str],
    old_date: str,
    new_date: str,
) -> DataFrame:
    """Build a Type-2 history from two consecutive snapshots.

    Output: one row per (key, version) with ``valid_from``,
    ``valid_to`` (exclusive; 9999-12-31 = open), ``is_current``.
    Keys present in both with identical attributes get one open row;
    updates close the old version at ``new_date`` and open a new one;
    deletes close the old version with no successor; inserts open at
    ``new_date``.

    Two-snapshot form on purpose: the general incremental merge is
    this exact plan applied to (current history ⋈ next snapshot) —
    the closed-row union is append-only, so at scale it lands as an
    idempotent day-partition overwrite (sinks.write_day_partitioned).
    """
    o = old.alias("o")
    n = new.alias("n")
    joined = o.join(n, F.col(f"o.{key}") == F.col(f"n.{key}"), "full_outer").select(
        F.coalesce(F.col(f"o.{key}"), F.col(f"n.{key}")).alias(key),
        F.col(f"o.{key}").isNotNull().alias("in_old"),
        F.col(f"n.{key}").isNotNull().alias("in_new"),
        (_attr_hash(compare_cols, "o") == _attr_hash(compare_cols, "n")).alias("same"),
        *[F.col(f"o.{c}").alias(f"old_{c}") for c in compare_cols],
        *[F.col(f"n.{c}").alias(f"new_{c}") for c in compare_cols],
    )
    old_cols = [F.col(f"old_{c}").alias(c) for c in compare_cols]
    new_cols = [F.col(f"new_{c}").alias(c) for c in compare_cols]
    d_old, d_new, d_inf = F.lit(old_date), F.lit(new_date), F.lit("9999-12-31")

    # version 1: every key that existed in the old snapshot
    v_old = joined.filter("in_old").select(
        F.col(key),
        *old_cols,
        d_old.cast("date").alias("valid_from"),
        F.when(F.col("in_new") & F.col("same"), d_inf)
        .otherwise(d_new)
        .cast("date")
        .alias("valid_to"),
        (F.col("in_new") & F.col("same")).alias("is_current"),
    )
    # version 2: keys whose attributes changed, plus brand-new keys
    v_new = joined.filter(
        F.col("in_new") & (~F.col("in_old") | ~F.col("same"))
    ).select(
        F.col(key),
        *new_cols,
        d_new.cast("date").alias("valid_from"),
        d_inf.cast("date").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    return v_old.unionByName(v_new)
