"""Declarative data-quality constraints (the engine's expectation /
Deequ-style audit).

The reference pipeline trusts its API payloads and lets bad rows
surface downstream (the ``oops`` spend row the cast layer quarantines,
reference main.py:94-130); a 100 TB warehouse inverts that: every
load declares its invariants and the engine verifies them in bulk.

Scale design — the audit costs at most one scan plus one shuffle per
*keyed* constraint class, never one scan per constraint:

* not-null / range / set-membership checks compile to violation
  indicators inside a SINGLE aggregate pass over the (column-pruned)
  table — adding a tenth check adds one expression to the same scan,
  not a tenth job. The one wide row is then unpivoted to the
  constraint-per-row report (zero-shuffle Expand).
* uniqueness needs key grouping: one hash-partial groupBy per key set
  (map-side combine shrinks it to NDV rows before the exchange).
* referential integrity is a left join against the DISTINCT parent
  keys; parents are dimensions, so the join broadcasts and the fact
  table is never shuffled.

Every emitted number is a count — bit-stable across engines, so the
whole report is oracle-checkable.
"""

from __future__ import annotations

from functools import reduce
from typing import Iterable, Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_REPORT_COLS = ("constraint_name", "n_rows", "n_violations")


def _violations(flag: Column, label: str) -> Column:
    return F.coalesce(
        F.sum(F.when(flag, 1).otherwise(0)), F.lit(0)
    ).cast("long").alias(label)


def constraint_audit(
    df: DataFrame,
    *,
    not_null: Sequence[str] = (),
    ranges: Mapping[str, tuple[float, float]] | None = None,
    in_set: Mapping[str, Iterable] | None = None,
    unique: Sequence[Sequence[str]] = (),
    foreign_keys: Sequence[tuple[str, DataFrame, str]] = (),
) -> DataFrame:
    """One row per declared constraint: ``(constraint_name, n_rows,
    n_violations, passed)``.

    ``ranges`` checks ``lo <= col <= hi`` (NULL counts as a violation —
    declare the column in ``not_null`` too if that is the intent);
    ``in_set`` checks membership; ``unique`` counts every row beyond
    the first per key; ``foreign_keys`` are ``(child_col, parent_df,
    parent_col)`` and count non-null child keys with no parent; the
    deduplicated parent keys are broadcast.
    """
    ranges = dict(ranges or {})
    in_set = dict(in_set or {})

    labels: list[str] = []
    scan_exprs: list[Column] = []
    for c in not_null:
        labels.append(f"not_null:{c}")
        scan_exprs.append(_violations(F.col(c).isNull(), labels[-1]))
    for c, (lo, hi) in ranges.items():
        labels.append(f"range:{c}")
        scan_exprs.append(
            _violations(
                F.col(c).isNull() | (F.col(c) < lo) | (F.col(c) > hi), labels[-1]
            )
        )
    for c, vals in in_set.items():
        labels.append(f"in_set:{c}")
        scan_exprs.append(
            _violations(F.col(c).isNull() | ~F.col(c).isin(list(vals)), labels[-1])
        )

    parts: list[DataFrame] = []
    if scan_exprs:
        wide = df.agg(F.count(F.lit(1)).alias("n_rows"), *scan_exprs)
        parts.append(
            wide.unpivot(
                ["n_rows"], labels, "constraint_name", "n_violations"
            ).select(*_REPORT_COLS)
        )

    for key in unique:
        key = list(key)
        grouped = df.groupBy(*key).agg(F.count(F.lit(1)).alias("cnt"))
        parts.append(
            grouped.agg(
                F.coalesce(F.sum("cnt"), F.lit(0)).cast("long").alias("n_rows"),
                F.coalesce(F.sum(F.col("cnt") - 1), F.lit(0))
                .cast("long")
                .alias("n_violations"),
            ).select(
                F.lit("unique:" + ",".join(key)).alias("constraint_name"),
                "n_rows",
                "n_violations",
            )
        )

    for child_col, parent, parent_col in foreign_keys:
        pk = F.broadcast(
            parent.select(F.col(parent_col).alias("__pk")).dropDuplicates(["__pk"])
        )
        joined = df.select(F.col(child_col).alias("__ck")).join(
            pk, F.col("__ck") == F.col("__pk"), "left"
        )
        parts.append(
            joined.agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                _violations(
                    F.col("__ck").isNotNull() & F.col("__pk").isNull(),
                    "n_violations",
                ),
            ).select(
                F.lit(f"fk:{child_col}->{parent_col}").alias("constraint_name"),
                "n_rows",
                "n_violations",
            )
        )

    if not parts:
        raise ValueError("constraint_audit: no constraints declared")
    report = reduce(DataFrame.unionByName, parts)
    return report.withColumn("passed", F.col("n_violations") == 0)
