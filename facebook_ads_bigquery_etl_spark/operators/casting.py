"""Explicit cast + REQUIRED-enforcement layer.

The reference inserts raw API strings and relies on BigQuery's
insert-time coercion of ``"42"`` → INTEGER and ``"2025-01-02"`` → DATE
(reference main.py:204-216 vs schema main.py:22-40). Spark will not
silently coerce, so this is a real operator:

* :func:`apply_schema` — one narrow projection that casts every column
  to the target type (JVM-side ``CAST``, whole-stage-codegen'd; no
  Python in the row path, so it costs one map stage at any scale).
* :func:`split_required_violations` — BigQuery mode=REQUIRED is only
  advisory in Spark (``nullable=False`` is a hint), so enforcement is
  a filter. Returns (valid, quarantined) DataFrames; both derive from
  one scan (Catalyst reuses it) and neither collects to the driver.

At 100 TB: both operators are embarrassingly parallel single-pass maps
with full predicate/column pushdown below them — no shuffle, no skew
surface, no driver involvement.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _cast_to(col: Column, dtype: T.DataType) -> Column:
    # try_cast, not cast: Spark 4 runs ANSI mode by default, where a
    # failed CAST aborts the job. The reference's semantic is BigQuery
    # insert-time coercion where a bad value rejects the ROW — so bad
    # casts become NULL here and the REQUIRED-enforcement operator
    # routes the row to quarantine. ISO dates ("yyyy-MM-dd",
    # reference main.py:100,136) are directly try_cast-able to DATE.
    return col.try_cast(dtype)


def finite_or_null(col: Column) -> Column:
    """NULL out non-finite doubles (NaN, ±Inf) — the validity boundary
    for measurements arriving from dirty inputs at 100 TB, where an
    upstream division or corrupt encode routinely produces them.

    NULL-safe: a NULL input stays NULL, so the NULL conventions from
    the round-11 nulls sweep apply downstream unchanged. Map-only,
    whole-stage-codegen'd. DuckDB oracle equivalent:
    ``CASE WHEN isfinite(x) THEN x END``.
    """
    return F.when(~F.isnan(col) & (col != float("inf")) & (col != float("-inf")), col)


def apply_schema(df: DataFrame, target: T.StructType, rename: dict[str, str] | None = None) -> DataFrame:
    """Project ``df`` onto ``target``: rename, cast, order columns.

    ``rename`` maps source→target column names (the reference renames
    ``date_start`` → ``date``, main.py:204). Columns missing from the
    input become typed NULLs (caught later by REQUIRED enforcement).
    """
    rename = rename or {}
    src_for = {dst: src for src, dst in rename.items()}
    cols = []
    for field in target.fields:
        src = src_for.get(field.name, field.name)
        if src in df.columns:
            cols.append(_cast_to(F.col(src), field.dataType).alias(field.name))
        else:
            cols.append(F.lit(None).cast(field.dataType).alias(field.name))
    return df.select(*cols)


def required_violation_predicate(target: T.StructType) -> Column:
    """Boolean column: true iff any REQUIRED (nullable=False) field is
    NULL — including casts that failed and became NULL."""
    preds = [F.col(f.name).isNull() for f in target.fields if not f.nullable]
    if not preds:
        return F.lit(False)
    out = preds[0]
    for p in preds[1:]:
        out = out | p
    return out


def split_required_violations(df: DataFrame, target: T.StructType) -> tuple[DataFrame, DataFrame]:
    """(valid, quarantined) — rows violating any REQUIRED field go to
    the quarantine side instead of poisoning the warehouse. Mirrors
    what BigQuery's insert-time REQUIRED check would reject at the API
    boundary (reference main.py:86-89 surfaces these as insert errors).
    """
    bad = required_violation_predicate(target)
    return df.filter(~bad), df.filter(bad)
