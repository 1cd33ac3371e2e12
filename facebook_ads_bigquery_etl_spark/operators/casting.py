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

The layer is built as SQL text: the projection is one ``selectExpr``
and the REQUIRED predicate one ``F.expr``. Built through the Column
API, every column, cast, alias and ``|`` is its own py4j round trip
(and a captured call site), so building the ~12-column Insights
layer cost ~1,100 driver round trips — as much driver time as Spark
spends on a day's rows. As text it costs a few dozen, one per column
in the argument list of ``selectExpr`` plus a constant. Every name is
backquoted (:func:`quote`), so a name holding a dot, space or
backtick is one column, never a nested-field path.

At 100 TB: both operators are embarrassingly parallel single-pass maps
with full predicate/column pushdown below them — no shuffle, no skew
surface, no driver involvement.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def quote(name: str) -> str:
    """``name`` as one backquoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def sql_type(dtype: T.DataType) -> str:
    """``dtype`` as SQL type text that parses back to it: struct field
    names are backquoted and keep NOT NULL. The text cannot say
    containsNull=False / valueContainsNull=False — arrays and maps
    parse back with NULL elements allowed."""
    if isinstance(dtype, T.StructType):
        return "STRUCT<" + ", ".join(
            f"{quote(f.name)}: {sql_type(f.dataType)}{'' if f.nullable else ' NOT NULL'}"
            for f in dtype.fields
        ) + ">"
    if isinstance(dtype, T.ArrayType):
        return f"ARRAY<{sql_type(dtype.elementType)}>"
    if isinstance(dtype, T.MapType):
        return f"MAP<{sql_type(dtype.keyType)}, {sql_type(dtype.valueType)}>"
    return dtype.simpleString()


def _non_null_containers(dtype: T.DataType) -> bool:
    if isinstance(dtype, T.StructType):
        return any(_non_null_containers(f.dataType) for f in dtype.fields)
    if isinstance(dtype, T.ArrayType):
        return not dtype.containsNull or _non_null_containers(dtype.elementType)
    if isinstance(dtype, T.MapType):
        return (not dtype.valueContainsNull or _non_null_containers(dtype.keyType)
                or _non_null_containers(dtype.valueType))
    return False


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

    try_cast, not cast: Spark 4 runs ANSI mode by default, where a
    failed CAST aborts the job. The reference's semantic is BigQuery
    insert-time coercion where a bad value rejects the ROW — so bad
    casts become NULL here and the REQUIRED-enforcement operator
    routes the row to quarantine. ISO dates ("yyyy-MM-dd", reference
    main.py:100,136) are directly try_cast-able to DATE.

    A target array or map that forbids NULL elements raises ValueError:
    SQL type text cannot say so, and a cast that silently allowed them
    would hand back a different schema than asked for.
    """
    src_for = {dst: src for src, dst in (rename or {}).items()}
    present = set(df.columns)
    cols = []
    for field in target.fields:
        if _non_null_containers(field.dataType):
            raise ValueError(
                f"apply_schema: {field.name!r} has an array or map without NULL "
                f"elements, which a SQL cast cannot produce: {field.dataType}"
            )
        src = src_for.get(field.name, field.name)
        dtype = sql_type(field.dataType)
        value = f"try_cast({quote(src)} AS {dtype})" if src in present else f"CAST(NULL AS {dtype})"
        cols.append(f"{value} AS {quote(field.name)}")
    return df.selectExpr(*cols)


def required_violation_predicate(target: T.StructType) -> Column:
    """Boolean column: true iff any REQUIRED (nullable=False) field is
    NULL — including casts that failed and became NULL."""
    preds = [f"{quote(f.name)} IS NULL" for f in target.fields if not f.nullable]
    return F.expr(" OR ".join(preds) or "false")


def split_required_violations(df: DataFrame, target: T.StructType) -> tuple[DataFrame, DataFrame]:
    """(valid, quarantined) — rows violating any REQUIRED field go to
    the quarantine side instead of poisoning the warehouse. Mirrors
    what BigQuery's insert-time REQUIRED check would reject at the API
    boundary (reference main.py:86-89 surfaces these as insert errors).
    """
    bad = required_violation_predicate(target)
    return df.filter(~bad), df.filter(bad)
