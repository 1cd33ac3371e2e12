"""Nested repeated-record normalization.

The Facebook API omits ``actions``/``conversions`` keys entirely when
an ad has none; the reference emits an *empty list*, never NULL
(reference main.py:192-201: ``actions = []`` then conditional fill).
This operator reproduces that semantic declaratively.

The whole column is one SQL expression (one ``F.expr``), for the
reason the cast layer is one projection (:mod:`.casting`): built
through the Column API, each element field, cast and alias is its own
py4j round trip on the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .casting import quote, sql_type


def coalesce_repeated(df: DataFrame, colname: str, element_type: T.StructType) -> DataFrame:
    """NULL array → empty array; also re-projects each element to
    exactly ``element_type``'s fields (drops extras the API may add —
    the reference copies only action_type/value, main.py:196-201), each
    cast to its field's type.

    Pure JVM expressions (`coalesce` + `transform`): codegen'd,
    zero-shuffle, scale-free. The column comes out non-NULL with
    non-NULL elements (``containsNull=False``); there is no cast of the
    whole array, because SQL type text cannot say ``containsNull=False``
    and such a cast would flip the flag back to true.
    """
    # The empty-array fallback must be typed as the INPUT's element
    # type (which may carry extra API fields) — coalesce requires both
    # branches to agree; the transform then projects each element down
    # to exactly ``element_type``'s fields.
    in_type = sql_type(df.schema[colname].dataType)
    fields = ", ".join(
        f"CAST(e.{quote(f.name)} AS {sql_type(f.dataType)}) AS {quote(f.name)}"
        for f in element_type.fields
    )
    normalized = F.expr(
        f"transform(coalesce({quote(colname)}, CAST(array() AS {in_type})), e -> struct({fields}))"
    )
    return df.withColumn(colname, normalized)
