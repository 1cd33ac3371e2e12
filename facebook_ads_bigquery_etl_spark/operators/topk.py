"""Top-K per group — ranking window + filter.

No reference artifact (the reference runs no ORDER BY/LIMIT at all,
SURVEY §2.5); capability obligation for the analytics layer. At scale
this is one shuffle on the group key; Spark pushes a per-partition
TopK (WindowGroupLimit) below the shuffle for rank filters, so the
full sort never materializes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def top_k_per_group(
    df: DataFrame,
    partition_cols: list[str],
    order_cols: list[Column | str],
    k: int,
) -> DataFrame:
    """Keep the top ``k`` rows per group, numbered in ``rank``. Pass
    fully-specified ``order_cols`` (including deterministic
    tie-breakers) — exact result parity across engines requires a
    total order."""
    w = Window.partitionBy(*partition_cols).orderBy(*order_cols)
    return (
        df.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
