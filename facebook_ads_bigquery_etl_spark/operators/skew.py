"""Skew-mitigation helpers.

AQE's skew-join splitting (on by default in session.py) handles most
skew at runtime by splitting oversized shuffle partitions. The salted
join covers a case AQE cannot: a join whose build side must be
replicated per salt.

No reference artifact (the reference never shuffles); capability
obligation of the 100 TB posture (SURVEY §7 hard-parts list).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    salt: int = 16,
) -> DataFrame:
    """Equi-join resilient to hot keys on the LEFT (large/skewed) side.

    Left rows get a random salt in [0, salt); the right side is
    replicated ``salt`` times (explode of a literal range — map-side,
    no shuffle of extra data volume beyond the replication). The join
    key becomes (key, salt), so a hot key's rows spread over ``salt``
    shuffle partitions instead of one.

    Use when the right side is too big to broadcast but small enough
    to replicate ``salt``×; otherwise prefer AQE skew-join.
    """
    salted_l = left.withColumn("__salt", (F.rand(seed=7) * salt).cast("int"))
    salted_r = right.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(salt)]))
    )
    return salted_l.join(salted_r, [on, "__salt"]).drop("__salt")


def explain_has_exchange(df: DataFrame) -> bool:
    """True if the physical plan contains a shuffle Exchange — used by
    tests to prove co-located (bucketed) joins plan shuffle-free."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return "Exchange hashpartitioning" in plan
