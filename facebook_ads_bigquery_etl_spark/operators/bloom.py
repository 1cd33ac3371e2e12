"""Runtime Bloom-filter join pruning — the 100 TB staple the rest of
the suite doesn't exercise (VERDICT r1 item 5/6).

At scale, a selective predicate on a dimension should prune the FACT
scan before the shuffle: Catalyst's ``InjectRuntimeFilter`` rule builds
a Bloom filter over the dimension's join keys (a bounded, mergeable
sketch aggregated on the creation side) and pushes
``might_contain(xxhash64(key))`` into the fact side — rows that cannot
join are dropped at the scan, so the shuffle moves only survivors.
This is exactly the "runtime row-level filter from a semi-join key set"
pattern: the semantics are unchanged (a Bloom filter has no false
negatives), only the plan shape improves, which is why the registered
query is oracle-checkable against a plain join.

Why not hand-roll the filter? ``df.stat.bloomFilter`` hands back a
driver-side object whose ``mightContain`` is only reachable from a
row-at-a-time Python UDF — the slow path this repo bans. The
Catalyst-injected filter stays in JVM codegen.

Local thresholds: injection is gated on the fact side looking big
(``applicationSideScanSizeThreshold``, default 10 GB) and on a
shuffle join being planned at optimization time. The operator scopes
conf overrides to plan construction only: it forces the physical plan
(cached on the DataFrame's QueryExecution) under the overridden confs
and restores the previous values before returning, so no other query
in the session inherits them.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame

from ..session import scoped_conf


def bloom_pruned_join(
    fact: DataFrame,
    dim: DataFrame,
    on: Column | Sequence[str],
) -> DataFrame:
    """Join shaped for runtime Bloom pruning of the fact side. On a
    real cluster (TB-scale fact scans) Catalyst's default thresholds
    inject the filter by themselves — this is a plain join plus
    documentation of intent. On test-scale data, apply
    :func:`ensure_runtime_bloom` to the FINAL DataFrame of the query
    (injection happens at optimization time, so the conf scope must
    cover the plan that actually executes, not an intermediate)."""
    return fact.join(dim, on)


def ensure_runtime_bloom(df: DataFrame) -> DataFrame:
    """Force ``df``'s physical plan to materialize with runtime
    Bloom-filter injection enabled at test scale: drops the 10 GB
    application-side gate and disables broadcast planning for THIS
    plan only. The plan is computed (and cached on the DataFrame's
    QueryExecution) inside the conf scope, then every conf is
    restored — later actions reuse the cached plan, so nothing leaks
    to other queries in the session."""
    overrides = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        # fact side is tiny locally; drop the 10 GB gate
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        # injection only targets shuffle joins; stop AQE/stats from
        # planning a broadcast for this one plan
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    with scoped_conf(df.sparkSession, overrides):
        df._jdf.queryExecution().executedPlan()
    return df
