"""Invocation-scoped materialization: the one home of the reuse barriers.

A query *invocation* is one call of a registered query:
``plans.registry.register`` wraps every query function in
:func:`invocation`, and a call made while another is running (a
registered query calling another) joins the outer invocation. Every
barrier a query builds is an entry of the current invocation, of one of
two kinds:

* :func:`persist` — a lazy cache. The InMemoryRelation is also a plan
  barrier Catalyst does not optimize across, which is what ``_spread``
  and the float-derived rank pins rely on. Freeing it is
  non-destructive: a consumer still holding the frame recomputes it.
* :func:`checkpoint` — an eager ``localCheckpoint`` for a subtree that
  several branches of one query read. Its lineage is truncated, so
  freeing it is destructive: a consumer reading a freed checkpoint fails
  with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND.

Opening an invocation frees every entry registered before it; nothing
else frees an entry, apart from :func:`release` at teardown. Entries of
one invocation therefore never free each other (two frames with the same
plan stay independently readable), and no invocation reads the cache a
previous one built.

The destructive free relies on one condition: **a query's result is
consumed before the next registered query is built.** Every flow in the
repository (the oracle drive, ``bench.py``, the benchmark, the tests)
builds a query, collects it, then moves on.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame

# (frame the barrier materializes, handle whose ``unpersist(False)``
# frees it), in registration order; all belong to the current invocation
_entries: list[tuple[DataFrame, object]] = []
_depth = 0


def persist(df: DataFrame) -> DataFrame:
    """Lazy cache of ``df`` for the rest of the current invocation.

    Lazy on purpose: arming it eagerly measured as a wall-clock loss at
    the minhash site. Where several parallel broadcasts consume one
    persisted frame, checkpoint the small frames they read instead
    (``linalg.moment_sums``)."""
    out = df.persist()
    _entries.append((df, out))
    return out


def checkpoint(df: DataFrame) -> DataFrame:
    """Eager ``localCheckpoint`` of ``df`` for the rest of the current
    invocation."""
    out = df.localCheckpoint()
    # checkpoint blocks are pinned by JVM-side Dataset references the
    # Python GC never drops; the LogicalRDD under the result IS the
    # checkpointed RDD, so its handle frees them explicitly
    _entries.append((df, out._jdf.queryExecution().analyzed().rdd()))
    return out


def invocation(fn):
    """Wrap a query function so that its outermost call opens a new
    invocation, freeing every entry registered before it."""

    @functools.wraps(fn)
    def scoped(*args, **kwargs):
        global _depth
        if _depth == 0:
            release()
        _depth += 1
        try:
            return fn(*args, **kwargs)
        finally:
            _depth -= 1

    return scoped


def inputs() -> list[DataFrame]:
    """The frames the most recent invocation materialized, as built
    before materialization (their plans keep the full lineage)."""
    return [df for df, _ in _entries]


def release() -> int:
    """Free every entry; returns how many were freed."""
    n = len(_entries)
    while _entries:
        _entries.pop()[1].unpersist(False)
    return n
