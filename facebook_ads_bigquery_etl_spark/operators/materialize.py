"""Invocation-scoped materialization: the one home of the reuse barriers
and of query scratch space.

A query *invocation* is one call of a registered query:
``plans.registry.register`` wraps every query function in
:func:`invocation`, and a call made while another is running (a
registered query calling another) joins the outer invocation. Every
barrier or scratch directory a query makes is an entry of the current
invocation, of one of three kinds:

* :func:`persist` — a lazy cache. The InMemoryRelation is also a plan
  barrier Catalyst does not optimize across, which is what ``_spread``
  and the float-derived rank pins rely on. Freeing it is
  non-destructive: a consumer still holding the frame recomputes it.
* :func:`checkpoint` — an eager ``localCheckpoint`` for a subtree that
  several branches of one query read. Its lineage is truncated, so
  freeing it is destructive: a consumer reading a freed checkpoint fails
  with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND.
* :func:`scratch` — a fresh directory under the process root (below).
  Freeing it is destructive too: ``rmtree`` removes what the query
  wrote there, and unlinks symlinks without following them.

Every cache and checkpoint in the library is such an entry: no other
module calls ``persist``, ``unpersist``, ``cache`` or
``localCheckpoint`` (a guard test in ``tests/test_properties.py``), so
a query that raises midway leaks nothing past the next invocation.

Opening an invocation frees every entry registered before it; nothing
else frees an entry, apart from :func:`release` at teardown. Entries of
one invocation therefore never free each other (two frames with the same
plan stay independently readable), and no invocation reads the cache or
the files a previous one made.

The destructive frees rely on one condition: **a query's result is
consumed before the next registered query is built.** Every flow in the
repository (the oracle drive, ``bench.py``, the benchmark, the tests)
builds a query, collects it, then moves on.

Every directory the library writes lives under one per-process root, a
``tempfile.mkdtemp`` under ``gettempdir()`` (so ``TMPDIR`` moves it)
made on first use and removed at interpreter exit. Besides invocation
scratch it holds the :func:`stage` directories: inputs built once per
process and shared by many invocations.
"""

from __future__ import annotations

import atexit
import functools
import os
import shutil
import tempfile
from typing import Callable

from pyspark.sql import DataFrame

# (frame the barrier materializes or None for scratch, call that frees
# the entry), in registration order; all belong to the current invocation
_entries: list[tuple[DataFrame | None, Callable[[], object]]] = []
_depth = 0
_root: str | None = None


def _process_root() -> str:
    global _root
    if _root is None:
        _root = tempfile.mkdtemp(prefix="spark_graft_")
        atexit.register(shutil.rmtree, _root, True)
    return _root


def persist(df: DataFrame) -> DataFrame:
    """Lazy cache of ``df`` for the rest of the current invocation.

    Lazy on purpose: arming it eagerly measured as a wall-clock loss at
    the minhash site. Where several parallel broadcasts consume one
    persisted frame, checkpoint the small frames they read instead
    (``linalg.moment_sums``)."""
    out = df.persist()
    _entries.append((df, functools.partial(out.unpersist, False)))
    return out


def checkpoint(df: DataFrame) -> DataFrame:
    """Eager ``localCheckpoint`` of ``df`` for the rest of the current
    invocation."""
    out = df.localCheckpoint()
    # checkpoint blocks are pinned by JVM-side Dataset references the
    # Python GC never drops; the LogicalRDD under the result IS the
    # checkpointed RDD, so its handle frees them explicitly
    rdd = out._jdf.queryExecution().analyzed().rdd()
    _entries.append((df, functools.partial(rdd.unpersist, False)))
    return out


def scratch(prefix: str) -> str:
    """A fresh empty directory for the rest of the current invocation."""
    path = tempfile.mkdtemp(prefix=prefix, dir=_process_root())
    _entries.append((None, functools.partial(shutil.rmtree, path, True)))
    return path


def stage(name: str, build: Callable[[str], None]) -> str:
    """Directory ``name`` under the process root, built once per process:
    ``build(path)`` fills a sibling directory that one ``os.rename`` then
    publishes, so only a complete stage is ever found. A build that
    raises leaves nothing behind, and the next call builds afresh."""
    path = os.path.join(_process_root(), name)
    if not os.path.isdir(path):
        tmp = tempfile.mkdtemp(prefix=name + ".", dir=_process_root())
        try:
            build(tmp)
            os.rename(tmp, path)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)  # gone once renamed
    return path


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
    return [df for df, _ in _entries if df is not None]


def release() -> int:
    """Free every entry; returns how many were freed."""
    n = len(_entries)
    while _entries:
        _entries.pop()[1]()
    return n
