"""Expression-level helpers shared by the operator modules.

``let()`` is the load-bearing one: Spark SQL has no LET/lateral-alias
inside a single expression tree, and higher-order-function lambdas are
interpreted with NO common-subexpression elimination across the lambda
boundary — referencing an expensive expression inside a lambda body
re-evaluates it once per array element. ``transform(array(expr),
body)[0]`` is the standard let-binding encoding: ``expr`` is evaluated
exactly once (as the single element of the outer array) and ``body``
receives it as a bound lambda variable (a cheap reference).

Measured impact of the binding (operators/dedup.word_shingles): 40×
on 2000-word documents — the unbound form re-ran tokenize per shingle
position, O(L²) per document.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F


def let(expr: Column, body: Callable[[Column], Column]) -> Column:
    """Bind ``expr`` (evaluated once per row) as the lambda variable of
    ``body``. Use whenever a non-trivial expression would otherwise be
    referenced inside an F.transform/F.filter/F.aggregate lambda, or
    referenced by several sibling output expressions."""
    return F.get(F.transform(F.array(expr), body), 0)


def knuth_bucket(key: Column | str, buckets: int) -> Column:
    """PORTABLE multiplicative key hash → bucket id in ``[0, buckets)``
    — the shared hash of the bloom partition indexes and the hash
    TABLESAMPLE, chosen so DuckDB oracles reproduce it bit-for-bit
    (``(key * c % p) % buckets`` with ``c = 2654435761`` and
    ``p = 1000000007``, in any engine with big-enough ints).

    The key is PRE-MODDED before the Knuth multiply:
    ``((key % p) * c) % p ≡ (key * c) % p`` (modular identity, value
    unchanged), and ``(p−1)·c ≈ 2.65e18`` fits int64 — the raw product
    hard-errors under Spark's ANSI mode once keys reach ~3.5e9. A
    10×-scale probe (keys shifted by copy·1e9) caught exactly that
    overflow in every raw-key call site; real 100 TB surrogate-key
    spaces reach the same range."""
    k = F.col(key) if isinstance(key, str) else key
    p = F.lit(1000000007)
    return (F.pmod(k, p) * F.lit(2654435761)) % p % F.lit(buckets)
