"""Distributed dense linear algebra over embedding columns.

The engine-side primitive is a MERGEABLE GRAM PARTIAL: each Arrow
batch reduces to one row ``(n, Σx, ΣxᵀX)`` of fixed size O(d²) —
independent of row count — so covariance/PCA over 100 TB of vectors
shuffles only ``#batches`` tiny rows, never the vectors. This is the
same partial-aggregation shape MLlib's RowMatrix.computeGramianMatrix
uses, expressed through mapInPandas + a posexplode reduce so the whole
path stays in the DataFrame API.

Eigendecomposition happens driver-side on the d×d matrix (numpy.eigh,
64×64 here) — a BOUNDED READOUT whose size depends only on the
declared dimension, the same contract as the sketch readouts in
operators/sketches.py. The projection/reconstruction step broadcasts
the (d×k) component matrix back and stays map-only.

Reference parity: the reference engine (main.py:16-224) has no vector
ops; this is a north-star LLM-pipeline operator (charter: similarity
search / embedding analysis are first-class).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import materialize

_PARTIAL_SCHEMA = "n long, s array<double>, g array<double>"


def gram_partials(
    df: DataFrame, col: str = "embedding", dim: int | None = None
) -> DataFrame:
    """One row per Arrow batch: ``n`` rows seen, per-dimension sum
    vector ``s`` (length d) and row-major flattened Gram sum ``g``
    (length d²), all in float64. Rows with NULL vectors are skipped.
    The output is a mergeable monoid: summing partials elementwise
    yields the exact full-data moments (modulo float addition order,
    which every consumer rounds away at readout).

    Non-finite vectors are quarantined before the reduction: one
    NaN/Inf element would poison every moment it touches, and at
    100 TB a corrupt embedding is routine dirty data (round-11
    extremes sweep)."""
    from .similarity import finite_vectors

    df = df.filter(finite_vectors(col))
    if dim is not None:
        # a truncated/overlong vector is dirty data like a NaN one —
        # without this, one ragged row makes np.asarray raise on the
        # inhomogeneous batch and aborts the job instead of
        # quarantining (r13 operator review, executed counterexample)
        df = df.filter(F.size(F.col(col)) == dim)

    def part(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            vecs = pdf[col].dropna()
            if vecs.empty:
                continue
            m = np.asarray(vecs.tolist(), dtype=np.float64)
            yield pd.DataFrame(
                {
                    "n": [int(m.shape[0])],
                    "s": [m.sum(axis=0).tolist()],
                    "g": [(m.T @ m).ravel().tolist()],
                }
            )

    return df.select(col).mapInPandas(part, _PARTIAL_SCHEMA)


def moment_sums(
    df: DataFrame, col: str = "embedding", dim: int | None = None
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Reduce the batch partials to global moments as three small
    DataFrames: ``counts`` (1 row: n), ``sums`` (d rows: i, s) and
    ``grams`` (d² rows: k, g) — ``k = i*d + j`` row-major. All three
    derive from ONE mapInPandas pass; the explode/group frames are
    partial-count-sized, not data-sized. The partials frame is a lazy
    ``materialize.persist`` entry of the current query invocation:
    without it each of the three aggregates — plus pca_audit's
    reconstruction pass — re-executes the full corpus scan (ADVICE
    r3); with it the vectors are read exactly once per moment set.
    Two moment sets over the same frame in one invocation (the
    covariance_probe and pca_audit shapes) are separate entries that
    stay readable until the next invocation opens."""
    # r14 fix for a measured 5× work amplification: covariance_probe
    # fans the moment frames into FIVE BroadcastExchange subtrees
    # (s_i, s_j, g_ii, g_ij, counts). Spark builds broadcasts on a
    # parallel thread pool, and N builders racing on the lazy persist
    # below each recomputed the whole corpus mapInPandas pass
    # (first-writer-wins cache puts — correct but N× the cluster work;
    # measured 6.5 s summed job time per ~1.3 s of needed work per
    # run). The fix materializes the three SMALL moment frames (1, d
    # and d² rows) eagerly: the first checkpoint's job computes the
    # partials once and arms their cache, the other two read it, and
    # every downstream broadcast builds from a materialized frame —
    # corpus pass exactly once. Measured best-wall across the three
    # forms (lazy / eager partials / this): this one wins while
    # cutting summed job time ~5×.
    p = materialize.persist(gram_partials(df, col, dim))
    counts = materialize.checkpoint(p.agg(F.sum("n").alias("n")))
    sums = materialize.checkpoint(
        p.select(F.posexplode("s").alias("i", "v"))
        .groupBy("i")
        .agg(F.sum("v").alias("s"))
    )
    grams = materialize.checkpoint(
        p.select(F.posexplode("g").alias("k", "v"))
        .groupBy("k")
        .agg(F.sum("v").alias("g"))
    )
    return counts, sums, grams


def covariance_probe(df: DataFrame, col: str = "embedding", dim: int = 64) -> DataFrame:
    """Per-dimension population variance and covariance with the next
    dimension (cyclic), from the distributed Gram partials — one
    oracle-checkable row per dimension, rounded 6dp. Proves the
    mergeable-moment path is numerically exact without emitting all
    d² entries."""
    spark = df.sparkSession
    counts, sums, grams = moment_sums(df, col, dim)
    dims = spark.range(dim).select(F.col("id").cast("int").alias("dim"))
    probe = dims.withColumn("j", (F.col("dim") + 1) % dim)
    s_i = sums.select(F.col("i").alias("dim"), F.col("s").alias("s_i"))
    s_j = sums.select(F.col("i").alias("j"), F.col("s").alias("s_j"))
    g_ii = grams.select(
        (F.col("k") / dim).cast("int").alias("dim"),
        (F.col("k") % dim).alias("_jj"),
        F.col("g").alias("g_ii"),
    ).where(F.col("dim") == F.col("_jj"))
    return (
        probe.join(F.broadcast(s_i), "dim")
        .join(F.broadcast(s_j), "j")
        .join(F.broadcast(g_ii.drop("_jj")), "dim")
        .join(
            F.broadcast(
                grams.select(F.col("k").alias("_k"), F.col("g").alias("g_ij"))
            ),
            F.col("_k") == F.col("dim") * dim + F.col("j"),
        )
        .join(F.broadcast(counts))
        .select(
            "dim",
            F.round(
                F.col("g_ii") / F.col("n")
                - (F.col("s_i") / F.col("n")) * (F.col("s_i") / F.col("n")),
                6,
            ).alias("variance"),
            F.round(
                F.col("g_ij") / F.col("n")
                - (F.col("s_i") / F.col("n")) * (F.col("s_j") / F.col("n")),
                6,
            ).alias("cov_next"),
        )
    )


def pca_audit(
    df: DataFrame, col: str = "embedding", dim: int = 64, k: int = 8
) -> DataFrame:
    """Distributed PCA with an engine-verified audit row.

    Moments reduce via the mergeable Gram partials; the d×d covariance
    is assembled driver-side (bounded readout: d²+d+1 values, size set
    by the DECLARED dimension, never the data) and eigendecomposed
    with numpy. Three checks are computed for real and emitted as
    booleans the oracle pins TRUE:

    * ``topk_share_in_unit_range`` — Σ top-k eigenvalues / trace lies
      in (0, 1]; also requires every eigenvalue ≥ -1e-9 (PSD).
    * ``eigh_residual_ok`` — max ‖C·v − λ·v‖∞ over the top-k pairs is
      ≤ 1e-8·trace.
    * ``recon_matches_tail`` — the DISTRIBUTED mean squared
      reconstruction residual after projecting onto the top-k
      components (map-only second pass with the d×k basis broadcast)
      equals the eigenvalue tail sum within 1e-6·trace — the
      Eckart–Young identity, checked end to end.

    ``total_variance`` (= trace) is recomputed exactly by the DuckDB
    oracle from the raw vectors, so the audit row hash-checks."""
    spark = df.sparkSession
    counts, sums, grams = moment_sums(df, col, dim)
    n = counts.collect()[0]["n"]
    schema = (
        "n_vectors long, total_variance double,"
        " topk_share_in_unit_range boolean,"
        " eigh_residual_ok boolean, recon_matches_tail boolean"
    )
    if not n:
        # an empty corpus has no covariance to decompose: the audit
        # booleans hold vacuously and the variance is NULL, matching
        # the oracle's SUM over zero dims (r10 empty sweep)
        return spark.createDataFrame([(0, None, True, True, True)], schema)
    s = np.zeros(dim)
    for r in sums.collect():
        s[r["i"]] = r["s"]
    g = np.zeros((dim, dim))
    for r in grams.collect():
        g[r["k"] // dim, r["k"] % dim] = r["g"]
    mean = s / n
    cov = g / n - np.outer(mean, mean)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    evals, evecs = evals[::-1], evecs[:, ::-1]  # descending
    trace = float(np.trace(cov))
    top = float(evals[:k].sum())
    tail = float(evals[k:].sum())
    # trace == 0 (a single vector, or all-identical vectors): the
    # covariance is the zero matrix — the spectrum claims hold
    # vacuously instead of dividing by zero (r10 one-row sweep)
    share_ok = (
        bool(abs(top) <= 1e-12)
        if trace == 0.0
        else bool(0.0 < top / trace <= 1.0 + 1e-12)
    ) and bool((evals >= -1e-9).all())
    resid = np.abs(cov @ evecs[:, :k] - evecs[:, :k] * evals[:k]).max()
    eigh_ok = bool(resid <= 1e-8 * trace)

    basis = evecs[:, :k].copy()  # d×k, broadcast via closure

    def recon(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            vecs = pdf[col].dropna()
            if vecs.empty:
                continue
            m = np.asarray(vecs.tolist(), dtype=np.float64) - mean
            proj = m @ basis
            res = m - proj @ basis.T
            yield pd.DataFrame(
                {"n": [int(m.shape[0])], "sq": [float((res**2).sum())]}
            )

    # same quarantine as gram_partials: the residual pass must see
    # exactly the moment population (round-11 extremes sweep)
    from .similarity import finite_vectors

    parts = (
        df.filter(finite_vectors(col) & (F.size(F.col(col)) == dim))
        .select(col)
        .mapInPandas(recon, "n long, sq double")
    )
    tot = parts.agg(F.sum("n").alias("n"), F.sum("sq").alias("sq")).collect()[0]
    mean_sq_resid = tot["sq"] / (tot["n"] * 1.0)
    recon_ok = bool(abs(mean_sq_resid - tail) <= 1e-6 * max(trace, 1.0))

    return spark.createDataFrame(
        [(int(n), round(trace, 6), share_ok, eigh_ok, recon_ok)], schema
    )
