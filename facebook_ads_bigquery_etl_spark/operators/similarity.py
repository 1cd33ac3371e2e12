"""Similarity search over embedding columns (north-star extension).

Every top-k and near-dup operator here is the same two steps:
generate candidates, then verify them exactly. Candidate generation
is the only thing that differs:

* exact — every other vector (brute force, O(|queries| · n)): the
  baseline and the verifier of the approximate paths;
* random-hyperplane LSH — vectors sharing a sign-bucket of any of L
  seeded hyperplane tables (optionally multi-probing the hamming-1
  neighbors), so a query scans ~n/2^H vectors per table;
* IVF — vectors sharing one of a query's nearest k-means lists.

Verification is one private core per output shape —
:func:`_cosine_topk` (broadcast queries, JVM-side zip_with/aggregate
dot product, per-query top-k window) and :func:`_dup_pairs` — with one
quarantine rule (:func:`_scorable`) and one rounded score
(:func:`_cosine`), so candidates are scored bit-identically to the
exact baseline and only recall depends on the index (asserted vs the
brute-force baseline in tests).
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd  # module-level: pandas_udf type hints must resolve
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .exprs import let
from .topk import top_k_per_group

# The id and vector columns of every embedding table here.
_ID_COL = "vec_id"
_VEC_COL = "embedding"


def _as_double(col: Column | str) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))


def finite_vectors(vcol: Column | str) -> Column:
    """TRUE only for a non-NULL vector whose every element is non-NULL
    and finite — the 'measurable point in feature space' predicate
    (Mahalanobis/moment consumers). Map-only, codegen'd."""
    v = F.col(vcol) if isinstance(vcol, str) else vcol
    bad_elem = F.exists(
        v,
        lambda x: x.isNull()
        | F.isnan(x.cast("double"))
        | (x.cast("double") == float("inf"))
        | (x.cast("double") == float("-inf")),
    )
    return v.isNotNull() & ~bad_elem


def valid_vectors(vcol: Column | str) -> Column:
    """Quarantine predicate for dirty embeddings entering COSINE-space
    operators: :func:`finite_vectors` plus norm > 0. Zero-norm and
    NaN/Inf vectors cannot be cosine-normalized (and pyspark.ml's
    vector conversion hard-errors on them); at 100 TB a corrupt
    embedding is routine dirty data, so every similarity/ANN operator
    EXCLUDES such vectors from candidate generation instead of
    aborting the job (round-11 extremes sweep). Map-only, codegen'd.
    DuckDB oracle equivalent: plans/llm.py `_VALID_VEC_SQL`."""
    v = F.col(vcol) if isinstance(vcol, str) else vcol
    return finite_vectors(v) & (_norm(_as_double(v)) > 0)


def _scorable(df: DataFrame, names: tuple[str, str, str]) -> DataFrame:
    """(id, vector as doubles, norm) under ``names`` for the rows
    :func:`valid_vectors` admits — the one quarantine rule of the
    cosine operators. The nonzero test filters the norm the score
    needs anyway, so each row's O(d) norm is computed once
    (``valid_vectors`` would compute it a second time)."""
    i, v, n = names
    return (
        df.filter(finite_vectors(_VEC_COL))
        .select(F.col(_ID_COL).alias(i), _as_double(_VEC_COL).alias(v))
        .withColumn(n, _norm(F.col(v)))
        .filter(F.col(n) > 0)
    )


def _cosine(va: str, vb: str, na: str, nb: str) -> Column:
    """Exact cosine of two scorable rows, rounded to 6dp — the one
    score every operator here emits (HOF fold in array order, so it is
    bit-identical to the DuckDB oracles' sequential list_sum)."""
    return F.round(_dot(F.col(va), F.col(vb)) / (F.col(na) * F.col(nb)), 6)


def _cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int,
    cells: tuple[Callable[[Column], Column], Callable[[Column], Column]] | None,
) -> DataFrame:
    """The two steps every cosine top-k operator shares: generate
    candidates, then score them exactly and keep each query's k best
    → (query_id, neighbor_id, cosine, rank), self-matches excluded.

    ``cells=None`` makes every other corpus vector a candidate (the
    exact operator). Otherwise ``cells = (corpus_cells, query_cells)``
    map a double vector to its array of index-cell keys; a corpus
    vector is a candidate of a query iff they share a cell.

    Scale: queries broadcast (small side), corpus streams — a map-only
    stage plus the per-query top-k window (WindowGroupLimit pushes the
    k-filter below the shuffle)."""
    q = _scorable(queries, ("query_id", "qv", "qn"))
    c = _scorable(embeddings, ("neighbor_id", "cv", "cn"))
    if cells is None:
        pairs = c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
    else:
        corpus_cells, query_cells = cells
        q = q.withColumn("__cell", F.explode(query_cells(F.col("qv"))))
        c = c.withColumn("__cell", F.explode(corpus_cells(F.col("cv"))))
        pairs = (
            c.join(F.broadcast(q), ["__cell"])
            .filter(F.col("neighbor_id") != F.col("query_id"))
            # a candidate can surface from several tables/probes/lists
            .dropDuplicates(["query_id", "neighbor_id"])
        )
    scored = pairs.withColumn("cosine", _cosine("qv", "cv", "qn", "cn"))
    return top_k_per_group(
        scored, ["query_id"], [F.desc("cosine"), F.asc("neighbor_id")], k
    ).select("query_id", "neighbor_id", "cosine", "rank")


def cosine_topk(embeddings: DataFrame, queries: DataFrame, k: int = 10) -> DataFrame:
    """Exact cosine top-k of ``embeddings`` for each row of ``queries``
    → (query_id, neighbor_id, cosine, rank). Self-matches excluded;
    the baseline and the verifier of the approximate operators."""
    return _cosine_topk(embeddings, queries, k, None)


# Degenerate-bucket guards for _bucket_candidates (round-7 verdict:
# a single giant near-dup cluster is the EXPECTED adversarial input of
# a dedup operator at 100 TB — the uncapped per-bucket k×k similarity
# matrix and the unconditional candidate broadcast both OOM on it).
_DUP_BUCKET_CAP = 4096  # max rows per matmul SIDE; larger buckets split
_DUP_TILE_ROWS = 1024  # matmul row-block: tile memory ≤ TILE×CAP floats


def embedding_dup_pairs(
    embeddings: DataFrame,
    threshold: float,
    dim: int = 64,
    exact: bool = False,
    bucket_cap: int = _DUP_BUCKET_CAP,
) -> DataFrame:
    """Embedding-cosine near-dup pairs (a_id < b_id, cosine ≥ threshold)
    — the vector-space tier of the dedup family (dedup.py holds the
    lexical tiers).

    ``exact=True``: normalized brute-force self-join — O(n²) pair
    space, the correctness baseline/oracle. ``exact=False`` (the scale
    path): candidates only from pairs sharing a multi-table LSH cell —
    pair space shrinks to Σ bucket², then candidates are exact-scored,
    so precision is exact and only recall is approximate (asserted vs
    the exact baseline in tests).

    The scale path's candidates come from :func:`_bucket_candidates`
    (BLAS per-bucket candidate matmul, int-only dedup exchange) —
    shared with the IVF algebra."""
    cells = None if exact else (
        lambda v: _table_buckets(v, 4, dim, 8, multiprobe=False)
    )
    return _dup_pairs(embeddings, threshold, cells, bucket_cap)


def _dup_pairs(
    embeddings: DataFrame,
    threshold: float,
    cells: Callable[[Column], Column] | None,
    bucket_cap: int,
) -> DataFrame:
    """The one candidate→verify body of the near-dup operators →
    (a_id, b_id, cosine), a_id < b_id, cosine ≥ ``threshold``.

    ``cells=None`` makes every pair a candidate (the exact baseline).
    Otherwise ``cells`` maps a double vector to its array of bucket
    keys, and :func:`_bucket_candidates` proposes the pairs that share
    a bucket.

    VERIFY — candidates are re-scored with the HOF cosine and
    re-thresholded, so the emitted cosine is bit-identical to the exact
    baseline (the equivalence audits compare 6dp-rounded values; BLAS
    scores must not leak into the output). The rejoin deliberately
    carries NO broadcast hint: AQE promotes the pair set to a broadcast
    join at runtime when it is small (the normal case — the vector
    table then streams without shuffling) and keeps a shuffle join when
    a dup-heavy corpus makes the candidate set too large to broadcast —
    the round-7 unconditional ``F.broadcast(cand)`` OOMed exactly
    there."""
    base = _scorable(embeddings, ("__id", "v", "n"))
    a = base.select(
        F.col("__id").alias("a_id"), F.col("v").alias("va"), F.col("n").alias("na")
    )
    b = base.select(
        F.col("__id").alias("b_id"), F.col("v").alias("vb"), F.col("n").alias("nb")
    )
    if cells is None:
        pairs = a.join(b, F.col("a_id") < F.col("b_id"))
    else:
        cand = _bucket_candidates(
            base.withColumn("__cell", F.explode(cells(F.col("v")))),
            threshold,
            bucket_cap,
        )
        pairs = b.join(a.join(cand, "a_id"), "b_id")
    return (
        pairs.withColumn("cosine", _cosine("va", "vb", "na", "nb"))
        .filter(F.col("cosine") >= threshold)
        .select("a_id", "b_id", "cosine")
    )


def _bucket_candidates(
    cells: DataFrame, threshold: float, bucket_cap: int
) -> DataFrame:
    """Candidate pairs (a_id, b_id) of the bucketed near-dup algebras
    (multi-table LSH and IVF) from ``cells`` — one (__id, v, __cell)
    row per bucket a vector lies in. BLAS generates, :func:`_dup_pairs`
    verifies.

    * CANDIDATES — ``applyInPandas`` per bucket: normalized matmul per
      co-residence group emits the upper-triangle pairs at
      ``threshold − 1e-6`` (the slack covers BLAS-vs-HOF float
      summation-order divergence, ~1e-15 relative, so no true pair can
      be lost to it). Per-pair cost is vectorized BLAS — the HOF-lambda
      dot product the operators used before paid an O(d) interpreted
      fold per candidate, which dominated the whole family (measured
      14.9 s → the matmul path at sf0.1).
    * DEGENERATE BUCKETS — a bucket larger than ``bucket_cap`` rows is
      split PAIR-PRESERVINGLY, skew-join style: rows hash into
      ``c = ⌈k/cap⌉`` chunks and every unordered chunk pair (p ≤ q)
      becomes its own task group, so each matmul side stays ≤ cap and
      per-task memory is flat no matter how large the bucket grows
      (the replication factor is c — the quadratic pair space of a
      giant near-dup cluster is inherent to the operator's OUTPUT, but
      no single task ever holds more than one (cap × cap) tile of it).
      Within a group the matmul is additionally row-block-tiled
      (``_DUP_TILE_ROWS``), so the similarity tile — not the k×k
      matrix — is the peak allocation. Buckets under the cap take the
      c = 1 path, which is byte-identical to the unsplit algebra.
    * DEDUP — cross-bucket duplicates collapse on (a_id, b_id) ints
      only; no vector ever crosses this exchange."""
    import numpy as np
    from pyspark.sql import types as T

    thr = float(threshold)
    cap = int(bucket_cap)

    # Per-cell chunk counts come from an INT-ONLY aggregation joined
    # back, not a window over the vector-carrying rows: a window's
    # partitionBy("__cell") would shuffle the full vector payload an
    # extra time just to count it, where this agg shuffles 8-byte cell
    # ids and AQE broadcasts the (cell, c) side (≤ #cells rows) so the
    # vectors shuffle exactly ONCE — into the applyInPandas groups.
    chunk_counts = (
        cells.groupBy(F.col("__cell"))
        .agg(F.count(F.lit(1)).alias("__n"))
        .select(
            "__cell",
            F.ceil(F.col("__n") / F.lit(cap)).cast("int").alias("__c"),
        )
    )
    tagged = (
        cells.select("__id", "v", "__cell")
        .join(chunk_counts, "__cell")
        .withColumn(
            "__chunk", F.pmod(F.xxhash64("__id"), F.col("__c")).cast("int")
        )
    ).withColumn(
        "__pq",
        # one entry per chunk partner: the row joins every group whose
        # unordered chunk pair includes its own chunk
        F.explode(
            F.expr(
                "transform(sequence(0, __c - 1), o -> struct("
                "least(__chunk, o) AS p, greatest(__chunk, o) AS q))"
            )
        ),
    )

    def cell_pairs(key, pdf):  # no hints: stringified annotations
        # (future-import) break applyInPandas eval-type inference
        p, q = int(key[1]), int(key[2])
        ids = pdf["__id"].to_numpy()
        chunks = pdf["__chunk"].to_numpy()
        order = np.argsort(ids)
        ids, chunks = ids[order], chunks[order]
        X = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf["v"]])[
            order
        ]
        X /= np.maximum(np.linalg.norm(X, axis=1), 1e-12)[:, None]
        if p == q:  # one chunk (c==1: the whole bucket): triangle
            ids_a, Xa, ids_b, Xb, triangle = ids, X, ids, X, True
        else:  # cross-chunk: all (row in p) × (row in q) combos
            mp, mq = chunks == p, chunks == q
            ids_a, Xa, ids_b, Xb, triangle = ids[mp], X[mp], ids[mq], X[mq], False
        if not len(ids_a) or not len(ids_b):
            return pd.DataFrame({"a_id": [], "b_id": []}).astype("int64")
        lo_all, hi_all = [], []
        jj = np.arange(len(ids_b))
        for i0 in range(0, len(ids_a), _DUP_TILE_ROWS):
            blk = Xa[i0 : i0 + _DUP_TILE_ROWS] @ Xb.T
            m = blk >= thr - 1e-6
            if triangle:  # ids sorted ascending → a_id < b_id for free
                m &= jj[None, :] > (i0 + np.arange(blk.shape[0]))[:, None]
            ii, jx = np.nonzero(m)
            a_, b_ = ids_a[ii + i0], ids_b[jx]
            lo, hi = np.minimum(a_, b_), np.maximum(a_, b_)
            # a replayed id (two copies of x in one bucket) passes the
            # POSITIONAL triangle mask and the cross-chunk branch has
            # no ordering at all — either would emit the self-pair
            # (x, x, 1.0), violating the a_id < b_id contract (r13
            # operator review); a pair is two DISTINCT identities
            keep = lo != hi
            lo_all.append(lo[keep])
            hi_all.append(hi[keep])
        return pd.DataFrame(
            {
                "a_id": np.concatenate(lo_all) if lo_all else [],
                "b_id": np.concatenate(hi_all) if hi_all else [],
            }
        ).astype("int64")

    return (
        # prune __c/__pq before the group exchange: the shuffled rows
        # carry exactly (cell, p, q, id, chunk, vector)
        tagged.select(
            "__cell",
            F.col("__pq.p").alias("__p"),
            F.col("__pq.q").alias("__q"),
            "__id",
            "__chunk",
            "v",
        )
        .groupBy("__cell", "__p", "__q")
        .applyInPandas(cell_pairs, T.StructType([
            T.StructField("a_id", T.LongType()),
            T.StructField("b_id", T.LongType()),
        ]))
        .dropDuplicates(["a_id", "b_id"])
    )


def embedding_dup_pairs_ivf(
    embeddings: DataFrame,
    threshold: float,
    bucket_cap: int = _DUP_BUCKET_CAP,
) -> DataFrame:
    """Embedding-cosine near-dup pairs via an IVF (coarse-quantizer)
    candidate algebra — the alternative to :func:`embedding_dup_pairs`'s
    multi-table LSH: a k-means coarse quantizer splits the corpus into
    8 Voronoi cells, each vector lands in its 3
    nearest cells (soft assignment — the recall lever for vectors near
    a cell border), and candidate pairs come only from co-resident
    cells. Candidates are exact-scored, so precision is exact and only
    recall is approximate, same contract as the LSH form.

    Assigning 3 cells (heavier than :func:`ivf_cosine_topk`'s ``assign=2``)
    because PAIR recall is harsher than point recall: a pair survives
    only if BOTH endpoints co-reside in some cell, so per-point miss
    probabilities compound. Measured edge recall vs the exact baseline
    on the fixture corpus: (8,3) → 1.000 at sf0.001 / 0.983 at sf0.01;
    the top-k defaults (16,2) manage only 0.742 here.

    Scale: pair space is Σ cell² instead of n²; unlike LSH the buckets
    are DATA-ADAPTIVE (a clustered corpus gets tight cells where random
    hyperplanes split clusters in half), and the same centroid matrix
    serves the IVF ANN index (``ivf_cosine_topk``) — one trained
    structure, two operators. Grow the 8 lists ∝ √n to hold cell sizes
    flat."""
    centroids = train_ivf_centroids(embeddings, n_lists=8)
    return _dup_pairs(
        embeddings, threshold, lambda v: _ivf_cells(v, centroids, 3), bucket_cap
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (fixed seed → stable
    bucketing across runs/engines)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def _table_buckets(
    vecs: Column, n_planes: int, dim: int, n_tables: int, multiprobe: bool
) -> Column:
    """array<long> of cell keys ``(table << 32) | bucket`` — every
    (table, bucket) cell a (double) vector of ``vecs`` belongs to.
    Each table t uses an
    independent hyperplane set (seed 42+t, identical to
    :func:`_hyperplanes`). With ``multiprobe`` the hamming-1 buckets of
    each table are included too (query-side probing).

    Implemented as an Arrow-vectorized pandas UDF: one numpy matmul
    (batch × dim) @ (dim × L·H) per batch. The pure-expression
    alternative inlines L·H plane vectors as ~L·H·dim literals into the
    plan — measured 6-10 s of analysis/codegen per query at L=8, H=4,
    dim=64 vs ~1 s total for the UDF; at high dim a BLAS matmul also
    beats per-element codegen arithmetic at runtime."""
    import numpy as np
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    # Planes are materialized DRIVER-side and captured as a plain
    # ndarray: the closure then pickles self-contained (no reference to
    # this package, which workers may not be able to import — the
    # driver's cwd is not on their sys.path), and the matrix is built
    # once instead of per Arrow batch.
    planes = np.concatenate(
        [np.asarray(_hyperplanes(dim, n_planes, seed=42 + t)) for t in range(n_tables)]
    )  # (L·H) × dim

    @pandas_udf(T.ArrayType(T.LongType()))
    def cells(vecs: pd.Series) -> pd.Series:
        X = np.asarray([np.asarray(v, dtype=np.float64) for v in vecs])
        bits = (X @ planes.T) > 0  # n × (L·H)
        bits = bits.reshape(len(X), n_tables, n_planes)
        weights = 1 << np.arange(n_planes, dtype=np.int64)
        buckets = (bits * weights).sum(axis=2)  # n × L
        base = (np.arange(n_tables, dtype=np.int64) << 32) + buckets
        if multiprobe:
            probes = np.stack(
                [base] + [base ^ (1 << j) for j in range(n_planes)], axis=2
            ).reshape(len(X), -1)
        else:
            probes = base
        return pd.Series(list(probes.tolist()))

    return cells(vecs)


def train_ivf_centroids(
    embeddings: DataFrame, n_lists: int = 16
) -> list[list[float]]:
    """Spherical-ish k-means coarse quantizer for an IVF index:
    vectors are L2-normalized, then clustered with the distributed
    ``pyspark.ml`` k-means|| (the training scan runs on executors —
    nothing but the k × dim centroid matrix ever reaches the driver,
    so training holds at any corpus size; at 100 TB you'd train on a
    ``.sample()`` of the corpus, which changes recall only marginally).
    Returns the centroid matrix as plain lists (plan-embeddable).

    Ten Lloyd iterations: k-means|| initialization places centroids well
    enough that extra Lloyd rounds stop moving recall — measured at
    sf0.1: identical IVF-PQ recall at 6/10/20 iterations while
    training wall-clock halves from 20→10 (each round is a full
    distributed pass, the dominant cost of every in-query index
    build)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    # Nested let-bindings (operators/exprs.let): the vector is cast
    # once, and its norm — an O(d) aggregate — is evaluated once per
    # row instead of once per ELEMENT (the unbound form recomputed the
    # norm inside the division lambda: O(d²) per vector).
    unit = let(
        _as_double(_VEC_COL),
        lambda v: let(_norm(v), lambda n: F.transform(v, lambda x: x / n)),
    )
    # quarantine before array_to_vector: pyspark.ml hard-errors on
    # NaN/Inf elements, and a zero-norm vector would train a NaN
    # centroid (round-11 extremes sweep)
    train = embeddings.filter(valid_vectors(_VEC_COL)).select(
        array_to_vector(unit).alias("features")
    )
    # bounded probe (scans until n_lists rows accumulate, never the
    # corpus): k-means hard-errors when k exceeds the row count — an
    # empty corpus trains ZERO centroids (every IVF consumer is then a
    # clean empty-in/empty-out pass; the cell-assign UDF never runs on
    # zero rows), a tiny one trains one centroid per row
    # (r10 empty/one-row sweeps).
    n_small = train.limit(n_lists).count()
    if n_small == 0:
        return []
    if n_small == 1:
        # MLlib k-means rejects k < 2; a one-vector corpus's quantizer
        # IS that unit vector (r10 one-row sweep)
        return [
            [float(x) for x in train.first()["features"]]
        ]
    model = KMeans(
        k=min(n_lists, n_small), seed=42, maxIter=10
    ).fit(train)
    return [list(map(float, c)) for c in model.clusterCenters()]


def _ivf_cells(
    vecs: Column | str, centroids: list[list[float]], nprobe: int
) -> Column:
    """array<int> of the ``nprobe`` centroid ids nearest (by cosine) to
    each of the ``vecs`` — posting-list key(s). Arrow-vectorized pandas
    UDF: one (batch × dim) @ (dim × k) matmul per batch, same rationale as
    :func:`_table_buckets` (k·dim literals would bloat the plan and
    per-element codegen loses to BLAS at dim 64)."""
    import numpy as np
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(T.ArrayType(T.IntegerType()))
    def cells(vecs: pd.Series) -> pd.Series:
        C = np.asarray(centroids, dtype=np.float64)
        C /= np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
        X = np.asarray([np.asarray(v, dtype=np.float64) for v in vecs])
        X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
        sims = X @ C.T  # n × k
        if nprobe >= sims.shape[1]:
            order = np.argsort(-sims, axis=1)
        else:
            part = np.argpartition(-sims, nprobe, axis=1)[:, :nprobe]
            order = np.take_along_axis(
                part, np.argsort(-np.take_along_axis(sims, part, axis=1), axis=1), axis=1
            )
        return pd.Series(list(order[:, :nprobe].astype("int32").tolist()))

    return cells(vecs)


def ivf_cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_lists: int = 16,
    nprobe: int = 6,
    assign: int = 2,
) -> DataFrame:
    """Approximate cosine top-k via an IVF (inverted-file) index — the
    partition-pruning counterpart of :func:`lsh_cosine_topk`: a coarse
    quantizer (k-means over normalized vectors) splits the corpus into
    ``n_lists`` posting lists; each corpus vector is stored in its
    ``assign`` nearest lists, each query probes only its ``nprobe``
    nearest lists. Candidates are exact-scored, so precision is exact;
    recall depends on nprobe/n_lists and is asserted vs the brute-force
    baseline in tests. ``assign > 1`` (soft assignment) is the recall
    lever for weakly-clustered corpora: a vector near a Voronoi border
    is findable from both sides for ``assign×`` storage (measured here:
    0.52 → 0.94 recall@10 going from assign=1,nprobe=4 to
    assign=2,nprobe=6 on near-random vectors).

    Scale: per-query work drops from n to ~n · assign · nprobe /
    n_lists. The corpus side is ONE narrow map stage (assign cells) and
    the probe join shuffles only on the small int cell key; with the
    corpus *written* partitioned/bucketed by cell id
    (``partitionBy(cell)``), probing becomes partition pruning — only
    nprobe/n_lists of the files are read at all, which is the property
    that matters at 100 TB. Grow n_lists ∝ √n to hold list sizes flat."""
    centroids = train_ivf_centroids(embeddings, n_lists=n_lists)
    if not centroids:
        # empty (or fully-quarantined) corpus trains zero centroids:
        # no posting lists, no neighbors — empty-in/empty-out with the
        # contract schema, mirroring ivfpq_cosine_topk. Without this
        # the cell-assign UDF still runs on the QUERY side and
        # np.linalg.norm(axis=1) crashes on the 0-row centroid matrix
        # (r13 operator review).
        return embeddings.sparkSession.createDataFrame(
            [], "query_id long, neighbor_id long, cosine double, rank int"
        )
    return _cosine_topk(
        embeddings, queries, k,
        (
            lambda v: _ivf_cells(v, centroids, assign),
            lambda v: _ivf_cells(v, centroids, nprobe),
        ),
    )


def lsh_cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 8,
    n_tables: int = 8,
) -> DataFrame:
    """Approximate cosine top-k, standard E2LSH-style OR-amplification:
    ``n_tables`` independent random-hyperplane tables of ``n_planes``
    bits each over 64-dim vectors; a corpus vector is a candidate if it
    shares ANY table's bucket with the query (plus, multi-probed, the
    buckets at hamming distance 1 — vectors near a hyperplane land on
    either side). Candidates are exact-scored and ranked; misses are only
    pairs that collide in NO table: p_miss = (1-p^H)^L per probe set.

    Scale: the corpus is indexed once into L×(t,bucket) cells — an
    L-fold map-side expansion followed by ONE shuffle on the cell key;
    each query touches L·(1+H) buckets of ~n/2^H vectors, so per-query
    work stays sublinear in n. Tune (H up, L up) together to hold
    recall while shrinking buckets at larger corpus sizes."""
    return _cosine_topk(
        embeddings, queries, k,
        (
            lambda v: _table_buckets(v, n_planes, 64, n_tables, multiprobe=False),
            lambda v: _table_buckets(v, n_planes, 64, n_tables, multiprobe=True),
        ),
    )


def quantize_audit(df: DataFrame) -> DataFrame:
    """Symmetric int8 quantization audit: per-vector scale
    (max|x| / 127) and the reconstruction error a round-trip through
    int8 would incur. This is the storage-shrink step a 100 TB
    embedding corpus applies before ANN indexing (4 bytes → 1 byte per
    dimension); the audit quantifies what it costs.

    Everything is a codegen'd array expression evaluated IN ARRAY
    ORDER (``transform`` + ``aggregate``) — no shuffle, no UDF, and
    bit-reproducible across engines because every float op sequence is
    identical. Vectors with scale 0 (all-zero) are excluded: their
    round-trip is exact by definition and their scale is meaningless.

    Elements are widened float32→float64 BEFORE any arithmetic: the
    widening is exact, and it pins every subsequent op to double
    precision so the result is bit-identical to any other engine
    doing the same (the oracle casts the same way)."""
    df = df.filter(valid_vectors(_VEC_COL))
    x = F.transform(F.col(_VEC_COL), lambda v: v.cast("double"))
    scale = F.array_max(F.transform(x, lambda v: F.abs(v))) / F.lit(127.0)
    d = df.select(
        F.col(_ID_COL),
        x.alias("x"),
        scale.alias("scale"),
        F.size(x).alias("dim"),
    ).filter(F.col("scale") > 0)
    err = F.transform(
        F.col("x"),
        lambda v: F.abs(F.round(v / F.col("scale")) * F.col("scale") - v),
    )
    d = d.withColumn("err", err)
    return d.select(
        _ID_COL,
        F.round("scale", 9).alias("scale"),
        F.round(F.array_max("err"), 9).alias("max_abs_err"),
        F.round(
            F.aggregate("err", F.lit(0.0), lambda acc, v: acc + v) / F.col("dim"), 9
        ).alias("mean_abs_err"),
    )


def pq_audit(
    df: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
    m: int = 8,
    k: int = 16,
) -> DataFrame:
    """Product quantization (Jégou et al., PAMI 2011) with an
    engine-verified distortion audit: the ``dim``-wide vector space
    splits into ``m`` subspaces, each quantized by its own
    ``k``-centroid codebook, compressing a vector to ``m`` byte codes
    (32× at 64 dims).

    Codebooks train DRIVER-SIDE (:func:`_train_pq_codebooks`) on a
    BOUNDED DETERMINISTIC sample (first 256 vectors by id —
    TakeOrdered, no global sort; the standard practice: FAISS trains
    PQ on a fixed-size sample regardless of corpus size, since
    codebook quality saturates).
    Encoding and distortion run DISTRIBUTED over the full corpus in
    one Arrow-batched mapInPandas pass with the m×k×(dim/m) codebook
    matrix shipped in the closure — fixed-size partials, same merge
    shape as the Gram partials in operators/linalg.py.

    Output: one audit row — n_vectors and mean per-component energy
    (both recomputed exactly by the DuckDB oracle) plus booleans the
    oracle pins TRUE: distortion strictly positive, distortion below
    the per-component energy (PQ must beat the zero-vector code), and
    every code id within [0, k)."""
    import numpy as np
    import pandas as pd

    df = df.filter(valid_vectors(vec_col))
    sub = dim // m
    sample = [
        r[vec_col]
        for r in df.select(vec_col, "vec_id").orderBy("vec_id").limit(256).collect()
    ]
    if not sample:
        # an empty corpus trains no codebooks; the audit booleans hold
        # vacuously and the energy is NULL, matching the oracle's AVG
        # over zero components (r10 empty sweep)
        return df.sparkSession.createDataFrame(
            [(0, None, True, True, True)],
            "n_vectors long, mean_component_energy double,"
            " distortion_positive boolean, distortion_below_energy"
            " boolean, codes_in_range boolean",
        )
    cb = _train_pq_codebooks(np.asarray(sample, dtype=np.float64), m, k)

    def enc(batches):
        for pdf in batches:
            vecs = pdf[vec_col].dropna()
            if vecs.empty:
                continue
            x = np.asarray(vecs.tolist(), dtype=np.float64)
            sq = orig = 0.0
            codes_ok = True
            for j in range(m):
                xj = x[:, j * sub : (j + 1) * sub]
                d2 = ((xj[:, None, :] - cb[j][None, :, :]) ** 2).sum(-1)
                idx = d2.argmin(1)
                codes_ok = codes_ok and bool((idx >= 0).all() and (idx < k).all())
                sq += float(((xj - cb[j][idx]) ** 2).sum())
                orig += float((xj**2).sum())
            yield pd.DataFrame(
                {
                    "n": [int(x.shape[0])],
                    "sq": [sq],
                    "orig": [orig],
                    "ok": [codes_ok],
                }
            )

    parts = df.select(vec_col).mapInPandas(
        enc, "n long, sq double, orig double, ok boolean"
    )
    tot = parts.agg(
        F.sum("n").alias("n"),
        F.sum("sq").alias("sq"),
        F.sum("orig").alias("orig"),
        F.min("ok").alias("ok"),
    ).collect()[0]
    n, d = int(tot["n"]), dim
    mse = tot["sq"] / (n * d)
    energy = tot["orig"] / (n * d)
    return df.sparkSession.createDataFrame(
        [
            (
                n,
                round(energy, 6),
                # with ≤ k vectors each can be its own centroid per
                # subspace, so ZERO distortion is correct quantization,
                # not a degenerate measurement (r10 one-row sweep); at
                # scale the claim stays strict
                bool(mse > 0.0 or n <= k),
                bool(mse < energy or n <= k),
                bool(tot["ok"]),
            )
        ],
        "n_vectors long, mean_component_energy double,"
        " distortion_positive boolean, distortion_below_energy boolean,"
        " codes_in_range boolean",
    )


def _train_pq_codebooks(sample_matrix, m: int, k: int):
    """Lloyd-trained per-subspace codebooks (m × k × d/m) over a
    (numpy) n × d training sample — the one trainer behind
    :func:`pq_audit` and :func:`ivfpq_cosine_topk`. Deterministic:
    init = first k sample rows per subspace, 10 fixed iterations."""
    import numpy as np

    d = sample_matrix.shape[1]
    sub = d // m
    books = []
    for j in range(m):
        xj = sample_matrix[:, j * sub : (j + 1) * sub]
        cent = xj[:k].copy()
        for _ in range(10):
            idx = ((xj[:, None, :] - cent[None, :, :]) ** 2).sum(-1).argmin(1)
            for c in range(k):
                pts = xj[idx == c]
                if len(pts):
                    cent[c] = pts.mean(0)
        books.append(cent)
    return np.stack(books)  # m × k × sub


def ivfpq_cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 6,
    assign: int = 2,
    m: int = 8,
    rerank: int = 40,
) -> DataFrame:
    """IVF-PQ — the FAISS serving pairing, end to end: the IVF coarse
    quantizer (16 lists) prunes the probe set to ``nprobe`` of them, PQ
    ASYMMETRIC DISTANCE (query subvectors against each candidate's
    m byte codes, 16 centroids per subspace) ranks the surviving
    candidates WITHOUT touching their full vectors, and only the top
    ``rerank`` per query get exact-rescored. Three cost tiers: partition pruning → 8-byte-code
    arithmetic → exact math on a bounded set.

    Scale: the corpus pays one map pass (cell assignment + PQ
    encoding, Arrow-batched); the probe join shuffles on the int cell
    key only; ADC ships the m×k×(d/m) codebook (KBs) in the closure;
    the exact tier reads ``rerank`` full vectors per query. Codebooks
    train on a bounded deterministic sample (same contract as
    :func:`pq_audit`)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.window import Window as W

    embeddings = embeddings.filter(valid_vectors(_VEC_COL))
    queries = queries.filter(valid_vectors(_VEC_COL))
    centroids = train_ivf_centroids(embeddings)
    sample = [
        r[_VEC_COL]
        for r in embeddings.select(_VEC_COL, _ID_COL)
        .orderBy(_ID_COL)
        .limit(256)
        .collect()
    ]
    if not sample:
        # empty corpus: no index to build, no neighbors to serve —
        # empty-in/empty-out with the contract schema (r10 empty sweep)
        return embeddings.sparkSession.createDataFrame(
            [], "query_id long, neighbor_id long, cosine double, rank int"
        )
    S = np.asarray(sample, dtype=np.float64)
    S = S / np.maximum(np.linalg.norm(S, axis=1, keepdims=True), 1e-12)
    cb = _train_pq_codebooks(S, m, 16)
    d = S.shape[1]
    sub = d // m

    # Both UDFs are batch-vectorized (r13 optimization, guide §4.2):
    # the previous per-row Python loops paid interpreter overhead per
    # vector per subspace. Arithmetic is kept BIT-IDENTICAL to the
    # per-row form: norms go through a batched matmul (np.matmul of
    # (n,1,d)×(n,d,1) reproduces per-row BLAS np.dot exactly — an
    # axis-wise (x*x).sum() does NOT, its pairwise reduction differs
    # in the last ulp), and the per-subspace distance/ADC terms reduce
    # over the same trailing axis the row form reduced over (verified
    # np.array_equal on the fixture corpus). A ulp drift here could
    # flip an ADC near-tie at the rerank boundary and change a
    # registered query's output, so the equality is load-bearing.
    def _unit_rows(vecs) -> "np.ndarray":
        X = np.asarray([np.asarray(v, dtype=np.float64) for v in vecs])
        nrm = np.sqrt(np.matmul(X[:, None, :], X[:, :, None]).ravel())
        return X / np.maximum(nrm, 1e-12)[:, None]

    @pandas_udf("array<int>")
    def pq_encode(vecs):
        if not len(vecs):
            return pd.Series([], dtype=object)
        X = _unit_rows(vecs)
        codes = np.empty((len(X), m), dtype=np.int64)
        for j in range(m):
            xj = X[:, j * sub : (j + 1) * sub]
            d = ((xj[:, None, :] - cb[j][None, :, :]) ** 2).sum(-1)
            codes[:, j] = d.argmin(1)
        return pd.Series(codes.tolist())

    @pandas_udf("double")
    def adc_score(qvecs, codes):
        if not len(qvecs):
            return pd.Series([], dtype=float)
        Q = _unit_rows(qvecs)
        C = np.asarray([np.asarray(c, dtype=np.int64) for c in codes])
        s = np.zeros(len(Q))
        for j in range(m):  # accumulate in subspace order, like the row form
            sel = cb[j][C[:, j]]
            qj = Q[:, j * sub : (j + 1) * sub]
            s += np.matmul(qj[:, None, :], sel[:, :, None]).ravel()
        return pd.Series(s)

    # The candidate stream carries ONLY (id, m byte codes): the full
    # vector must not ride the cell-explode (×assign copies) and the
    # probe-join shuffle — that would ship corpus vectors through an
    # exchange during the phase whose whole point is to avoid touching
    # them. The ``rerank`` survivors get their vectors back via a
    # broadcast of the pruned set onto a plain corpus scan (map-side
    # hash join, queries×rerank rows on the build side).
    eb = embeddings.select(
        F.col(_ID_COL).alias("neighbor_id"),
        pq_encode(F.col(_VEC_COL)).alias("__codes"),
        F.explode(_ivf_cells(_as_double(_VEC_COL), centroids, assign)).alias("__cell"),
    )
    qb = queries.select(
        F.col(_ID_COL).alias("query_id"),
        F.col(_VEC_COL).alias("__qvec"),
        F.explode(_ivf_cells(_as_double(_VEC_COL), centroids, nprobe)).alias("__cell"),
    )
    cand = (
        qb.join(eb, "__cell")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "__qvec", "neighbor_id", "__codes")
        .dropDuplicates(["query_id", "neighbor_id"])
        .withColumn("__adc", adc_score(F.col("__qvec"), F.col("__codes")))
    )
    w_adc = W.partitionBy("query_id").orderBy(
        F.desc("__adc"), F.col("neighbor_id")
    )
    pruned = cand.withColumn("__r", F.row_number().over(w_adc)).where(
        F.col("__r") <= rerank
    )
    vecs = embeddings.select(
        F.col(_ID_COL).alias("neighbor_id"), F.col(_VEC_COL).alias("__nvec")
    )
    pruned = vecs.join(F.broadcast(pruned), "neighbor_id")
    cos = _dot(F.col("__qvec"), F.col("__nvec")) / (
        _norm(F.col("__qvec")) * _norm(F.col("__nvec"))
    )
    w_cos = W.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.col("neighbor_id")
    )
    return (
        pruned.withColumn("cosine", F.round(cos, 6))
        .withColumn("rank", F.row_number().over(w_cos))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def jl_projection_audit(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    target_dim: int = 16,
    lo: float = 0.2,
    hi: float = 2.2,
) -> DataFrame:
    """Johnson–Lindenstrauss random projection (64 → 16 dims via the
    seeded Gaussian matrix from :func:`_hyperplanes`, scaled 1/√m)
    with a distance-preservation audit: for the deterministic pair
    set (2i, 2i+1), the squared-distance ratio after/before must fall
    inside [lo, hi] for ≥ 90% of pairs — the JL lemma's
    concentration made checkable. The audit row carries the exact
    mean ORIGINAL squared distance (recomputable by any engine from
    the raw vectors) plus the engine-verified distortion boolean.

    Scale shape: projection is one Arrow-batched map pass with the
    m×d matrix in the closure (KBs); the pair join is an equi join on
    the derived pair id; everything after is one aggregate. The use:
    16-dim vectors make every downstream ANN/dedup pass 4× cheaper
    while keeping neighborhoods intact within the audited bounds."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    R = np.asarray(_hyperplanes(dim, target_dim, seed=42)) / np.sqrt(target_dim)

    @pandas_udf("array<double>")
    def project(vecs):
        out = []
        for v in vecs:
            x = np.asarray(v, dtype=np.float64)
            out.append((R @ x).tolist())
        return pd.Series(out)

    p = df.select(
        F.col(id_col), F.col(vec_col), project(F.col(vec_col)).alias("__p")
    )
    a = p.where(F.col(id_col) % 2 == 0).select(
        (F.col(id_col) / 2).cast("long").alias("pair"),
        F.col(vec_col).alias("va"),
        F.col("__p").alias("pa"),
    )
    b = p.where(F.col(id_col) % 2 == 1).select(
        ((F.col(id_col) - 1) / 2).cast("long").alias("pair"),
        F.col(vec_col).alias("vb"),
        F.col("__p").alias("pb"),
    )
    d_orig = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    d_proj = F.aggregate(
        F.zip_with("pa", "pb", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    pairs = a.join(b, "pair").select(
        "pair", d_orig.alias("d0"), d_proj.alias("d1")
    )
    # SUM over zero pairs is NULL, which would make the floor compare
    # NULL instead of the vacuous TRUE (0 ≥ 0) an empty pair set earns.
    return pairs.agg(
        F.count("*").alias("n_pairs"),
        F.round(F.avg("d0"), 6).alias("mean_orig_dist_sq"),
        (
            F.coalesce(
                F.sum(
                    F.when(
                        (F.col("d1") >= lo * F.col("d0"))
                        & (F.col("d1") <= hi * F.col("d0")),
                        1,
                    ).otherwise(0)
                ),
                F.lit(0),
            )
            * 100
            >= F.lit(90) * F.count("*")
        ).alias("distortion_ok"),
    )
