"""Deduplication family for training-data pipelines (north-star).

Three tiers, each with a distinct scale profile (exact duplicates
are a groupBy on a body digest — plans/llm.py ``exact_dedup_docs``):

* n-gram Jaccard — exact set similarity via token/shingle explode +
                 self-join on shingle. Correct but O(Σ posting-list²)
                 on hot shingles: the *oracle/baseline*, not the scale
                 path. AQE skew-join splits hot shingles locally.
* MinHash+LSH  — the scale path: constant-size signatures (P
                 permutations) per doc, banded into B buckets;
                 candidate pairs only within equal (band, bandhash)
                 buckets, then exact-verify the candidates. Shuffle
                 volume O(n·B) regardless of document size.
* SimHash      — 64-bit near-dup sketch; hamming≤k search via the
                 pigeonhole chunk trick (4×16-bit chunks: any pair at
                 hamming≤3 shares an exact chunk).

Everything is built-in expressions (xxhash64/transform/aggregate) —
deterministic across runs, no Python in the row path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import materialize
from .exprs import let
from .text import ngrams, tokens


def spread(df: DataFrame) -> DataFrame:
    """The one width rule for a table entering a CPU-heavy stage
    (shingling, multi-hash aggs, a Python pipeline): repartition to
    ``defaultParallelism`` when the input is narrower. A small/compact
    parquet input arrives as one partition, which would serialize the
    expensive stage on one core; at 100 TB inputs are already wide
    (this no-ops) and the cost vanishes relative to the stage it
    parallelizes.

    Width probe: ``inputFiles()`` (a file-index lookup on the analyzed
    plan, no job), NOT the RDD's partition count — asked of a frame
    with an exchange, that runs the AQE shuffle-map stages as 1–3
    Spark jobs while the query is only being built, and they run again
    at execution. File count under-approximates scan partitions
    (splittable parquet), so this only errs toward spreading, never
    toward serializing."""
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        width = len(df.inputFiles())
    except Exception:
        width = 0  # non-file source: assume narrow, spread
    return df.repartition(target) if width < target else df


def _spread(df: DataFrame) -> DataFrame:
    """:func:`spread` plus a materialization barrier, which is
    load-bearing for dedup's expression stages: Catalyst pushes
    deterministic projections THROUGH a bare repartition (to shrink
    the shuffle), which lands the expensive expressions back on the
    single input partition — observed 6× slowdown. An InMemoryRelation
    is a barrier the optimizer does not cross, so downstream compute
    genuinely runs on the spread partitions (a MapInPandas is not
    pushed through a repartition, so Python stages need no barrier).
    Only narrow inputs pay the (tiny) cache, which lives until the next
    query invocation opens (operators/materialize)."""
    out = spread(df)
    return df if out is df else materialize.persist(out)


# -- exact -----------------------------------------------------------------

def resolve_replays(
    df: DataFrame, key_cols: list[str], order_cols: list[str] | None = None
) -> DataFrame:
    """Deterministic replay resolution for a keyed table: keep exactly
    ONE row per primary key, chosen by a CONTENT-TOTAL order.

    At-least-once upstream delivery routinely re-emits a record whose
    payload drifted between attempts (a late-updated metric, a
    re-rendered body) — the reference's own ingest has exactly this
    failure mode (no insertId; reference main.py:86-89). Every
    operator that assumes key-ness (1:1 joins, MERGE, key-tie-broken
    windows, identity-keyed dedup) must see RESOLVED input, and the
    resolution must be deterministic across engines and layouts: the
    winner is the row with the greatest (order_cols…) tuple, falling
    back to ALL non-key columns (descending, NULLS LAST via the
    ascending-on-negated trick being unavailable for arbitrary types,
    we order descending so NULLs sort last in Spark's default
    desc-nulls-last). Ties beyond that are bit-identical rows, where
    any winner is the same row.

    One row_number window over one shuffle on the key — the same cost
    as the dedup it protects. r11 duplicates sweep.

    Degenerate inputs (r12 advisory — none occur at current call
    sites, guarded so a future caller fails soft, not at analysis):
    when the key covers every column (or every non-key column is
    UNORDERABLE — maps, or arrays/structs containing them — and an
    order cannot be derived), replay copies cannot be ranked, so the
    resolution degrades to ``dropDuplicates(key_cols)``: correct when
    the copies are key-identical, and the only deterministic option
    left when they are not (an unorderable payload column has no
    content-total order on EITHER engine). The same caveat covers the
    PARTIAL case (r13 advisory): when only some non-key columns are
    unorderable, the derived order covers the orderable projection
    only — copies that tie on every orderable column but differ in an
    unorderable payload get a layout-dependent winner, exactly as the
    dropDuplicates fallback does; callers needing a total order over
    such payloads must resolve upstream (the repo convention: replays
    are resolved BEFORE unorderable payloads are built). Explicitly
    passed non-empty ``order_cols`` are used as given — an unorderable
    column there is the caller's analysis error, surfaced loudly; an
    explicit EMPTY list normalizes to the derived default (the pre-r12
    ``order_cols or …`` semantic; zero-key Window.orderBy is an
    analysis error, never what a caller means). The rank temp name
    is uniquified against the input schema."""
    from pyspark.sql import types as T
    from pyspark.sql.window import Window as _W

    def _orderable(dt: "T.DataType") -> bool:
        if isinstance(dt, T.MapType):
            return False
        if isinstance(dt, T.ArrayType):
            return _orderable(dt.elementType)
        if isinstance(dt, T.StructType):
            return all(_orderable(f.dataType) for f in dt.fields)
        return True

    if not order_cols:
        order_cols = [
            f.name
            for f in df.schema.fields
            if f.name not in key_cols and _orderable(f.dataType)
        ]
        if not order_cols:
            return df.dropDuplicates(key_cols)
    rn = "__rr_rn"
    while rn in df.columns:
        rn += "_"
    w = _W.partitionBy(*key_cols).orderBy(
        *[F.col(c).desc_nulls_last() for c in order_cols]
    )
    return (
        df.withColumn(rn, F.row_number().over(w))
        .filter(F.col(rn) == 1)
        .drop(rn)
    )


# -- shingles / exact Jaccard ----------------------------------------------

def word_shingles(text_col: str, n: int = 3) -> Column:
    """n-word shingles as strings; distinct per document.

    The token array is LET-BOUND via ``transform(array(toks), tk ->
    ...)[0]`` so it is evaluated exactly once per row (see
    ``text.ngrams``). At sf0.1 the docs are ~50 words so the bench win
    is modest (decontaminate_docs best-of-3 0.72 → 0.67 s, overhead-
    bound); at real corpus document lengths the quadratic term
    dominates — measured on 2000-word docs: 15.7 s unbound vs 0.39 s
    let-bound (40×) for the same 19,910 shingles."""
    toks = tokens(text_col)
    if n == 1:
        return F.array_distinct(toks)
    return let(toks, lambda tk: F.array_distinct(ngrams(tk, n)))


def jaccard_pairs(
    df: DataFrame,
    threshold: float,
    text_col: str = "text",
    ngram: int = 1,
) -> DataFrame:
    """Exact n-gram-set Jaccard ≥ threshold, all pairs (a_id < b_id).

    Posting-list self-join: explodes distinct shingles, joins on the
    shingle, counts intersections, derives |A∪B| from per-doc set
    sizes. This is the correctness baseline the LSH path is verified
    against; at 100 TB use :func:`minhash_dup_pairs` instead.
    """
    # Postings carry (id, set_size, 64-bit shingle hash): joining on
    # 8-byte longs instead of ~50-byte shingle strings shrinks the
    # shuffle and the per-row compare (hash-set Jaccard equals
    # string-set Jaccard up to 2^-64 collisions — the same contract
    # the MinHash path documents). The LENGTH FILTER inside the join
    # condition is the SSJoin bound: J(A,B) ≥ t implies
    # |B| ≥ t·|A| and |A| ≥ t·|B|, so a hot shingle shared by k docs
    # emits only size-compatible pairs instead of all k²/2 — the
    # stopword-posting blowup never reaches the aggregate.
    t = float(threshold)
    base = _spread(df).select(
        F.col("doc_id"), _shingle_hashes(text_col, ngram).alias("hs")
    )
    # PK-violation safety (r11 duplicates sweep): an id replayed with
    # drifted text (at-least-once upstream) used to emit one posting
    # row PER COPY — the intersection then over-counted past
    # |A| + |B| − inter and the Jaccard denominator went ≤ 0 (ANSI
    # divide-by-zero abort). Postings are deduplicated per (id, h), so
    # a replayed document contributes the UNION of its copies' shingle
    # sets — exactly the oracle's SELECT DISTINCT (id, word) algebra.
    # Unique-id inputs take the same plan with a no-op distinct.
    from pyspark.sql.window import Window as _W

    sh = (
        base.select(F.col("doc_id"), F.explode("hs").alias("h"))
        .dropDuplicates(["doc_id", "h"])
        .withColumn("sz", F.count("*").over(_W.partitionBy("doc_id")))
    )
    inter = (
        sh.alias("a")
        .join(
            sh.alias("b"),
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("b.sz") >= t * F.col("a.sz"))
            & (F.col("a.sz") >= t * F.col("b.sz")),
        )
        .groupBy(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))
        .agg(
            F.count("*").alias("inter"),
            F.first("a.sz").alias("na"),
            F.first("b.sz").alias("nb"),
        )
    )
    j = inter.withColumn(
        "jaccard_raw", F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))
    )
    return (
        j.filter(F.col("jaccard_raw") >= threshold)
        .select("a_id", "b_id", F.round("jaccard_raw", 6).alias("jaccard"))
    )


# -- MinHash + LSH -----------------------------------------------------------


def _shingle_hashes(text_col: str, ngram: int) -> Column:
    """Distinct shingles pre-hashed to 64-bit longs. Each shingle
    string is hashed ONCE; the P permutation hashes then re-hash the
    8-byte long instead of the ~50-byte string — P× less string
    hashing in the signature/banding hot path. Downstream Jaccard on
    hash sets equals string-set Jaccard up to 2^-64 collisions."""
    return F.array_distinct(
        F.transform(word_shingles(text_col, ngram), lambda s: F.xxhash64(s))
    )


def minhash_dup_pairs(
    df: DataFrame,
    threshold: float = 0.7,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 64,
    bands: int = 16,
    ngram: int = 3,
) -> DataFrame:
    """MinHash-LSH near-dup pairs: band the signature (bands × rows_per
    band), bucket-join on (band_idx, band_hash), then exact-verify
    candidates with true shingle Jaccard ≥ threshold.

    The signature: permutation i is min(xxhash64(shingle, i)) over the
    doc's shingle-hash set — a seeded hash family, fully
    deterministic. It is computed on the shingle ARRAY with
    array_min∘transform (one narrow map stage; the explode+groupBy
    formulation shuffles n·|shingles| rows for the same result), as ONE
    nested higher-order expression over sequence(0, P-1) — P-fold
    smaller plan than P separate expressions. Docs with an empty
    shingle set (shorter than the shingle width) are dropped: they have
    no content to near-dup on, and their all-NULL signatures would
    collide into one giant LSH bucket.

    Scale: candidates come only from equal buckets — shuffle is
    O(n·bands); band-hash hot spots (boilerplate docs) are the skew
    surface, handled by AQE skew-join + the exact-verify filter.
    """
    if bands <= 0 or num_perm % bands != 0:
        # a non-divisible combination silently IGNORES the trailing
        # permutations (changing the recall curve the parameters
        # promise), and bands > num_perm degenerates every band hash
        # to xxhash64('') so ALL docs collide pairwise — O(n²) with
        # no warning. Fail loudly instead (r13 operator review).
        raise ValueError(
            f"minhash_dup_pairs: bands={bands} must divide"
            f" num_perm={num_perm} exactly"
        )
    rows_per_band = num_perm // bands
    # Materialize the hashed-shingle frame once (a lazy
    # materialize.persist): BOTH downstream branches (banding,
    # exact-verify) consume it, and without the materialization
    # barrier each branch re-runs tokenize→shingle→hash AND compiles
    # its own copy of the nested expression tree (measured 10×
    # cold-path cost at sf0.1). Size is O(docs × distinct shingles ×
    # 8B) — the same order as the input text, safe at any scale that
    # fits the input.
    # Identity grain via UNION algebra (r11 duplicates sweep): a
    # replayed id (same key, drifted text) contributes the union of
    # its copies' shingle sets — the SAME algebra jaccard_pairs and
    # the oracles use, so the LSH path and its exact-verify see one
    # set per document. On clean input the groupBy collapses nothing;
    # its exchange rides the id key the band join shuffles anyway.
    sh_df = materialize.persist(
        _spread(df)
        .select(F.col(id_col), _shingle_hashes(text_col, ngram).alias("shh"))
        .filter(F.size("shh") > 0)
        .groupBy(id_col)
        .agg(F.array_distinct(F.flatten(F.collect_list("shh"))).alias("shh"))
    )
    # Band hashes come from a materialized signature frame, NOT from
    # one giant expression that re-derives each permutation-min inside
    # its band: the InMemoryRelation is a CollapseProject barrier, so
    # each of the 64 permutation subtrees is analyzed/codegen'd/
    # evaluated exactly once and the band stage only hashes
    # rows_per_band cached longs per band — 16× smaller expression
    # tree (driver analysis was the cold-path bottleneck) and no
    # recompute.
    sig = F.transform(
        F.sequence(F.lit(0), F.lit(num_perm - 1)),
        lambda i: F.array_min(F.transform(F.col("shh"), lambda h: F.xxhash64(h, i))),
    )
    sig_df = materialize.persist(sh_df.select(id_col, sig.alias("signature")))
    band_arr = F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.xxhash64(
            F.concat_ws(
                ",",
                F.transform(
                    F.slice(F.col("signature"), b * rows_per_band + 1, rows_per_band),
                    lambda m: m.cast("string"),
                ),
            ),
            b,
        ),
    )
    banded = sig_df.select(id_col, F.posexplode(band_arr).alias("band_idx", "band_hash"))
    cand = (
        banded.alias("a")
        .join(
            banded.alias("b"),
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("a_id"), F.col(f"b.{id_col}").alias("b_id"))
        .distinct()
    )
    # exact-verify candidates only: join shingle-hash sets on the pair
    sh = sh_df.select(F.col(id_col), F.col("shh").alias("sh"))
    verified = (
        cand.join(sh.select(F.col(id_col).alias("a_id"), F.col("sh").alias("sh_a")), "a_id")
        .join(sh.select(F.col(id_col).alias("b_id"), F.col("sh").alias("sh_b")), "b_id")
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn("uni", F.size(F.array_union("sh_a", "sh_b")))
        .withColumn("jaccard_raw", F.col("inter") / F.col("uni"))
        .filter(F.col("jaccard_raw") >= threshold)
    )
    return verified.select("a_id", "b_id", F.round("jaccard_raw", 6).alias("jaccard"))


# -- SimHash -----------------------------------------------------------------

def simhash(df: DataFrame) -> DataFrame:
    """64-bit SimHash over the token set: bit j of the sketch is the
    sign of Σ_tokens (±1 by bit j of xxhash64(token)). Emitted as 4
    16-bit chunks (array<int>) so hamming-distance bucketing can use
    the pigeonhole trick: hamming(a,b) ≤ 3 ⇒ some chunk equal.

    Zero-token (empty/whitespace/NULL) docs are EXCLUDED: their votes
    are all ties → all-zero sketch, so every such doc would share one
    bucket at every position and the candidate self-join goes
    quadratic in their count — the same hazard minhash_dup_pairs
    documents and drops, and the same "no sketchable content ≠ a
    near-dup cluster" semantics (r13 operator review; at a routine
    ~5% empty-doc rate on a 1e9-doc corpus the collision group alone
    would emit ~1.25e15 pairs). Both consumers — the bucketed
    candidates AND the exact-hamming audit baseline — inherit the
    exclusion from here, so the recall audits stay aligned."""
    df = df.filter(F.size(tokens("text")) > 0)
    # Shuffle-free AND plan-compact: the per-bit votes and the chunk
    # assembly are single nested higher-order expressions. Bit masks
    # come from one array literal (shiftleft needs a Python-int shift,
    # and 1<<63 must be spelled as the signed-long sign bit).
    masks = F.array(
        *[F.lit((1 << j) if j < 63 else -(1 << 63)).cast("long") for j in range(64)]
    )
    hashes = F.transform(F.array_distinct(tokens("text")), lambda t: F.xxhash64(t))
    # let-bind the token-hash array: it sits inside the per-bit lambda,
    # so the unbound form evaluates it once per bit (64×) in the
    # expression tree — see operators/exprs.let. (Measured at 200×2000
    # words the difference is within noise — the per-bit re-evaluation
    # is linear, not quadratic like the shingle case — but the bound
    # form is the one whose cost model holds at any document length.)
    votes = let(
        hashes,
        lambda hs: F.transform(
            F.sequence(F.lit(0), F.lit(63)),
            lambda j: F.aggregate(
                hs,
                F.lit(0),
                lambda acc, h: acc
                + F.when(
                    h.bitwiseAND(F.element_at(masks, (j + 1).cast("int"))) != 0, 1
                ).otherwise(-1),
            ),
        ),
    )
    with_votes = _spread(df).select(F.col("doc_id"), votes.alias("v"))
    small_masks = F.array(*[F.lit(1 << r) for r in range(16)])
    chunks = F.transform(
        F.sequence(F.lit(0), F.lit(3)),
        lambda c: F.aggregate(
            F.sequence(F.lit(0), F.lit(15)),
            F.lit(0),
            lambda acc, r: acc
            + F.when(
                F.element_at(F.col("v"), (c * 16 + r + 1).cast("int")) > 0,
                F.element_at(small_masks, (r + 1).cast("int")),
            ).otherwise(F.lit(0)),
        ).cast("int"),
    )
    return with_votes.select("doc_id", chunks.alias("simhash_chunks"))


def simhash_candidates(df: DataFrame) -> DataFrame:
    """Near-dup candidate pairs: equal 16-bit chunk at the same
    position (catches all pairs with hamming ≤ 3), plus exact hamming
    distance for downstream thresholding."""
    sk = simhash(df)
    ex = sk.select("doc_id", "simhash_chunks").select(
        F.col("doc_id"),
        F.posexplode("simhash_chunks").alias("pos", "chunk"),
        F.col("simhash_chunks"),
    )
    pairs = (
        ex.alias("a")
        .join(
            ex.alias("b"),
            (F.col("a.pos") == F.col("b.pos"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("a_id"),
            F.col("b.doc_id").alias("b_id"),
            F.col("a.simhash_chunks").alias("ca"),
            F.col("b.simhash_chunks").alias("cb"),
        )
        .distinct()
    )
    ham = F.aggregate(
        F.zip_with("ca", "cb", lambda x, y: F.bit_count(x.bitwiseXOR(y))),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return pairs.select("a_id", "b_id", ham.alias("hamming"))


def simhash_exact_pairs(df: DataFrame, max_hamming: int = 8) -> DataFrame:
    """ALL pairs with simhash hamming ≤ ``max_hamming`` by brute-force
    self-join — the correctness baseline :func:`simhash_candidates` is
    audited against. O(n²) pair space: gate/test use only, never the
    100 TB path (the pigeonhole bucketing is)."""
    sk = materialize.persist(simhash(df))
    ham = F.aggregate(
        F.zip_with("ca", "cb", lambda x, y: F.bit_count(x.bitwiseXOR(y))),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return (
        sk.select(F.col("doc_id").alias("a_id"), F.col("simhash_chunks").alias("ca"))
        .crossJoin(
            sk.select(F.col("doc_id").alias("b_id"), F.col("simhash_chunks").alias("cb"))
        )
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", ham.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def contamination_overlap(
    df: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    ngram: int = 5,
) -> DataFrame:
    """Benchmark decontamination: per corpus document, the number of
    distinct word n-gram shingles it shares with the benchmark set
    (eval/test corpora). Docs with any overlap are contamination
    candidates; callers drop or review them (anti-join on the result).

    Scale: the benchmark side is tiny relative to the corpus (eval
    sets are MBs, corpora are TBs) — its distinct shingle set is
    broadcast, so the corpus side is a map-only explode + broadcast
    semi-probe + per-doc count: zero shuffles of corpus text. If the
    benchmark outgrows the broadcast threshold, drop the broadcast()
    hint and let AQE pick a shuffle join keyed on the shingle."""
    bench_sh = benchmark.select(
        F.explode(word_shingles(text_col, ngram)).alias("shingle")
    ).distinct()
    doc_sh = _spread(df).select(
        F.col("doc_id"), F.explode(word_shingles(text_col, ngram)).alias("shingle")
    )
    return (
        doc_sh.join(F.broadcast(bench_sh), "shingle")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared_shingles"))
    )
