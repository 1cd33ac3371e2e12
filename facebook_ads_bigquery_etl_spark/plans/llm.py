"""LLM training-data pipeline queries (north-star extensions):
dedup family, similarity search, text analysis, multimodal — over the
driver's `documents` / `embeddings` tables.

Oracle policy: exact/algebraic ops get a DuckDB oracle that recomputes
the values; sketch-based ops (MinHash-LSH, SimHash, ANN, hash
fingerprints) emit ACCURACY-BOUND AUDIT rows — exact baseline counts
the oracle recomputes plus engine-computed precision/recall booleans
pinned to TRUE on the oracle side — so sketch quality is a real driver
hash check, not a rows-only count. Raw pair/neighbor lists remain
available from the operators module; recall floors are additionally
asserted in tests/test_llm_ops.py.

ROUND convention (r12-r13 ROUND-tie triage): per-row rounds over
bit-identical deriveds (token ratios, cosines, sigmoids, log-probs
over integer counts) go through the decimal-string twin — every such
oracle site is GENERATED from integrity.round_double_sql. ROUND over
double aggregates (class b: perplexities, KL, vector stats) stays
native by documented-tolerance decision: per-family rationale in
scripts/round_sites_classified.json `r13_class_b_decisions`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import components as cc
from ..operators import dedup as dd
from ..operators import materialize
from ..operators import mixing as mx
from ..operators import multimodal as mm
from ..operators import packing as pk
from ..operators import similarity as sim
from ..operators import text as tx
from .registry import load_tables, register
from ..operators.integrity import multiset_diff, round_double_sql

# SQL fragments shared by the generated decimal-string ROUND oracle
# sites below (hoisted because Python 3.11 f-string expressions
# cannot carry the regex backslashes; single source per fragment):
_STOPWORD_RATIO_SQL = ("len(list_filter(string_split_regex(text, '\\s+'), w -> w IN ('the','a','of','and','to','in','is','it'))) * 1.0 / len(list_filter(string_split_regex(text, '\\s+'), t -> t <> ''))")
_AVG_TOKLEN_SQL = ("length(regexp_replace(text, '\\s+', '', 'g')) * 1.0 / len(list_filter(string_split_regex(text, '\\s+'), t -> t <> ''))")


# -- exact dedup -------------------------------------------------------------

@register(
    "exact_dedup_docs",
    oracle="""
    SELECT sha256(text)                    AS text_sha,
           CAST(MIN(doc_id) AS BIGINT)     AS kept_doc_id,
           CAST(COUNT(*) AS BIGINT)        AS n_copies
    FROM documents GROUP BY sha256(text)
    """,
)
def exact_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on the body digest, keep min id.
    The shuffle key is the 32-byte digest, never the document."""
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    return docs.groupBy(F.sha2("text", 256).alias("text_sha")).agg(
        F.min("doc_id").alias("kept_doc_id"), F.count("*").alias("n_copies")
    )


@register(
    "jaccard_dup_pairs",
    oracle=f"""
    WITH w AS (SELECT DISTINCT doc_id, unnest(list_filter(string_split_regex(text, '\\s+'),
                                         t -> t <> '')) AS word FROM documents),
    c AS (SELECT doc_id, COUNT(*) AS set_size FROM w GROUP BY doc_id),
    i AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS inter
          FROM w a JOIN w b ON a.word = b.word AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
    SELECT a_id, b_id,
           -- integer-count ratio, bit-identical per row: decimal-string
           -- round (r13 class-a conversion, integrity.round_double_sql)
           {round_double_sql("inter * 1.0 / (ca.set_size + cb.set_size - inter)", 6)} AS jaccard
    FROM i
    JOIN c ca ON ca.doc_id = i.a_id
    JOIN c cb ON cb.doc_id = i.b_id
    WHERE inter * 1.0 / (ca.set_size + cb.set_size - inter) >= 0.95
    """,
)
def jaccard_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact unigram-set Jaccard ≥ 0.95 pairs — the posting-list
    baseline near-dup (operators/dedup.py discusses why MinHash-LSH is
    the 100-TB path; this is its ground truth)."""
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    return dd.jaccard_pairs(docs, threshold=0.95, ngram=1)


def _pair_set_audit(
    found: DataFrame, true_pairs: DataFrame, recall_floor_pct: int
) -> DataFrame:
    """One-row audit of a candidate pair set vs its exact baseline:
    (n_true_pairs, precision_ok, recall_ok). Full-outer join on the
    pair key, one aggregate — lets the DuckDB oracle recompute
    n_true_pairs exactly and pin the booleans to TRUE, which makes
    sketch accuracy a real driver-hash check (VERDICT r1 item 3).
    The floor is an integer percent compared with integer arithmetic
    (n_hit·100 ≥ pct·n_true) — a double multiply like 0.9*10 =
    9.000000000000002 would falsely fail an exact-boundary recall."""
    j = (
        true_pairs.select("a_id", "b_id").withColumn("in_true", F.lit(1))
        .join(
            found.select("a_id", "b_id").withColumn("in_found", F.lit(1)),
            ["a_id", "b_id"],
            "full_outer",
        )
    )
    agg = j.agg(
        F.coalesce(F.sum("in_true"), F.lit(0)).alias("n_true"),
        F.coalesce(
            F.sum(F.when(F.col("in_true").isNull(), 1).otherwise(0)), F.lit(0)
        ).alias("n_false_pos"),
        F.coalesce(
            F.sum(
                F.when(F.col("in_true").isNotNull() & F.col("in_found").isNotNull(), 1)
                .otherwise(0)
            ),
            F.lit(0),
        ).alias("n_hit"),
    )
    return agg.select(
        F.col("n_true").cast("long").alias("n_true_pairs"),
        (F.col("n_false_pos") == 0).alias("precision_ok"),
        (
            F.col("n_hit") * 100 >= F.lit(recall_floor_pct) * F.col("n_true")
        ).alias("recall_ok"),
    )


_TRIGRAM_JACCARD_TRUE = """
    WITH tok AS (
      SELECT doc_id, list_filter(string_split_regex(text, '\\s+'),
                                 t -> t <> '') AS tk
      FROM documents
    ),
    sh AS (
      SELECT doc_id,
             unnest(list_distinct(
               CASE WHEN len(tk) >= 3
                    THEN list_transform(range(1, len(tk) - 1),
                                        i -> array_to_string(tk[i:i+2], ' '))
                    ELSE CAST([] AS VARCHAR[]) END)) AS shingle
      FROM tok
    ),
    c AS (SELECT doc_id, COUNT(*) AS set_size FROM sh GROUP BY doc_id),
    i AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS inter
          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_true_pairs,
           TRUE AS precision_ok, TRUE AS recall_ok
    FROM i
    JOIN c ca ON ca.doc_id = i.a_id
    JOIN c cb ON cb.doc_id = i.b_id
    WHERE inter * 1.0 / (ca.set_size + cb.set_size - inter) >= 0.7
"""


@register("minhash_dup_pairs", oracle=_TRIGRAM_JACCARD_TRUE)
def minhash_dup_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(64 perms) + LSH(16 bands) near-dup at trigram-shingle
    Jaccard ≥ 0.7 — the scale path for near-dup — emitted as the
    accuracy-bound audit row: DuckDB recomputes the exact trigram
    Jaccard pair count; Spark asserts the LSH path found ≥90% of those
    pairs with zero false positives (candidates are exact-verified, so
    precision is 1.0 by construction). The raw pair list is
    ``operators.dedup.minhash_dup_pairs`` (recall also asserted in
    tests/test_llm_ops.py)."""
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    found = dd.minhash_dup_pairs(docs, threshold=0.7, num_perm=64, bands=16, ngram=3)
    true_pairs = dd.jaccard_pairs(docs, threshold=0.7, ngram=3)
    return _pair_set_audit(found, true_pairs, recall_floor_pct=90)


@register(
    "simhash_near_dups",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           TRUE AS precision_ok, TRUE AS h3_complete, TRUE AS recall_ok
    FROM documents
    """,
)
def simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash-64 near-dup candidates at hamming ≤ 8 via the 4×16-bit
    pigeonhole bucketing, audited against the brute-force exact
    hamming pair set (``dd.simhash_exact_pairs`` — gate-only O(n²)
    baseline). Three engine-verified claims: precision is exact by
    construction (candidates carry true hamming); ``h3_complete``
    checks the pigeonhole THEOREM — every pair at hamming ≤ 3 must
    share a 16-bit chunk, so recall there is exactly 1.0; above that
    the bucketing is best-effort (measured ~0.5 at hamming ≤ 8 —
    floor 40%). n_docs anchors the row to DuckDB's count."""
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    found = (
        dd.simhash_candidates(docs)
        .filter(F.col("hamming") <= 8)
        .select("a_id", "b_id")
    )
    # both audits consume the exact-pair frame
    true_pairs = materialize.persist(dd.simhash_exact_pairs(docs, max_hamming=8))
    audit = _pair_set_audit(
        found, true_pairs.select("a_id", "b_id"), recall_floor_pct=40
    )
    h3 = true_pairs.filter(F.col("hamming") <= 3).select("a_id", "b_id")
    h3_audit = _pair_set_audit(found, h3, recall_floor_pct=100).select(
        F.col("recall_ok").alias("h3_complete")
    )
    n_docs = docs.agg(F.count("*").cast("long").alias("n_docs"))
    return (
        n_docs.crossJoin(audit.select("precision_ok", "recall_ok"))
        .crossJoin(h3_audit)
        .select("n_docs", "precision_ok", "h3_complete", "recall_ok")
    )


# -- text analysis -----------------------------------------------------------

@register(
    "doc_token_stats",
    oracle=f"""
    WITH feat AS (
      SELECT doc_id,
             CAST(len(list_filter(string_split_regex(text, '\\s+'),
                                  t -> t <> '')) AS BIGINT) AS n_tokens,
             CAST(length(text) AS BIGINT)                   AS n_chars,
             CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS BIGINT) AS n_alpha,
             CAST(len(list_filter(string_split_regex(text, '\\s+'),
                      w -> w IN ('the','a','of','and','to','in','is','it')))
                  AS BIGINT) AS n_stop
      FROM documents
    )
    -- integer-count ratios, bit-identical per row: decimal-string
    -- rounds (r13 class-a conversion, integrity.round_double_sql)
    SELECT doc_id, n_tokens, n_chars, n_alpha,
           CASE WHEN n_tokens > 0
                THEN {round_double_sql("n_alpha * 1.0 / n_tokens", 6)} END AS avg_token_len,
           CASE WHEN n_tokens > 0
                THEN {round_double_sql("n_stop * 1.0 / n_tokens", 6)} END  AS stopword_ratio
    FROM feat
    """,
)
def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality features: token count, char counts,
    average token length, stopword ratio — all JVM expressions."""
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    return tx.with_token_stats(docs).select(
        "doc_id", "n_tokens", "n_chars", "n_alpha", "avg_token_len", "stopword_ratio"
    )


@register(
    "lang_stats",
    oracle="""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT)                              AS n_docs,
           ROUND(AVG(n_chars), 6)                                AS avg_chars,
           ROUND(AVG(len(list_filter(string_split_regex(text, '\\s+'),
                                     t -> t <> ''))), 6)         AS avg_tokens
    FROM documents GROUP BY lang
    """,
)
def lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus profile by language label."""
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    return docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("n_chars"), 6).alias("avg_chars"),
        F.round(F.avg(F.size(tx.tokens("text"))), 6).alias("avg_tokens"),
    )


# Oracle generated from the SAME stopword table the Spark operator
# uses, so the two can't drift. Tie-break mirrors array_max over
# struct(score, lang): highest score, then lexicographically-last lang
# → a reverse-sorted CASE chain; zero evidence everywhere → 'und'.
_LANGS = sorted(tx.LANG_STOPWORDS)
_LANG_SCORES = ",\n           ".join(
    "len(list_filter(tk, t -> list_contains(["
    + ", ".join(f"'{w}'" for w in tx.LANG_STOPWORDS[lang])
    + f"], t))) AS s_{lang}"
    for lang in _LANGS
)
# best IS NULL: a NULL text scores NULL in every language — zero
# evidence, so 'und', matching the engine's best["score"] > 0 guard
# (the bare `= 0` fell through to the ELSE language; r11 nulls sweep)
_LANG_CASE = (
    "CASE WHEN best IS NULL OR best = 0 THEN 'und' "
    + " ".join(f"WHEN s_{lang} = best THEN '{lang}'" for lang in reversed(_LANGS[1:]))
    + f" ELSE '{_LANGS[0]}' END"
)
_LANG_ID_ORACLE = f"""
    WITH toks AS (
      SELECT lang,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         t -> t <> '') AS tk
      FROM documents
    ), scored AS (
      SELECT lang,
           {_LANG_SCORES}
      FROM toks
    ), best AS (
      SELECT lang, {", ".join(f"s_{lang}" for lang in _LANGS)},
             greatest({", ".join(f"s_{lang}" for lang in _LANGS)}) AS best
      FROM scored
    )
    SELECT lang, {_LANG_CASE} AS lang_pred,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM best
    GROUP BY lang, lang_pred
"""


@register("lang_id_heuristic", oracle=_LANG_ID_ORACLE)
def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram/stopword language-ID heuristic vs the labeled lang
    column (accuracy asserted in tests on the 'en' subset)."""
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    return (
        tx.with_lang_id(docs)
        .groupBy("lang", "lang_pred")
        .agg(F.count("*").alias("n_docs"))
    )


@register(
    "doc_quality_filter",
    oracle=f"""
    WITH feat AS (
      -- per-row token ratios + composite score: decimal-string rounds
      -- (r13 class-a conversion, integrity.round_double_sql)
      SELECT doc_id, lang,
             CAST(len(list_filter(string_split_regex(text, '\\s+'),
                                  t -> t <> '')) AS BIGINT) AS n_tokens,
             CASE WHEN len(list_filter(string_split_regex(text, '\\s+'),
                                       t -> t <> '')) > 0 THEN
               {round_double_sql(_AVG_TOKLEN_SQL, 6)} END AS avg_token_len,
             CASE WHEN len(list_filter(string_split_regex(text, '\\s+'),
                                       t -> t <> '')) > 0 THEN
               {round_double_sql(_STOPWORD_RATIO_SQL, 6)} END AS stopword_ratio
      FROM documents
    ), scored AS (
      SELECT doc_id, lang,
             CASE WHEN n_tokens > 0 THEN
               {round_double_sql("0.4 * LEAST(n_tokens / 200.0, 1.0) + 0.3 * LEAST(stopword_ratio * 5.0, 1.0) + 0.3 * CASE WHEN avg_token_len BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.0 END", 7)}
             ELSE 0.0 END AS quality_score
      FROM feat
    )
    SELECT doc_id, lang, quality_score
    FROM scored WHERE quality_score >= 0.5
    """,
)
def doc_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality gate: composite score (length saturation + stopword
    density + token-shape band) and keep docs scoring ≥ 0.5 — the
    corpus-cleaning step before dedup/packing. One scan, all
    codegen'd; at 100 TB this is a map-only stage with the filter
    applied before any shuffle-bearing downstream op."""
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    return (
        tx.with_quality_score(docs)
        .filter(F.col("quality_score") >= 0.5)
        .select("doc_id", "lang", "quality_score")
    )


@register(
    "doc_sequence_packing",
    oracle="""
    WITH docs_r AS (
      -- identity grain + replay resolution (r11 duplicates sweep):
      -- doc_id is the packer's TOTAL order, so replays must resolve
      -- to one row first (content-total winner)
      SELECT doc_id, lang, text FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
            ORDER BY text DESC NULLS LAST, lang DESC NULLS LAST,
                     source DESC NULLS LAST, n_chars DESC NULLS LAST) AS __rn
        FROM documents) WHERE __rn = 1
    ),
    toks AS (
      SELECT doc_id, lang,
             CAST(len(list_filter(string_split_regex(text, '\\s+'),
                                  t -> t <> '')) AS BIGINT) AS n_tokens
      FROM docs_r
    ), offs AS (
      SELECT doc_id, lang, n_tokens,
             -- CAST: DuckDB widens SUM(BIGINT) OVER to HUGEINT, which
             -- round-trips through pandas as float64 and breaks the
             -- driver value-hash vs Spark's int64 (identical values).
             CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT)
               - n_tokens AS start_offset
      FROM toks
    )
    SELECT doc_id, lang, n_tokens, start_offset,
           CAST(FLOOR(start_offset / 256) AS BIGINT) AS pack_id
    FROM offs
    """,
)
def doc_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-then-chunk sequence packing: per-language token stream,
    256-token packs, document → pack where its first token lands. One
    partitioned window cumsum (no global sort, no Python)."""
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    return pk.pack_documents(docs, budget=256).select(
        "doc_id", "lang", "n_tokens", "start_offset", "pack_id"
    )


@register(
    "doc_fingerprints",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT)               AS n_docs,
           CAST(COUNT(DISTINCT text) AS BIGINT)   AS n_distinct_texts,
           TRUE AS fingerprints_injective, TRUE AS all_nonnull
    FROM documents
    """,
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """xxhash64 rolling fingerprint per document (the dedup/join key
    at scale). Hash values are engine-specific, so the driver check is
    the accuracy-bound form: Spark asserts the fingerprint is
    injective on this corpus (distinct fingerprints == distinct
    texts — i.e. no collisions) and non-null; DuckDB recomputes the
    doc/text counts. Per-doc fingerprints:
    ``operators.text.with_fingerprint`` (tested in test_llm_ops.py)."""
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    fp = tx.with_fingerprint(docs).select("doc_id", "fingerprint", "text")
    return fp.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.countDistinct("text").cast("long").alias("n_distinct_texts"),
        # injectivity is asserted over REAL texts only: xxhash64 maps a
        # NULL input to the (non-null) seed constant, so NULL docs
        # would add a phantom 451st fingerprint against 450 distinct
        # texts (r11 nulls sweep — NULL docs carry no fingerprint
        # claim either way)
        (
            F.countDistinct(
                F.when(F.col("text").isNotNull(), F.col("fingerprint"))
            )
            == F.countDistinct("text")
        ).alias("fingerprints_injective"),
        # coalesce: SUM over zero docs is NULL, not the vacuous 0 an
        # empty corpus earns (oracle pins TRUE; r10 empty sweep).
        # text IS NOT NULL guard: a NULL document makes no fingerprint
        # claim (xxhash64 maps NULL to the seed constant, shared by
        # every NULL doc), so the audit asserts non-null fingerprints
        # for REAL texts only (r11 nulls sweep).
        (
            F.coalesce(
                F.sum(
                    (
                        F.col("fingerprint").isNull()
                        & F.col("text").isNotNull()
                    ).cast("int")
                ),
                F.lit(0),
            )
            == 0
        ).alias("all_nonnull"),
    )


_BPE_SQL = tx.BPE_ISH_PATTERN.replace("'", "''")  # SQL-literal escaping


@register(
    "bpe_token_counts",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             CAST(len(regexp_extract_all(text, '{_BPE_SQL}')) AS BIGINT)
                 AS n_bpe_tokens,
             CAST(len(list_filter(string_split_regex(text, '\\s+'),
                                  t -> t <> '')) AS BIGINT) AS n_ws_tokens
      FROM documents
    )
    SELECT doc_id, n_bpe_tokens, n_ws_tokens,
           -- integer-count ratio: decimal-string round (r13 class-a
           -- conversion, integrity.round_double_sql)
           CASE WHEN n_ws_tokens > 0
                THEN {round_double_sql("n_bpe_tokens * 1.0 / n_ws_tokens", 6)} END
               AS bpe_per_word
    FROM toks
    """,
)
def bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LLM-token budgeting: BPE-ish pre-token counts vs whitespace
    words, per document — the SAME regex runs in both engines, so the
    oracle is exact. A word count of zero (empty / whitespace-only
    doc — routine dirty data at 100 TB) yields a NULL ratio rather
    than an ANSI divide-by-zero abort; the oracle filters empty split
    fragments to match tokens()'s empty-string filter."""
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    n_bpe = F.size(tx.bpe_ish_tokens("text")).cast("long")
    n_ws = F.size(tx.tokens("text")).cast("long")
    return docs.select(
        "doc_id",
        n_bpe.alias("n_bpe_tokens"),
        n_ws.alias("n_ws_tokens"),
        F.when(n_ws > 0, F.round(n_bpe * F.lit(1.0) / n_ws, 6)).alias("bpe_per_word"),
    )


# -- similarity search -------------------------------------------------------

# DuckDB twins of operators.similarity.finite_vectors /
# valid_vectors: quarantine non-finite (and, for cosine consumers,
# zero-norm/empty) embeddings (round-11 extremes sweep convention).
_FINITE_VEC_SQL = """(embedding IS NOT NULL
      AND len(list_filter(embedding,
              x -> x IS NULL OR NOT isfinite(CAST(x AS DOUBLE)))) = 0)"""
_VALID_VEC_SQL = f"""({_FINITE_VEC_SQL} AND len(embedding) > 0
      AND list_sum(list_transform(embedding,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) > 0)"""
# Identity-grain twin of operators.dedup.resolve_replays over the
# embeddings table (r11 duplicates sweep): one row per vec_id, winner
# = greatest (embedding, label) content tuple.
_RESOLVED_EMB_SQL = """(SELECT vec_id, embedding, label FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
          ORDER BY embedding DESC NULLS LAST, label DESC NULLS LAST) AS __rn
      FROM embeddings) WHERE __rn = 1)"""

_COS_ORACLE = f"""
    WITH v AS (SELECT * FROM embeddings WHERE {_VALID_VEC_SQL}),
    q AS (SELECT vec_id AS query_id, embedding AS qe FROM v WHERE vec_id < 5),
    s AS (
      -- cosine is a quarantined-finite sequential fold, bit-identical
      -- to Spark's zip_with dot product: decimal-string round (r13
      -- class-a conversion, integrity.round_double_sql)
      SELECT q.query_id, e.vec_id AS neighbor_id,
             {round_double_sql("list_sum(list_transform(generate_series(1, len(q.qe)), i -> CAST(q.qe[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))) / (sqrt(list_sum(list_transform(q.qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))", 6)} AS cosine
      FROM q, v e
      WHERE e.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, cosine, CAST(rnk AS INTEGER) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY cosine DESC, neighbor_id) AS rnk
          FROM s)
    WHERE rnk <= 10
"""


@register("cosine_topk", oracle=_COS_ORACLE)
def cosine_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 for query vectors vec_id < 5 —
    broadcast queries, JVM zip_with dot product, rank-filter window."""
    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    return sim.cosine_topk(emb, emb.filter(F.col("vec_id") < 5), k=10)


_ANN_RECALL_ORACLE = f"""
    SELECT vec_id AS query_id, TRUE AS recall_ok
    FROM embeddings WHERE vec_id < 5 AND {_VALID_VEC_SQL} ORDER BY vec_id
"""


def _ann_recall_audit(
    spark: SparkSession, sf_dir: str, ann: DataFrame, k: int, floor_pct: int
) -> DataFrame:
    """Per-query recall@k of an ANN result vs the exact brute-force
    top-k: (query_id, recall_ok). The ANN sketch itself is
    engine-specific, so the driver-checkable claim is the accuracy
    bound — deterministic here because hyperplanes/centroids are
    seeded (operators/similarity.py). Integer-percent comparison (see
    :func:`_pair_set_audit`)."""
    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    # the exact brute-force top-k feeds BOTH the hit join and the
    # per-query exact counts — materialize it once instead of replaying
    # the full corpus×queries cosine pass per consumer (r14, the same
    # reuse shape as the r13 materialize-once sites; the frame is
    # queries×k rows, tiny at any scale, while the replay it removes is
    # corpus-sized)
    exact = materialize.checkpoint(
        sim.cosine_topk(emb, emb.filter(F.col("vec_id") < 5), k=k)
    )
    hits = (
        exact.select("query_id", "neighbor_id")
        .join(ann.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count("*").alias("n_hit"))
    )
    # the row set comes from the QUERY frame, not the exact-neighbor
    # frame: a query with zero exact neighbors (single-vector corpus —
    # self is excluded) must still emit its vacuously-true audit row,
    # matching the oracle's unconditional per-query emission
    # (r10 one-row sweep).
    # quarantined (NaN/Inf/zero-norm) query vectors emit no audit row
    # on either engine (round-11 extremes sweep)
    queries_f = (
        emb.filter(F.col("vec_id") < 5)
        .filter(sim.valid_vectors("embedding"))
        .select(F.col("vec_id").alias("query_id"))
    )
    exact_counts = exact.groupBy("query_id").agg(
        F.count("*").alias("n_exact")
    )
    return (
        queries_f.join(exact_counts, "query_id", "left")
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            (
                F.coalesce(F.col("n_hit"), F.lit(0)) * 100
                >= F.lit(floor_pct) * F.coalesce(F.col("n_exact"), F.lit(0))
            ).alias("recall_ok"),
        )
    )


@register("ann_lsh_topk", oracle=_ANN_RECALL_ORACLE)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-10 via multi-table random-hyperplane LSH
    (H=4 bits × L=12 tables, multiprobe) — the scale path — emitted as
    the per-query recall@10 audit vs exact cosine_topk (floor 90%,
    also asserted in tests/test_llm_ops.py); raw neighbor lists come
    from ``operators.similarity.lsh_cosine_topk``. L=8 measured
    exactly 90% on one query at the driver SF (zero margin against a
    testdata regeneration); L=12 measures 100% per query at both
    check SFs for the same wall-clock."""
    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    ann = sim.lsh_cosine_topk(
        emb, emb.filter(F.col("vec_id") < 5), k=10, n_planes=4, n_tables=12
    )
    return _ann_recall_audit(spark, sf_dir, ann, k=10, floor_pct=90)


@register("ann_ivf_topk", oracle=_ANN_RECALL_ORACLE)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-10 via an IVF index (16-list spherical k-means
    quantizer, soft assign=3, nprobe=8 → half the corpus pruned per
    query), emitted as the per-query recall@10 audit vs exact
    cosine_topk (floor 90%; also asserted in tests/test_llm_ops.py).

    Parameters chosen for MARGIN, not to scrape past the floor: the
    earlier (nprobe=6, assign=2) setting measured exactly 70% on one
    query at the driver SF — a testdata regeneration away from a red
    row. At (8, 3): 100% per query at sf0.01, ≥90% at sf0.1."""
    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    ann = sim.ivf_cosine_topk(
        emb, emb.filter(F.col("vec_id") < 5), k=10, n_lists=16, nprobe=8, assign=3
    )
    return _ann_recall_audit(spark, sf_dir, ann, k=10, floor_pct=90)


_EMB_DUP_ORACLE = f"""
    WITH n AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
             sqrt(list_sum(list_transform(embedding,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
      FROM embeddings WHERE {_VALID_VEC_SQL}
    )
    SELECT a.vec_id AS a_id, b.vec_id AS b_id,
           -- decimal-string rounding (r12 ROUND-tie convention):
           -- cosine is a quarantined-finite sequential fold in [-1,1],
           -- bit-identical to Spark's F.aggregate; the twin is
           -- GENERATED from integrity.round_double_sql (r13)
           {round_double_sql("list_sum(list_transform(generate_series(1, len(a.v)), i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm)", 6)} AS cosine
    FROM n a JOIN n b ON a.vec_id < b.vec_id
    WHERE list_sum(list_transform(generate_series(1, len(a.v)),
          i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm) >= 0.4
"""


@register("embedding_dup_pairs", oracle=_EMB_DUP_ORACLE)
def embedding_dup_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup (exact baseline): all pairs with
    cosine ≥ 0.4, brute-force — the oracle for the LSH-bucketed scale
    path below."""
    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    return sim.embedding_dup_pairs(emb, threshold=0.4, exact=True)


_EMB_DUP_AUDIT_ORACLE = f"""
    WITH n AS (
      -- identity grain: replays resolve first (r11 duplicates sweep)
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
             sqrt(list_sum(list_transform(embedding,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
      FROM {_RESOLVED_EMB_SQL} WHERE {_VALID_VEC_SQL}
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_true_pairs,
           TRUE AS precision_ok, TRUE AS recall_ok
    FROM n a JOIN n b ON a.vec_id < b.vec_id
    WHERE list_sum(list_transform(generate_series(1, len(a.v)),
          i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm) >= 0.4
"""


@register("embedding_dup_pairs_lsh", oracle=_EMB_DUP_AUDIT_ORACLE)
def embedding_dup_pairs_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup, LSH-bucketed: the pair space shrinks
    from n² to Σ bucket²; candidates are exact-scored (precision 1.0
    by construction). Emitted as the accuracy-bound audit row vs the
    exact all-pairs baseline (DuckDB recomputes the true pair count;
    recall floor 70%, also asserted in tests/test_llm_ops.py)."""
    # identity grain: vec_id replays resolve first (r11 duplicates
    # sweep; deterministic content-total winner)
    emb = dd.resolve_replays(
        load_tables(spark, sf_dir, "embeddings")["embeddings"], ["vec_id"]
    )
    found = sim.embedding_dup_pairs(emb, threshold=0.4, exact=False).select(
        F.col("a_id"), F.col("b_id")
    )
    true_pairs = sim.embedding_dup_pairs(emb, threshold=0.4, exact=True).select(
        F.col("a_id"), F.col("b_id")
    )
    return _pair_set_audit(found, true_pairs, recall_floor_pct=70)


@register(
    "embedding_norms",
    oracle="""
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           ROUND(AVG(sqrt(list_sum(list_transform(embedding,
                         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS avg_norm
    FROM embeddings GROUP BY label
    """,
)
def embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-column algebra without UDFs: per-label mean L2 norm."""
    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    norm = F.sqrt(
        F.aggregate(
            F.transform("embedding", lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    return emb.groupBy("label").agg(
        F.count("*").alias("n_vecs"), F.round(F.avg(norm), 6).alias("avg_norm")
    )


# -- multimodal --------------------------------------------------------------

@register(
    "multimodal_features",
    oracle="""
    -- identity grain (r11 duplicates sweep): one media row per
    -- doc_id, the audio/video payload from the replay-resolution
    -- winner (greatest content tuple — operators/dedup.resolve_replays)
    WITH docs_r AS (
      SELECT doc_id, text FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
            ORDER BY text DESC NULLS LAST, lang DESC NULLS LAST,
                     source DESC NULLS LAST, n_chars DESC NULLS LAST) AS __rn
        FROM documents) WHERE __rn = 1
    ),
    av AS (
      SELECT CASE doc_id % 3 WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
             strlen(text)                        AS n_bytes,
             substr(sha256(text), 1, 16)         AS payload_key,
             CAST(NULL AS INTEGER)               AS width
      FROM docs_r WHERE doc_id % 3 <> 0
    ),
    img AS (
      -- the PNG payload is a pure function of (doc_id%9, doc_id%7,
      -- doc_id%256): dims from the first two, every pixel from the
      -- third (channel multipliers 7/8/9 are odd → injective mod 256)
      SELECT 'image'                                         AS modality,
             (8 + doc_id % 9) * (8 + doc_id % 7) * 3         AS n_bytes,
             CAST(doc_id % 9 AS VARCHAR) || ':' ||
             CAST(doc_id % 7 AS VARCHAR) || ':' ||
             CAST(doc_id % 256 AS VARCHAR)                   AS payload_key,
             CAST(8 + doc_id % 9 AS INTEGER)                 AS width
      FROM docs_r WHERE doc_id % 3 = 0
    ),
    m AS (SELECT * FROM av UNION ALL SELECT * FROM img)
    SELECT modality,
           CAST(COUNT(*) AS BIGINT)                   AS n_media,
           CAST(SUM(n_bytes) AS BIGINT)               AS total_bytes,
           CAST(COUNT(DISTINCT payload_key) AS BIGINT) AS n_distinct_payloads,
           ROUND(COALESCE(AVG(width), -1), 6)         AS avg_width
    FROM m GROUP BY modality
    """,
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary media columns → Arrow-batched mapInPandas feature
    extraction with a REAL image decode (stdlib PNG codec — see
    operators/multimodal.py). Aggregated per modality so the output is
    scale-stable.

    Fully oracle-checked: image width and decoded content size come
    out of the actual inflate+unfilter path, and the oracle recomputes
    them from the closed-form synthetic-image model — so a decoder bug
    (wrong filter reconstruction, wrong dims) breaks the driver hash.
    Payload distinctness maps to the injective (d%9, d%7, d%256) key;
    audio/video rows have no dims → avg_width pinned to -1 on both
    engines (NULL-determinism rule)."""
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    feats = mm.extract_features(mm.synth_media_from_documents(docs))
    return feats.groupBy("modality").agg(
        F.count("*").alias("n_media"),
        F.sum("n_bytes").alias("total_bytes"),
        F.countDistinct("digest").alias("n_distinct_payloads"),
        F.round(F.coalesce(F.avg("width"), F.lit(-1.0)), 6).alias("avg_width"),
    )


@register(
    "video_frame_sample",
    oracle="""
    WITH docs_r AS (
      -- identity grain + replay resolution (r11 duplicates sweep)
      SELECT doc_id, text FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
            ORDER BY text DESC NULLS LAST, lang DESC NULLS LAST,
                     source DESC NULLS LAST, n_chars DESC NULLS LAST) AS __rn
        FROM documents) WHERE __rn = 1
    ),
    v AS (
      -- NULL text → NULL payload → zero sampled frames (quarantine):
      -- those media drop out of the per-video grouping on both sides
      SELECT doc_id AS media_id,
             LEAST(16, GREATEST(1, CAST(FLOOR(GREATEST(1.0,
                 strlen(text) / 1000.0)) AS BIGINT))) AS n_frames
      FROM docs_r WHERE doc_id % 3 = 2 AND text IS NOT NULL
    )
    SELECT media_id,
           CAST(n_frames AS BIGINT)                   AS n_frames,
           CAST(n_frames - 1 AS INTEGER)              AS last_idx,
           ROUND(CAST(n_frames - 1 AS DOUBLE), 3)     AS span_s
    FROM v
    """,
)
def video_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video → sampled frames (1 fps, ≤16/video): the fan-out
    mapInPandas shape. Aggregated per video for a scale-stable check;
    frame-count conservation is asserted in tests/test_multimodal.py.

    Fully oracle-checked: the stub decoder's frame count is a pure
    function of payload size (duration = max(1, bytes/1000) s), which
    DuckDB recomputes from strlen(text)."""
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    frames = mm.sample_frames(mm.synth_media_from_documents(docs), fps=1.0, max_frames=16)
    return frames.groupBy("media_id").agg(
        F.count("*").alias("n_frames"),
        F.max("frame_idx").alias("last_idx"),
        F.round(F.max("ts_offset_s"), 3).alias("span_s"),
    )


@register(
    "audio_level_stats",
    oracle="""
    -- identity grain + replay resolution (r11 duplicates sweep)
    SELECT CAST(COUNT(*) AS BIGINT)      AS n_audio,
           ROUND(AVG(octet_length(encode(text)) / 8000.0), 4) AS avg_duration_s
    FROM (SELECT doc_id, text FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                ORDER BY text DESC NULLS LAST, lang DESC NULLS LAST,
                         source DESC NULLS LAST, n_chars DESC NULLS LAST) AS __rn
            FROM documents) WHERE __rn = 1)
    WHERE doc_id % 3 = 1
    """,
)
def audio_level_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio byte-level stats via numpy-over-Arrow batches. The
    duration model (n_bytes/8000) IS oracle-expressible — DuckDB
    recomputes it from the same synthetic payloads; the numpy
    mean/RMS values are asserted in tests instead."""
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    stats = mm.audio_stats(mm.synth_media_from_documents(docs))
    return stats.agg(
        F.count("*").alias("n_audio"),
        F.round(F.avg("duration_s"), 4).alias("avg_duration_s"),
    )


@register(
    "top_tokens",
    oracle="""
    WITH tok AS (
      SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                t -> t <> '')) AS token
      FROM documents
    )
    SELECT token, CAST(COUNT(*) AS BIGINT) AS n
    FROM tok GROUP BY token
    ORDER BY n DESC, token
    LIMIT 50
    """,
)
def top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary heavy hitters: top-50 tokens by corpus frequency —
    the tokenizer-training / stopword-discovery primitive.

    Scale: explode + two-phase hash aggregate (map-side partials carry
    one row per distinct token per partition); the top-50 is
    TakeOrderedAndProject over the aggregated (vocabulary-sized, not
    corpus-sized) result. Token frequency is Zipfian — exactly the
    skew AQE's skew-join/partial-agg handling exists for; the hot
    tokens never concentrate on one reducer because partials collapse
    them map-side first."""
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    return (
        docs.select(F.explode(tx.tokens(F.lower(F.col("text")))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "token")
        .limit(50)
    )


@register(
    "tfidf_top_terms",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                t -> t <> '')) AS token
      FROM documents
    ),
    tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
    dfq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      -- per-row over integer counts; ln() is the same libm call on a
      -- bit-identical arg on both engines (r12 router-sigmoid
      -- precedent): decimal-string round (r13 class-a conversion)
      SELECT doc_id, token,
             {round_double_sql("tf * (ln((n_docs + 1.0) / (df + 1.0)) + 1)", 6)} AS tfidf
      FROM tf JOIN dfq USING (token) CROSS JOIN n
    )
    SELECT doc_id, token, tfidf, CAST(rnk AS INTEGER) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                       ORDER BY tfidf DESC, token) AS rnk
          FROM scored)
    WHERE rnk <= 3
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by smoothed TF-IDF
    (operators/text.py): explode → two mergeable aggregates →
    broadcast of the vocabulary-sized df table → per-doc
    WindowGroupLimit. Ranking is on the rounded score + token
    tie-break, so both engines produce the identical total order."""
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    return tx.tf_idf_top_terms(docs, k=3)


@register(
    "pii_redaction",
    oracle="""
    WITH seeded AS (
      SELECT doc_id,
             text || ' contact user' || doc_id ||
             '@example.com or +12-555-' ||
             lpad((doc_id % 10000)::VARCHAR, 4, '0') AS t
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(t,
                '(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}')) AS INTEGER) AS n_emails,
           CAST(len(regexp_extract_all(t,
                '\\+[0-9]{2}-[0-9]{3}-[0-9]{4}')) AS INTEGER)          AS n_phones,
           CAST(length(regexp_replace(regexp_replace(t,
                '(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}', '<EMAIL>', 'g'),
                '\\+[0-9]{2}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g')) AS BIGINT)
                                                                       AS clean_len
    FROM seeded
    """,
)
def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data cleaning: PII detection + redaction
    (operators/text.py) over documents seeded with a deterministic
    contact line (the synthetic corpus contains no real PII, so the
    query injects one email + one phone per doc and must find and
    strip EXACTLY those). Map-only regexp stage; both engines run the
    same RE2/Java-compatible patterns, so counts and redacted lengths
    hash-match."""
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    seeded = docs.withColumn(
        "text",
        F.concat(
            F.col("text"), F.lit(" contact user"), F.col("doc_id").cast("string"),
            F.lit("@example.com or +12-555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ),
    )
    out = tx.redact_pii(seeded)
    return out.select(
        "doc_id", "n_emails", "n_phones",
        F.length("clean_text").cast("long").alias("clean_len"),
    )


@register(
    "dup_clusters",
    oracle="""
    WITH RECURSIVE
    w AS (SELECT DISTINCT doc_id, unnest(list_filter(string_split_regex(text, '\\s+'),
                                         t -> t <> '')) AS word
          FROM documents),
    c AS (SELECT doc_id, COUNT(*) AS set_size FROM w GROUP BY doc_id),
    i AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS inter
          FROM w a JOIN w b ON a.word = b.word AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
    e AS (SELECT a_id, b_id FROM i
          JOIN c ca ON ca.doc_id = i.a_id
          JOIN c cb ON cb.doc_id = i.b_id
          WHERE inter * 1.0 / (ca.set_size + cb.set_size - inter) >= 0.95),
    sym AS (SELECT a_id AS src, b_id AS dst FROM e
            UNION SELECT b_id, a_id FROM e),
    closure(src, dst) AS (
      SELECT src, dst FROM sym
      UNION
      SELECT cl.src, s.dst FROM closure cl JOIN sym s ON cl.dst = s.src
    ),
    reps AS (
      SELECT d.doc_id,
             LEAST(d.doc_id, COALESCE(MIN(cl.dst), d.doc_id)) AS cluster_rep
      FROM documents d LEFT JOIN closure cl ON cl.src = d.doc_id
      GROUP BY d.doc_id
    ),
    sizes AS (SELECT cluster_rep, COUNT(*) AS n FROM reps GROUP BY 1)
    SELECT r.doc_id, r.cluster_rep,
           CAST(s.n AS BIGINT)        AS cluster_size,
           r.doc_id = r.cluster_rep   AS keep
    FROM reps r JOIN sizes s USING (cluster_rep)
    """,
)
def dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs → dedup CLUSTERS via iterative min-label
    connected components (operators/components.py): every document
    gets its cluster representative (min doc_id in the component over
    unigram-Jaccard ≥ 0.95 edges), the cluster size, and the keep flag
    the dedup'd corpus filters on. The oracle recomputes components
    with a recursive transitive-closure CTE — exact, so the whole
    iterative operator is driver-hash-checked."""
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    edges = dd.jaccard_pairs(docs, threshold=0.95, ngram=1)
    return cc.dedup_clusters(docs, edges)


@register(
    "countmin_top_tokens",
    oracle="""
    WITH tok AS (
      SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                t -> t <> '')) AS token
      FROM documents
    )
    SELECT token, CAST(COUNT(*) AS BIGINT) AS n_exact,
           TRUE AS cms_lower_ok, TRUE AS cms_upper_ok
    FROM tok GROUP BY token
    ORDER BY n_exact DESC, token
    LIMIT 50
    """,
)
def countmin_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch heavy hitters (operators/sketches.py): the
    approximate counterpart of ``top_tokens``. One fixed-size mergeable
    sketch replaces the full vocabulary shuffle at 100 TB; the audit
    row per top-50 token pins the CMS guarantee (estimate ≥ exact, and
    ≤ exact + eps·N) against DuckDB's exact counts."""
    from ..operators.sketches import count_min_topk_audit

    docs = load_tables(spark, sf_dir, "documents")["documents"]
    toks = docs.select(F.explode(tx.tokens(F.lower(F.col("text")))).alias("token"))
    return count_min_topk_audit(toks, col="token", k=50)


@register(
    "train_val_test_split",
    oracle="""
    SELECT doc_id,
           CASE WHEN CAST(('0x' || substr(sha256(doc_id::VARCHAR || 'split_v1'), 1, 4))
                          AS INTEGER) < 58982 THEN 'train'
                WHEN CAST(('0x' || substr(sha256(doc_id::VARCHAR || 'split_v1'), 1, 4))
                          AS INTEGER) < 62259 THEN 'val'
                ELSE 'test' END AS split
    FROM documents
    """,
)
def train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/5/5 split by sha256 hash bucket
    (operators/mixing.py): a pure function of (doc_id, salt), so
    reruns/backfills/engines agree row-for-row with no stored
    assignment table and no RNG — DuckDB recomputes the exact same
    assignment, making this a per-row driver hash check."""
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    return mx.with_split(docs, id_col="doc_id", salt="split_v1").select(
        "doc_id", "split"
    )


@register(
    "stratified_sample_mix",
    oracle="""
    WITH b AS (
      SELECT doc_id, lang,
             CAST(('0x' || substr(sha256(doc_id::VARCHAR || 'mix_v1'), 1, 4))
                  AS INTEGER) AS bucket
      FROM documents
    )
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_kept,
           CAST(MIN(doc_id) AS BIGINT)    AS min_kept_id,
           CAST(MAX(doc_id) AS BIGINT)    AS max_kept_id
    FROM b
    WHERE bucket < (CASE lang WHEN 'en' THEN 19660
                              WHEN 'de' THEN 45875 ELSE 65536 END)
    GROUP BY lang
    """,
)
def stratified_sample_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture sampling (operators/mixing.py): keep 30% of
    'en', 70% of 'de', 100% of everything else — deterministically by
    hash bucket, one map-only pass, rate table compiled into the plan.
    Aggregated per language for a scale-stable output; the oracle
    recomputes the identical kept-set."""
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    kept = mx.stratified_sample(
        docs, rates={"en": 0.3, "de": 0.7}, strata_col="lang",
        id_col="doc_id", salt="mix_v1",
    )
    return kept.groupBy("lang").agg(
        F.count("*").alias("n_kept"),
        F.min("doc_id").alias("min_kept_id"),
        F.max("doc_id").alias("max_kept_id"),
    )


@register(
    "decontaminate_docs",
    oracle="""
    WITH tok AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         t -> t <> '') AS tk
      FROM documents
    ),
    sh AS (
      SELECT doc_id,
             unnest(list_distinct(
               CASE WHEN len(tk) >= 5
                    THEN list_transform(range(1, len(tk) - 3),
                                        i -> array_to_string(tk[i:i+4], ' '))
                    ELSE CAST([] AS VARCHAR[]) END)) AS shingle
      FROM tok
    ),
    bench  AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < 20),
    corpus AS (SELECT doc_id, shingle FROM sh WHERE doc_id >= 20)
    SELECT corpus.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared_shingles
    FROM corpus JOIN bench USING (shingle)
    GROUP BY corpus.doc_id
    """,
)
def decontaminate_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: corpus docs sharing ≥1 distinct
    5-word shingle with the 'benchmark' set (doc_id < 20 stands in for
    an eval corpus), with the shared-shingle count. The cleaning step
    drops (anti-joins) these ids before training. Broadcast
    semi-probe — corpus text never shuffles."""
    docs = load_tables(spark, sf_dir, "documents")["documents"].withColumn(
        "text_lc", F.lower(F.col("text"))
    )
    bench = docs.filter(F.col("doc_id") < 20)
    corpus = docs.filter(F.col("doc_id") >= 20)
    return dd.contamination_overlap(corpus, bench, text_col="text_lc", ngram=5)


@register(
    "pack_stats",
    oracle="""
    WITH docs_r AS (
      -- identity grain + replay resolution (r11 duplicates sweep):
      -- doc_id is the packer's TOTAL order, so replays must resolve
      -- to one row first (content-total winner)
      SELECT doc_id, lang, text FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
            ORDER BY text DESC NULLS LAST, lang DESC NULLS LAST,
                     source DESC NULLS LAST, n_chars DESC NULLS LAST) AS __rn
        FROM documents) WHERE __rn = 1
    ),
    toks AS (
      SELECT doc_id, lang,
             CAST(len(list_filter(string_split_regex(text, '\\s+'),
                                  t -> t <> '')) AS BIGINT) AS n_tokens
      FROM docs_r
    ), offs AS (
      SELECT doc_id, lang, n_tokens,
             CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT)
               - n_tokens AS start_offset
      FROM toks
    )
    SELECT lang,
           CAST(FLOOR(start_offset / 256) AS BIGINT) AS pack_id,
           CAST(COUNT(*) AS BIGINT)                  AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT)             AS pack_tokens
    FROM offs GROUP BY lang, pack_id
    """,
)
def pack_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-pack rollup of the sequence-packing layout: documents and
    tokens per (lang, pack) — the dataloader-manifest view. One
    partitioned window cumsum + one hash aggregate on the same
    partition key, so the second stage reuses the first's shuffle
    partitioning (no extra exchange)."""
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    return pk.pack_stats(pk.pack_documents(docs, budget=256))


@register(
    "image_resize_stats",
    oracle="""
    WITH img AS (
      -- identity grain (r11 duplicates sweep): the media table is
      -- keyed by doc_id; a replayed id yields ONE media row
      SELECT DISTINCT doc_id AS d, 8 + doc_id % 9 AS sw, 8 + doc_id % 7 AS sh
      FROM documents WHERE doc_id % 3 = 0
    ),
    px AS (
      -- nearest-neighbor: out pixel (x,y) samples source
      -- (x*sw//16, y*sh//16); sum the three channels in one term
      SELECT i.d, i.sw,
             (i.d * 7 + 3 * ((x.x * i.sw) // 16) + 5 * ((y.y * i.sh) // 16)) % 256
           + (i.d * 8 + 3 * ((x.x * i.sw) // 16) + 5 * ((y.y * i.sh) // 16)) % 256
           + (i.d * 9 + 3 * ((x.x * i.sw) // 16) + 5 * ((y.y * i.sh) // 16)) % 256
             AS pix3
      FROM img i,
           generate_series(0, 15) AS x(x),
           generate_series(0, 15) AS y(y)
    ),
    sums AS (
      SELECT d, sw, CAST(SUM(pix3) AS BIGINT) AS pixel_sum
      FROM px GROUP BY d, sw
    )
    SELECT CAST(COUNT(*) AS BIGINT)                    AS n_images,
           CAST(SUM(pixel_sum) AS BIGINT)              AS total_pixel_sum,
           CAST(COUNT(DISTINCT pixel_sum) AS BIGINT)   AS n_distinct_sums,
           ROUND(AVG(sw), 6)                           AS avg_src_width
    FROM sums
    """,
)
def image_resize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-resize stage end-to-end (operators/multimodal.resize_images):
    REAL PNG decode → nearest-neighbor resample to 16×16 → re-encode,
    via Arrow-batched mapInPandas. The oracle recomputes every
    resampled pixel from the closed-form image model and the exact
    floor-division sampling rule, so the driver hash pins the whole
    decode→resample path — a wrong filter reconstruction or an
    off-by-one in the sampling grid shifts total_pixel_sum."""
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    resized = mm.resize_images(
        mm.synth_media_from_documents(docs), width=16, height=16
    )
    return resized.agg(
        F.count("*").alias("n_images"),
        F.sum("pixel_sum").alias("total_pixel_sum"),
        F.countDistinct("pixel_sum").alias("n_distinct_sums"),
        F.round(F.avg("src_width"), 6).alias("avg_src_width"),
    )


@register(
    "png_pixel_stats",
    oracle="""
    SELECT d.doc_id                                  AS media_id,
           CAST(8 + d.doc_id % 9 AS INTEGER)         AS width,
           CAST(8 + d.doc_id % 7 AS INTEGER)         AS height,
           CAST(SUM((d.doc_id * 7 + 3 * x.x + 5 * y.y) % 256) AS BIGINT) AS sum_r,
           CAST(SUM((d.doc_id * 8 + 3 * x.x + 5 * y.y) % 256) AS BIGINT) AS sum_g,
           CAST(SUM((d.doc_id * 9 + 3 * x.x + 5 * y.y) % 256) AS BIGINT) AS sum_b
    -- generate_series can't take correlated bounds in DuckDB, so walk
    -- the maximal 16×14 grid and clip per-image (dims are 8..16 × 8..14)
    -- identity grain (r11 duplicates sweep)
    FROM (SELECT DISTINCT doc_id FROM documents) d,
         generate_series(0, 15) AS x(x),
         generate_series(0, 13) AS y(y)
    WHERE d.doc_id % 3 = 0
      AND x.x < 8 + d.doc_id % 9
      AND y.y < 8 + d.doc_id % 7
    GROUP BY d.doc_id
    """,
)
def png_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-image channel sums from REAL decoded pixels — the sharpest
    decoder proof in the suite: Spark inflates + unfilters every PNG
    (all five scanline filter types are present by construction) and
    sums each channel; DuckDB regenerates the pixels analytically with
    generate_series. Any divergence in any pixel of any image breaks
    the per-row hash."""
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    stats = mm.image_pixel_stats(mm.synth_media_from_documents(docs))
    return stats.select("media_id", "width", "height", "sum_r", "sum_g", "sum_b")


# -- round-2 additions: repetition signals, repeated spans, quantization ----

@register(
    "doc_repetition_stats",
    oracle=f"""
    WITH words AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
    ),
    wc AS (SELECT doc_id, word, COUNT(*) AS n FROM words GROUP BY 1, 2),
    uni AS (
      SELECT doc_id,
             CAST(SUM(n) AS BIGINT)   AS n_words,
             CAST(COUNT(*) AS BIGINT) AS n_distinct_words,
             CAST(MAX(n) AS BIGINT)   AS top_word_n
      FROM wc GROUP BY doc_id
    ),
    bi AS (
      SELECT doc_id,
             len(bg)                        AS n_bigrams,
             len(bg) - len(list_distinct(bg)) AS dup_bigrams
      FROM (
        SELECT doc_id,
               list_transform(generate_series(1, len(w) - 1),
                              i -> w[i] || ' ' || w[i + 1]) AS bg
        FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
      )
    )
    -- integer-aggregate ratios (SUM/COUNT/MAX of ints are exact in any
    -- order), bit-identical per row: decimal-string rounds (r13
    -- class-a conversion, integrity.round_double_sql)
    SELECT u.doc_id, u.n_words, u.n_distinct_words,
           {round_double_sql("CAST(top_word_n AS DOUBLE) / n_words", 6)}                 AS top_word_frac,
           {round_double_sql("CAST(n_words - n_distinct_words AS DOUBLE) / n_words", 6)} AS dup_word_frac,
           CASE WHEN n_bigrams > 0
                THEN {round_double_sql("CAST(dup_bigrams AS DOUBLE) / n_bigrams", 6)}
                ELSE 0.0 END                                              AS dup_bigram_frac
    FROM uni u JOIN bi USING (doc_id)
    """,
)
def doc_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals (operators/text.
    repetition_stats): top-word share, duplicate-word share,
    duplicate-bigram share per document — the filters a pretraining
    corpus applies before anything model-based."""
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    return tx.repetition_stats(docs)


@register(
    "dup_ngram_spans",
    oracle="""
    WITH g AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, len(w) - 7),
                                   i -> array_to_string(w[i:i+7], ' '))) AS gram
      FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
    )
    SELECT gram,
           CAST(COUNT(*) AS BIGINT)                AS n_occurrences,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT)  AS n_docs
    FROM g GROUP BY gram
    HAVING COUNT(DISTINCT doc_id) >= 2
    """,
)
def dup_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact repeated-span detection (operators/text.duplicated_ngrams):
    8-word grams shared by ≥2 documents — the memorization-prone spans
    exact-substring dedup removes."""
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    return tx.duplicated_ngrams(docs, n=8, min_docs=2)


@register(
    "embedding_quantize_error",
    oracle=f"""
    -- non-finite vectors are quarantined before quantization (a NaN
    -- element has no int8 code and would poison the error stats) —
    -- same predicate as the operator (r11 extremes sweep)
    WITH w AS (
      SELECT vec_id,
             list_transform(embedding, v -> CAST(v AS DOUBLE)) AS xd
      FROM embeddings WHERE {_VALID_VEC_SQL}
    ),
    q AS (
      SELECT vec_id, xd AS x, len(xd) AS dim,
             list_max(list_transform(xd, v -> abs(v))) / 127.0 AS scale
      FROM w
    ),
    e AS (
      SELECT vec_id, dim, scale,
             list_transform(x, v -> abs(round(v / scale) * scale - v)) AS err
      FROM q WHERE scale > 0
    )
    -- rounding rides the decimal-string domain (r12 ROUND-tie
    -- convention, integrity.round_double_sql): DuckDB's VARCHAR repr
    -- is the same shortest repr Spark's round reads, so a tie value
    -- rounds identically; args here are quarantined finite and ≪ 1e15
    -- generated from integrity.round_double_sql (r13)
    SELECT vec_id,
           {round_double_sql("scale", 9)}  AS scale,
           {round_double_sql("list_max(err)", 9)}  AS max_abs_err,
           {round_double_sql("list_sum(err) / dim", 9)}  AS mean_abs_err
    FROM e
    """,
)
def embedding_quantize_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 quantization audit (operators/similarity.quantize_audit):
    per-vector scale and round-trip reconstruction error for the
    4-bytes→1-byte storage shrink an embedding corpus takes before
    ANN indexing."""
    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    return sim.quantize_audit(emb)


@register(
    "token_budget_mix",
    oracle="""
    WITH t AS (
      SELECT doc_id, lang,
             len(string_split(text, ' ')) AS n_tokens,
             CAST(('0x' || substr(sha256(doc_id::VARCHAR || 'budget_v1'), 1, 4))
                  AS INTEGER) AS bucket
      FROM documents
    ),
    c AS (
      SELECT doc_id, lang, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY lang ORDER BY bucket, doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum
      FROM t
    )
    SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens
    FROM c
    WHERE cum - n_tokens < CASE WHEN lang = 'en' THEN 6000 ELSE 2000 END
    """,
)
def token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget corpus mixing (operators/mixing.token_budget_mix):
    fill a 6k-token English budget and 2k for every other language
    (roughly half of each stratum at the oracle SF, so the budget
    demonstrably truncates),
    taking documents in sha256-hash order until each stratum's budget
    is spent. Token targets, not row targets — the difference matters
    whenever document lengths differ across sources. Deterministic
    (no RNG state), so DuckDB recomputes the exact kept set."""
    docs = load_tables(spark, sf_dir, "documents")["documents"].withColumn(
        "n_tokens", F.size(F.split("text", " ")).cast("long")
    )
    kept = mx.token_budget_mix(
        docs,
        {"en": 6000},
        token_col="n_tokens",
        strata_col="lang",
        id_col="doc_id",
        salt="budget_v1",
        default_budget=2000,
    )
    return kept.select("doc_id", "lang", "n_tokens")


@register(
    "doc_difficulty_buckets",
    oracle=f"""
    -- per-row rounds AND the MIN/MAX readouts ride the decimal-string
    -- domain (r12 convention + r13 MIN/MAX refinement — order-
    -- independent selections of bit-identical scores are class a);
    -- only the quantile_cont rounds stay native (interpolation
    -- arithmetic is genuinely class b)
    WITH feat AS (
      SELECT doc_id,
             CAST(len(list_filter(string_split_regex(text, '\\s+'),
                                  t -> t <> '')) AS BIGINT) AS n_tokens,
             CASE WHEN len(list_filter(string_split_regex(text, '\\s+'),
                                       t -> t <> '')) > 0 THEN
               {round_double_sql(_AVG_TOKLEN_SQL, 6)} END AS avg_token_len,
             CASE WHEN len(list_filter(string_split_regex(text, '\\s+'),
                                       t -> t <> '')) > 0 THEN
               {round_double_sql(_STOPWORD_RATIO_SQL, 6)} END AS stopword_ratio
      FROM documents
    ), scored AS (
      SELECT doc_id, n_tokens,
             CASE WHEN n_tokens > 0 THEN
               {round_double_sql("0.4 * LEAST(n_tokens / 200.0, 1.0) + 0.3 * LEAST(stopword_ratio * 5.0, 1.0) + 0.3 * CASE WHEN avg_token_len BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.0 END", 7)}
             ELSE 0.0 END AS quality_score
      FROM feat
    ), cuts AS (
      SELECT ROUND(quantile_cont(quality_score, 0.25), 6) AS q1,
             ROUND(quantile_cont(quality_score, 0.50), 6) AS q2,
             ROUND(quantile_cont(quality_score, 0.75), 6) AS q3
      FROM scored
    )
    SELECT 1 + CAST(quality_score > q1 AS INT) + CAST(quality_score > q2 AS INT)
             + CAST(quality_score > q3 AS INT)  AS bucket,
           CAST(COUNT(*) AS BIGINT)             AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT)        AS total_tokens,
           -- MIN/MAX pick one bit-identical rounded score per group
           -- (order-independent aggregates are class a — r12 caveat);
           -- re-rounding an already-7-dec double is exactly the r11
           -- cent shape, so these ride the decimal-string twin (r13)
           {round_double_sql("MIN(quality_score)", 7)}         AS min_score,
           {round_double_sql("MAX(quality_score)", 7)}         AS max_score
    FROM scored, cuts
    GROUP BY 1
    """,
)
def doc_difficulty_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum difficulty quartiles over the quality score: exact
    quartile cutpoints from ONE aggregate (no global sort, no ntile —
    a global ntile window would drag every row through a single
    partition at 100 TB), broadcast back as a 1-row frame, bucket
    membership by comparison. Cutpoints are rounded to 6dp on both
    engines so interpolation ulp differences can't move a boundary."""
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    # tokens() (split + empty-fragment filter), NOT strip-then-split:
    # the two agree on clean text but diverge on leading/trailing
    # whitespace and empty docs (round-11 extremes sweep)
    scored = tx.with_quality_score(docs).select(
        "doc_id",
        F.size(tx.tokens("text")).cast("long").alias("n_tokens"),
        "quality_score",
    )
    cuts = scored.agg(
        F.round(F.percentile("quality_score", 0.25), 6).alias("q1"),
        F.round(F.percentile("quality_score", 0.50), 6).alias("q2"),
        F.round(F.percentile("quality_score", 0.75), 6).alias("q3"),
    )
    bucket = (
        F.lit(1)
        + (F.col("quality_score") > F.col("q1")).cast("int")
        + (F.col("quality_score") > F.col("q2")).cast("int")
        + (F.col("quality_score") > F.col("q3")).cast("int")
    )
    return (
        scored.join(F.broadcast(cuts))
        .groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.round(F.min("quality_score"), 7).alias("min_score"),
            F.round(F.max("quality_score"), 7).alias("max_score"),
        )
    )


@register(
    "wav_header_stats",
    oracle="""
    SELECT doc_id                                   AS media_id,
           CAST(8000 + (doc_id % 3) * 4000 AS INT)  AS sample_rate,
           CAST(1 + doc_id % 2 AS INT)              AS channels,
           CAST(16 AS INT)                          AS bits_per_sample,
           CAST(1000 + doc_id % 500 AS BIGINT)      AS n_samples,
           CAST((1000 + doc_id % 500) * 1000000
                // (8000 + (doc_id % 3) * 4000) AS BIGINT) AS duration_us
    FROM documents
    """,
)
def wav_header_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL media-container round-trip (operators/multimodal.py):
    deterministic RIFF/WAVE files are synthesized per document
    (genuine byte-level containers, not fake payloads) and then parsed
    back by the pure-struct chunk walker — both stages Arrow-batched
    mapInPandas. The oracle recomputes every header field from the
    synthesis formula, so a hash match proves the PARSER extracted
    exactly what the container encodes. Codec decode stays stubbed
    (no media libs in the container); container parsing is real."""
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    wavs = mm.synth_wav_payloads(docs)
    return mm.parse_wav_headers(wavs)


@register(
    "doc_chunks",
    oracle="""
    WITH toked AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\\s+'),
                         t -> t <> '') AS toks
      FROM documents),
    starts AS (
      SELECT doc_id, toks, len(toks) AS n,
             unnest(generate_series(0, len(toks) - 1, 24)) AS start_token
      FROM toked WHERE len(toks) > 0)
    SELECT doc_id,
           CAST(start_token / 24 AS BIGINT)        AS chunk_id,
           CAST(start_token AS BIGINT)             AS start_token,
           CAST(LEAST(32, n - start_token) AS BIGINT) AS chunk_tokens,
           sha256(array_to_string(
               list_slice(toks, start_token + 1,
                          start_token + LEAST(32, n - start_token)),
               ' '))                               AS chunk_sha
    FROM starts
    """,
)
def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking of the corpus: 32-token windows with
    8-token overlap (step 24), the standard prep for embedding and
    pretraining pipelines. Zero-shuffle sequence+explode fan-out;
    chunk bodies travel as sha256 digests, never as duplicated text.
    The oracle recomputes every chunk boundary AND every chunk body
    digest, so both the windowing arithmetic and the token-slice
    contents are value-checked."""
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    return tx.chunk_documents(docs, size=32, overlap=8)


@register(
    "dedup_keep_best",
    oracle=f"""
    WITH RECURSIVE
    w AS (SELECT DISTINCT doc_id, unnest(list_filter(string_split_regex(text, '\\s+'),
                                         t -> t <> '')) AS word
          FROM documents),
    c AS (SELECT doc_id, COUNT(*) AS set_size FROM w GROUP BY doc_id),
    i AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS inter
          FROM w a JOIN w b ON a.word = b.word AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
    e AS (SELECT a_id, b_id FROM i
          JOIN c ca ON ca.doc_id = i.a_id
          JOIN c cb ON cb.doc_id = i.b_id
          WHERE inter * 1.0 / (ca.set_size + cb.set_size - inter) >= 0.95),
    sym AS (SELECT a_id AS src, b_id AS dst FROM e
            UNION SELECT b_id, a_id FROM e),
    closure(src, dst) AS (
      SELECT src, dst FROM sym
      UNION
      SELECT cl.src, s.dst FROM closure cl JOIN sym s ON cl.dst = s.src
    ),
    reps AS (
      SELECT d.doc_id,
             LEAST(d.doc_id, COALESCE(MIN(cl.dst), d.doc_id)) AS cluster_rep
      FROM documents d LEFT JOIN closure cl ON cl.src = d.doc_id
      GROUP BY d.doc_id
    ),
    sizes AS (SELECT cluster_rep, COUNT(*) AS n FROM reps GROUP BY 1),
    -- per-row rounds ride the decimal-string domain (r12 ROUND-tie
    -- convention, integrity.round_double_sql): token ratios and the
    -- quality score are finite and bounded; twins generated from
    -- integrity.round_double_sql (r13)
    feat AS (
      SELECT doc_id,
             CAST(len(list_filter(string_split_regex(text, '\\s+'),
                                  t -> t <> '')) AS BIGINT) AS n_tokens,
             CASE WHEN len(list_filter(string_split_regex(text, '\\s+'),
                                       t -> t <> '')) > 0 THEN
               {round_double_sql(_AVG_TOKLEN_SQL, 6)} END AS avg_token_len,
             CASE WHEN len(list_filter(string_split_regex(text, '\\s+'),
                                       t -> t <> '')) > 0 THEN
               {round_double_sql(_STOPWORD_RATIO_SQL, 6)} END AS stopword_ratio
      FROM documents
    ),
    scored AS (
      SELECT doc_id,
             CASE WHEN n_tokens > 0 THEN
               {round_double_sql("0.4 * LEAST(n_tokens / 200.0, 1.0) + 0.3 * LEAST(stopword_ratio * 5.0, 1.0) + 0.3 * CASE WHEN avg_token_len BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.0 END", 7)}
             ELSE 0.0 END AS quality_score
      FROM feat
    ),
    ranked AS (
      SELECT r.cluster_rep, r.doc_id, s.n AS cluster_size, q.quality_score,
             ROW_NUMBER() OVER (PARTITION BY r.cluster_rep
                                ORDER BY q.quality_score DESC, r.doc_id) AS rn
      FROM reps r JOIN sizes s USING (cluster_rep)
      JOIN scored q ON q.doc_id = r.doc_id
    )
    SELECT CAST(cluster_rep AS BIGINT)  AS cluster_rep,
           CAST(doc_id AS BIGINT)       AS kept_doc_id,
           CAST(cluster_size AS BIGINT) AS cluster_size,
           quality_score
    FROM ranked WHERE rn = 1
    """,
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document selection — the step a real pipeline runs
    AFTER near-dup clustering: within each dup cluster keep the
    highest-quality document (composite quality score, doc_id
    tie-break), not blindly the min-id one. Composition of the
    connected-components operator with the quality scorer; the
    per-cluster argmax is one row_number window over the already
    cluster-partitioned frame, so it reuses the clustering shuffle.
    The oracle recomputes clusters (recursive closure), scores, and
    the argmax exactly."""
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    edges = dd.jaccard_pairs(docs, threshold=0.95, ngram=1)
    return _keep_best_over_edges(docs, edges)


def _keep_best_over_edges(docs: DataFrame, edges: DataFrame) -> DataFrame:
    """Shared keep-best composition: cluster on the given edge set,
    score, per-cluster argmax (row_number reusing the clustering
    shuffle). The caller chooses the edge algebra — exact Jaccard for
    the oracle-checked query, MinHash-LSH for the scale path."""
    from pyspark.sql.window import Window as W

    clusters = cc.dedup_clusters(docs, edges).select(
        "doc_id", "cluster_rep", "cluster_size"
    )
    scored = tx.with_quality_score(docs).select("doc_id", "quality_score")
    w = W.partitionBy("cluster_rep").orderBy(
        F.desc("quality_score"), F.asc("doc_id")
    )
    return (
        clusters.join(scored, "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("cluster_rep").cast("long").alias("cluster_rep"),
            F.col("doc_id").cast("long").alias("kept_doc_id"),
            F.col("cluster_size").cast("long").alias("cluster_size"),
            "quality_score",
        )
    )


def dedup_keep_best_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100-TB form of keep-best dedup (NOT registered — no exact
    oracle is possible for an LSH edge set): clusters come from
    MinHash-LSH near-dup pairs (O(n·bands) shuffle, exact-verified
    candidates) instead of the exact posting-list self-join, which is
    quadratic in hot-shingle document frequency — the 10× stress probe
    measured the exact path at 38× cost for 10× data, precisely the
    blowup the LSH path avoids (1-2× there). Same clustering + argmax
    downstream; recall follows the LSH audit bound (≥90%, see
    ``minhash_dup_pairs``). bench.py and scripts/stress.py time THIS
    form; the registered ``dedup_keep_best`` keeps the exact edges so
    every cluster and argmax stays DuckDB-checkable."""
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    edges = dd.minhash_dup_pairs(
        docs, threshold=0.7, num_perm=64, bands=16, ngram=3
    ).select("a_id", "b_id")
    return _keep_best_over_edges(docs, edges)


@register(
    "dedup_keep_best_equivalence",
    oracle="""
    WITH RECURSIVE
    tok AS (
      SELECT doc_id, list_filter(string_split_regex(text, '\\s+'),
                                 t -> t <> '') AS tk
      FROM documents
    ),
    sh AS (
      SELECT doc_id,
             unnest(list_distinct(
               CASE WHEN len(tk) >= 3
                    THEN list_transform(range(1, len(tk) - 1),
                                        i -> array_to_string(tk[i:i+2], ' '))
                    ELSE CAST([] AS VARCHAR[]) END)) AS shingle
      FROM tok
    ),
    c AS (SELECT doc_id, COUNT(*) AS set_size FROM sh GROUP BY doc_id),
    i AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS inter
          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
    e AS (SELECT a_id, b_id FROM i
          JOIN c ca ON ca.doc_id = i.a_id
          JOIN c cb ON cb.doc_id = i.b_id
          WHERE inter * 1.0 / (ca.set_size + cb.set_size - inter) >= 0.7),
    sym AS (SELECT a_id AS src, b_id AS dst FROM e
            UNION SELECT b_id, a_id FROM e),
    closure(src, dst) AS (
      SELECT src, dst FROM sym
      UNION
      SELECT cl.src, s.dst FROM closure cl JOIN sym s ON cl.dst = s.src
    ),
    reps AS (
      SELECT d.doc_id,
             LEAST(d.doc_id, COALESCE(MIN(cl.dst), d.doc_id)) AS cluster_rep
      FROM documents d LEFT JOIN closure cl ON cl.src = d.doc_id
      GROUP BY d.doc_id
    )
    SELECT CAST(COUNT(DISTINCT cluster_rep) AS BIGINT) AS n_clusters,
           CAST(COUNT(*) AS BIGINT)                    AS docs_covered,
           CAST(0 AS BIGINT)                           AS n_scale_only,
           CAST(0 AS BIGINT)                           AS n_exact_only,
           TRUE                                        AS clusters_equal
    FROM reps
    """,
)
def dedup_keep_best_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EQUIVALENCE AUDIT for the deployable keep-best dedup (round-5/6
    verdict item #1): runs :func:`dedup_keep_best_scale` — the LSH-edge
    + pointer-jumping form a 100 TB user actually deploys — AND the
    exact posting-join form over the SAME edge algebra (Jaccard ≥0.7,
    3-gram shingles), then pins full output-set equality row for row
    (cluster_rep, kept_doc_id, cluster_size, quality_score) via a
    multiset diff both ways — the ``minhash_band_sweep_audit`` pattern
    lifted from pair level to cluster+argmax level. The DuckDB oracle
    independently recomputes the exact clusters (recursive closure
    over the exact pair set) so n_clusters and docs_covered are
    value-checked, and the zero-diff booleans certify that banding +
    verification + pointer-jumping lose NOTHING vs the quadratic
    baseline at this operating point. Readout is bounded (5 scalars);
    both forms stay fully distributed."""
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    # the LSH pipeline feeds the count+sum readout and the diff
    scale = materialize.persist(dedup_keep_best_scale(spark, sf_dir))
    exact_edges = dd.jaccard_pairs(
        docs, text_col="text", threshold=0.7, ngram=3
    ).select("a_id", "b_id")
    exact = _keep_best_over_edges(docs, exact_edges)
    # SUM over zero clusters reads back None; the oracle counts 0 over
    # its empty reps frame (r10 empty sweep)
    s_row = scale.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum("cluster_size"), F.lit(0)).alias("cov"),
    ).first()
    n_clusters, docs_covered = s_row["n"], s_row["cov"]
    n_scale_only, n_exact_only = multiset_diff(scale, exact)
    return spark.createDataFrame(
        [
            (
                n_clusters,
                docs_covered,
                n_scale_only,
                n_exact_only,
                n_scale_only == 0 and n_exact_only == 0,
            )
        ],
        "n_clusters long, docs_covered long, n_scale_only long,"
        " n_exact_only long, clusters_equal boolean",
    )


def _semantic_kept_ids(emb: DataFrame, edges: DataFrame) -> DataFrame:
    """Shared semantic keep-best composition: cluster the edge set via
    pointer-jumping components, keep the max-L2-norm vector per
    cluster (vec_id tie-break). The caller chooses the edge algebra —
    brute-force exact for the oracle-checked audit, LSH-bucketed for
    the scale path."""
    from pyspark.sql.window import Window as W

    norm = F.sqrt(
        F.aggregate(
            F.transform("embedding", lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    scored = emb.select(F.col("vec_id").alias("doc_id"), norm.alias("nrm"))
    ids = emb.select(F.col("vec_id").alias("doc_id"))
    clusters = cc.dedup_clusters(ids, edges).select("doc_id", "cluster_rep")
    w = W.partitionBy("cluster_rep").orderBy(F.desc("nrm"), F.asc("doc_id"))
    return (
        clusters.join(scored, "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(F.col("doc_id").alias("kept_id"))
    )


def semantic_dedup_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100-TB form of semantic dedup (NOT registered — the
    registered ``semantic_dedup_keep_best`` is the equivalence AUDIT,
    which also runs the exact quadratic baseline): LSH-bucketed
    candidate edges (pair space Σ bucket², exact-scored) feeding the
    shared cluster + max-norm-argmax downstream. bench.py times THIS
    form, mirroring ``dedup_keep_best_scale`` for the lexical tier."""
    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    edges = sim.embedding_dup_pairs(emb, threshold=0.4, exact=False).select(
        "a_id", "b_id"
    )
    return _semantic_kept_ids(emb, edges)


def semantic_dedup_ivf_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-algebra sibling of :func:`semantic_dedup_scale` (NOT
    registered — ``semantic_dedup_ivf_keep_best`` is the audit):
    coarse-quantizer-bucketed candidate edges feeding the same cluster
    + max-norm-argmax downstream. bench.py times this form so the two
    candidate algebras stay comparable round over round. Runs the
    AUDITED operating point (n_lists=8, assign=3 — measured edge
    recall 0.974 at sf0.1); √n-scaled lists were measured at 0.853
    recall on this weakly-clustered corpus and rejected — on such data
    the recall lever is assignment density, not list count, and the
    BLAS candidate matmul keeps the denser point cheap."""
    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    edges = sim.embedding_dup_pairs_ivf(emb, threshold=0.4).select("a_id", "b_id")
    return _semantic_kept_ids(emb, edges)


def _semantic_keep_best_audit(
    spark: SparkSession, emb: DataFrame, scale_edges: DataFrame
) -> DataFrame:
    """Shared audit harness for the semantic keep-best candidate
    algebras (LSH and IVF registered forms): runs the exact quadratic
    edge baseline AND the caller's scale-path edges through the same
    cluster + keep-best downstream, returning the 6-scalar certificate
    (n_vecs / n_clusters_multi / n_dropped value-checked by the DuckDB
    recursive-closure oracle; precision / kept-recall / kept-Jaccard
    booleans with documented floors). Readout is bounded; both forms
    stay fully distributed."""
    # the exact quadratic edge set feeds the member census, the
    # kept-set derivation AND the precision diff
    exact_edges = materialize.persist(
        sim.embedding_dup_pairs(emb, threshold=0.4, exact=True).select(
            "a_id", "b_id"
        )
    )
    n_vecs = emb.count()
    members = (
        exact_edges.select(F.col("a_id").alias("id"))
        .union(exact_edges.select("b_id"))
        .distinct()
        .count()
    )
    kept_exact = materialize.persist(_semantic_kept_ids(emb, exact_edges))
    kept_scale = materialize.persist(_semantic_kept_ids(emb, scale_edges))
    n_kept_exact = kept_exact.count()
    n_kept_scale = kept_scale.count()
    n_dropped = n_vecs - n_kept_exact
    n_clusters_multi = members - n_dropped
    scale_only_edges = multiset_diff(scale_edges, exact_edges)[0]
    inter = kept_exact.join(kept_scale, "kept_id", "semi").count()
    union = n_kept_exact + n_kept_scale - inter
    return spark.createDataFrame(
        [
            (
                n_vecs,
                n_clusters_multi,
                n_dropped,
                scale_only_edges == 0,
                # vacuously true on an empty corpus (no kept set to
                # recall — r10 empty sweep)
                n_kept_exact == 0
                or inter * 100.0 / n_kept_exact >= 90.0,
                union == 0 or inter * 100.0 / union >= 85.0,
            )
        ],
        "n_vecs long, n_clusters_multi long, n_dropped long,"
        " precision_ok boolean, kept_recall_ok boolean,"
        " kept_jaccard_ok boolean",
    )


_SEMANTIC_KEEP_BEST_ORACLE = f"""
    WITH RECURSIVE
    n AS (
      -- identity grain: replays resolve before the edge algebra
      -- (r11 duplicates sweep)
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
             sqrt(list_sum(list_transform(embedding,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
      FROM {_RESOLVED_EMB_SQL} WHERE {_VALID_VEC_SQL}
    ),
    e AS (
      SELECT a.vec_id AS a_id, b.vec_id AS b_id
      FROM n a JOIN n b ON a.vec_id < b.vec_id
      WHERE list_sum(list_transform(generate_series(1, len(a.v)),
            i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm) >= 0.4
    ),
    sym AS (SELECT a_id AS src, b_id AS dst FROM e
            UNION SELECT b_id, a_id FROM e),
    closure(src, dst) AS (
      SELECT src, dst FROM sym
      UNION
      SELECT cl.src, s.dst FROM closure cl JOIN sym s ON cl.dst = s.src
    ),
    members AS (SELECT DISTINCT src AS vec_id FROM sym),
    reps AS (
      SELECT m.vec_id, LEAST(m.vec_id, MIN(cl.dst)) AS rep
      FROM members m JOIN closure cl ON cl.src = m.vec_id
      GROUP BY m.vec_id
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM {_RESOLVED_EMB_SQL}) AS n_vecs,
           CAST(COUNT(DISTINCT rep) AS BIGINT)               AS n_clusters_multi,
           CAST(COUNT(*) - COUNT(DISTINCT rep) AS BIGINT)    AS n_dropped,
           TRUE AS precision_ok,
           TRUE AS kept_recall_ok,
           TRUE AS kept_jaccard_ok
    FROM reps
    """


@register("semantic_dedup_keep_best", oracle=_SEMANTIC_KEEP_BEST_ORACLE)
def semantic_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC dedup over the embedding column with cluster-level
    keep-best (round-8 slate pulled forward) — the vector-space sibling
    of ``dedup_keep_best_equivalence``: near-dup edges are cosine ≥ 0.4
    pairs, clusters are pointer-jumping connected components, and the
    canonical vector per cluster is the max-L2-norm member (vec_id
    tie-break). Runs BOTH edge algebras through the same downstream:

    * scale path — multi-table-LSH-bucketed candidates, exact-scored
      (``operators.similarity.embedding_dup_pairs(exact=False)``): the
      form a 100 TB user deploys; pair space Σ bucket² not n²;
    * exact baseline — the brute-force self-join the DuckDB oracle can
      recompute independently (recursive closure over the exact pair
      set value-checks n_vecs / n_clusters_multi / n_dropped).

    The three booleans certify the scale path at this operating point
    with MARGIN, not at the cliff edge: candidate precision is 1.0 by
    construction (exact re-scoring; measured scale-only edge count 0 at
    both check SFs), kept-set recall ≥ 90 % (measured 100 % at both),
    kept-set Jaccard ≥ 85 % (measured 96-97 % — missing LSH edges can
    only SPLIT clusters, so the scale path keeps strict supersets,
    never drops a canonical vector). Readout is bounded (6 scalars);
    both forms stay fully distributed."""
    # identity grain: vec_id replays resolve first (r11 duplicates
    # sweep; deterministic content-total winner)
    emb = dd.resolve_replays(
        load_tables(spark, sf_dir, "embeddings")["embeddings"], ["vec_id"]
    )
    scale_edges = sim.embedding_dup_pairs(
        emb, threshold=0.4, exact=False
    ).select("a_id", "b_id")
    return _semantic_keep_best_audit(spark, emb, scale_edges)


@register("semantic_dedup_ivf_keep_best", oracle=_SEMANTIC_KEEP_BEST_ORACLE)
def semantic_dedup_ivf_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC keep-best dedup with the IVF (coarse-quantizer)
    candidate algebra (round-8 slate pulled forward — the last
    LLM-depth item): identical contract and downstream to
    ``semantic_dedup_keep_best``, but near-dup candidate edges come
    from co-residence in k-means Voronoi cells
    (``operators.similarity.embedding_dup_pairs_ivf``: n_lists=8,
    soft-assign 3 — pair recall compounds per endpoint, so assignment
    is heavier than the ANN index's) instead of random-hyperplane LSH
    buckets. Same exact-baseline audit, same DuckDB recursive-closure
    oracle (the exact values don't depend on the candidate algebra):
    candidate precision 1.0 by construction (exact re-scoring; measured
    scale-only edge count 0 at both check SFs), kept-recall floor 90 %
    and kept-Jaccard floor 85 % — measured edge recall 1.000 (sf0.001)
    / 0.983 (sf0.01), so both kept-set metrics sit at 100 %/≥96 % with
    wide margin.

    Why a second algebra: IVF cells are DATA-ADAPTIVE (k-means tracks
    the corpus's cluster structure where fixed hyperplanes split
    clusters), the centroid matrix is shared with the ANN index
    (``train_ivf_centroids`` — one trained structure, two operators),
    and at 100 TB a corpus *written* partitioned by cell id turns edge
    generation into per-partition local joins with zero shuffle of
    vector bodies."""
    # identity grain: vec_id replays resolve first (r11 duplicates
    # sweep; deterministic content-total winner)
    emb = dd.resolve_replays(
        load_tables(spark, sf_dir, "embeddings")["embeddings"], ["vec_id"]
    )
    scale_edges = sim.embedding_dup_pairs_ivf(emb, threshold=0.4).select(
        "a_id", "b_id"
    )
    return _semantic_keep_best_audit(spark, emb, scale_edges)


@register(
    "label_feature_corr",
    oracle=f"""
    -- a non-finite vector has no measurable norm: one NaN/Inf row
    -- would poison the label's corr/covar (and DuckDB's STDDEV
    -- aborts on Inf) — quarantined on both sides (r11 extremes sweep)
    WITH feat AS (
      SELECT d.doc_id,
             e.label,
             CAST(len(list_filter(string_split_regex(d.text, '\\s+'),
                                  t -> t <> '')) AS BIGINT) AS n_tokens,
             sqrt(list_sum(list_transform(e.embedding,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS norm
      FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
      WHERE {_FINITE_VEC_SQL}
    )
    SELECT label,
           CAST(COUNT(*) AS BIGINT)                 AS n,
           ROUND(CORR(n_tokens, norm), 6) + 0.0     AS tokens_norm_corr,
           ROUND(COVAR_SAMP(n_tokens, norm), 6) + 0.0 AS tokens_norm_covar,
           ROUND(STDDEV_SAMP(norm), 6) + 0.0        AS norm_stddev
    FROM feat GROUP BY label
    """,
)
def label_feature_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal feature audit: per-label Pearson correlation (and
    sample covariance / stddev) between a document's token count and
    its embedding's L2 norm — the drift check a curation pipeline
    runs to catch embedding/text mismatches after re-embedding. All
    statistical aggregates are Spark's native partial-mergeable
    corr/covar/stddev — one narrow join (ids + one double per row,
    embeddings reduced to their norm BEFORE the shuffle), one hash
    agg; no vector ever crosses the exchange."""
    t = load_tables(spark, sf_dir, "documents", "embeddings")
    norm = F.sqrt(
        F.aggregate(
            F.transform("embedding", lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    # non-finite vectors have no measurable norm (r11 extremes sweep)
    emb = (
        t["embeddings"]
        .filter(sim.finite_vectors("embedding"))
        .select("vec_id", "label", norm.alias("norm"))
    )
    docs = t["documents"].select(
        "doc_id", F.size(tx.tokens("text")).cast("long").alias("n_tokens")
    )
    return (
        docs.join(emb, docs.doc_id == emb.vec_id)
        .groupBy("label")
        .agg(
            F.count("*").alias("n"),
            # + 0.0 kills negative zero: a covar/corr of ~-1e-9 rounds
            # to -0.0 in DuckDB but +0.0 here, and a value-hash over the
            # formatted doubles would split on the sign bit.
            (F.round(F.corr("n_tokens", "norm"), 6) + F.lit(0.0)).alias(
                "tokens_norm_corr"
            ),
            (F.round(F.covar_samp("n_tokens", "norm"), 6) + F.lit(0.0)).alias(
                "tokens_norm_covar"
            ),
            (F.round(F.stddev_samp("norm"), 6) + F.lit(0.0)).alias("norm_stddev"),
        )
    )


_PRIORITY_SAMPLE_ORACLE = f"""
    WITH s AS (
      SELECT doc_id, CAST(n_chars AS BIGINT) AS weight,
             ((doc_id % 2147483648) * 2654435761) % 4294967296 AS h
      FROM documents
    )
    SELECT doc_id, weight,
           -- per-row int-derived ratio: decimal-string round (r12
           -- ROUND-tie convention)
           {round_double_sql("weight * 4294967297.0 / (h + 1)", 4)} AS priority
    FROM s
    ORDER BY weight * 4294967297.0 / (h + 1) DESC, doc_id
    LIMIT 100
"""


@register("weighted_doc_sample", oracle=_PRIORITY_SAMPLE_ORACLE)
def weighted_doc_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-weighted document sample via priority sampling
    (operators/mixing.priority_sample): top-100 priorities q = w/u
    with u an arithmetic id-hash, so the sample is deterministic,
    re-runnable, and bit-for-bit oracle-checkable — DuckDB recomputes
    every priority and the exact top-k. The corpus-curation use: pick
    a review sample biased toward long documents without any RNG
    state to coordinate across a 1000-executor cluster."""
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    return mx.priority_sample(docs, "doc_id", "n_chars", k=100)


# -- corpus-level language-model quality filtering ---------------------------

@register(
    "doc_perplexity_filter",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    wc  AS (SELECT w, COUNT(*) AS c FROM tok GROUP BY w),
    tot AS (SELECT SUM(c) AS t FROM wc),
    lp  AS (SELECT w, ln(c * 1e0 / t) AS logp FROM wc, tot),
    pd  AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT)  AS n_tokens,
             ROUND(-AVG(logp), 4)      AS cross_entropy
      FROM tok JOIN lp USING (w) GROUP BY doc_id
    ),
    thr AS (SELECT ROUND(AVG(cross_entropy), 4) AS mean_ce FROM pd)
    SELECT doc_id, n_tokens, cross_entropy,
           cross_entropy <= mean_ce AS keep
    FROM pd, thr
    """,
)
def doc_perplexity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style unigram language-model quality gate: fit a unigram
    LM on the corpus itself (one token-count aggregation), score every
    document by its per-token cross-entropy under that LM, and keep
    the documents at or below the corpus-mean cross-entropy — the
    classic "perplexity filter" used to drop boilerplate/gibberish
    before LLM pretraining.

    Scale shape: one explode + hash-agg builds the vocabulary
    (vocab-sized, tiny relative to the corpus), which is broadcast
    back onto the token stream — the corpus text itself is never
    shuffled, only (doc_id, token) pairs reduced per doc. The global
    mean threshold is a 1-row aggregate broadcast via crossJoin (same
    pattern as operators/profile.py). Per-doc entropies are rounded
    to 4dp on both engines before the threshold comparison so a
    last-ulp summation-order difference cannot flip `keep`.

    Reference has no text ops (main.py is connector-only); this is a
    north-star LLM-pipeline operator per the build charter."""
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    # the vocab counts feed the total and the log-prob table, and the
    # per-doc entropies feed the threshold and the output — left lazy,
    # each consumer replayed the token explode (≈5 corpus passes in
    # one plan). Materialize the two SMALL aggregated frames once
    # (vocab-sized and doc-sized; eager checkpoint); the token stream
    # then runs exactly twice — once to count, once to score (r13
    # optimization, guide §5). The vocab broadcast join now lives in
    # the materialization pass — asserted there by
    # scripts/gen_plans.py PRE_AUDITS.
    wc = tok.groupBy("w").agg(F.count("*").alias("c")).transform(materialize.checkpoint)
    tot = wc.agg(F.sum("c").alias("t"))
    lp = wc.join(F.broadcast(tot)).select(
        "w", F.log(F.col("c") / F.col("t")).alias("logp")
    )
    per_doc = (
        tok.join(F.broadcast(lp), "w")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(-F.avg("logp"), 4).alias("cross_entropy"),
        )
    ).transform(materialize.checkpoint)
    thr = per_doc.agg(F.round(F.avg("cross_entropy"), 4).alias("mean_ce"))
    return per_doc.join(F.broadcast(thr)).select(
        "doc_id",
        "n_tokens",
        "cross_entropy",
        (F.col("cross_entropy") <= F.col("mean_ce")).alias("keep"),
    )


@register(
    "bpe_merge_step",
    oracle="""
    WITH w AS (SELECT string_split(text, ' ') AS ws FROM documents),
    n AS (SELECT ws, len(ws) AS m FROM w WHERE len(ws) >= 2),
    p AS (SELECT unnest(ws[1:m-1]) AS a, unnest(ws[2:m]) AS b FROM n)
    SELECT a, b, CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM p GROUP BY a, b
    ORDER BY n_pairs DESC, a, b
    LIMIT 20
    """,
)
def bpe_merge_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE-training merge step at word granularity: count every
    adjacent token pair across the corpus and emit the top-20 merge
    candidates (count desc, then lexicographic — fully deterministic).
    Iterating this query IS byte-pair-encoding vocabulary induction;
    one step exercises the whole distributed shape.

    Scale shape: the pair stream is generated map-side with
    `transform(sequence(...))` over the pre-split token array (no
    self-join, no shuffle of text — only (a, b) pair keys reduce), and
    the final top-20 is TakeOrderedAndProject, not a global sort."""
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    pairs = (
        docs.select(F.split("text", " ").alias("ws"))
        .where(F.size("ws") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(0, size(ws) - 2),"
                    " i -> struct(ws[i] AS a, ws[i + 1] AS b))"
                )
            ).alias("p")
        )
        .select("p.a", "p.b")
    )
    return (
        pairs.groupBy("a", "b")
        .agg(F.count("*").alias("n_pairs"))
        .orderBy(F.col("n_pairs").desc(), "a", "b")
        .limit(20)
    )


# -- distributed linear algebra over the embedding column --------------------

@register(
    "embedding_covariance_probe",
    oracle=f"""
    WITH v AS (
      -- identity grain: replays resolve first (r11 duplicates sweep)
      SELECT vec_id,
             unnest(embedding)::DOUBLE AS x,
             unnest(range(0, len(embedding))) AS i
      FROM {_RESOLVED_EMB_SQL} WHERE {_FINITE_VEC_SQL}
    ),
    s AS (SELECT i, SUM(x) AS s, COUNT(*) AS n FROM v GROUP BY i),
    diag AS (SELECT i, SUM(x * x) AS gii FROM v GROUP BY i),
    pair AS (
      SELECT a.i, SUM(a.x * b.x) AS gij
      FROM v a JOIN v b
        ON a.vec_id = b.vec_id AND b.i = (a.i + 1) % 64
      GROUP BY a.i
    )
    SELECT CAST(s.i AS INT) AS dim,
           ROUND(d.gii / s.n - (s.s / s.n) * (s.s / s.n), 6)   AS variance,
           ROUND(p.gij / s.n - (s.s / s.n) * (s2.s / s2.n), 6) AS cov_next
    FROM s
    JOIN diag d ON d.i = s.i
    JOIN pair p ON p.i = s.i
    JOIN s s2   ON s2.i = (s.i + 1) % 64
    """,
)
def embedding_covariance_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed covariance via mergeable Gram partials: every Arrow
    batch reduces to one fixed-size (n, Σx, XᵀX) row — O(d²) state
    independent of row count, the MLlib computeGramianMatrix shape —
    and the partials merge in a tiny posexplode reduce. The probe
    emits per-dimension population variance plus the covariance with
    the (cyclically) next dimension, 6dp-rounded; DuckDB recomputes
    every entry from the raw vectors, so the whole moments pipeline
    hash-checks. 100 TB shape: the vectors are read once, map-only;
    only #batches × O(d²) partial rows ever shuffle."""
    from ..operators import linalg as la

    # identity grain: vec_id replays resolve first (r11 duplicates
    # sweep; deterministic content-total winner)
    emb = dd.resolve_replays(
        load_tables(spark, sf_dir, "embeddings")["embeddings"], ["vec_id"]
    )
    return la.covariance_probe(emb, "embedding", dim=64)


@register(
    "embedding_pca_audit",
    oracle=f"""
    WITH fin AS (SELECT embedding FROM embeddings WHERE {_FINITE_VEC_SQL}),
    v AS (
      SELECT unnest(embedding)::DOUBLE AS x,
             unnest(range(0, len(embedding))) AS i
      FROM fin
    ),
    d AS (
      SELECT i,
             SUM(x * x) / COUNT(*)
             - (SUM(x) / COUNT(*)) * (SUM(x) / COUNT(*)) AS var
      FROM v GROUP BY i
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM fin) AS n_vectors,
           ROUND(SUM(var), 6) AS total_variance,
           TRUE AS topk_share_in_unit_range,
           TRUE AS eigh_residual_ok,
           TRUE AS recon_matches_tail
    FROM d
    """,
)
def embedding_pca_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA over the corpus embeddings with an end-to-end audit row
    (same audit pattern as the sketch queries): DuckDB recomputes the
    exact total variance (trace of the population covariance) from the
    raw vectors; the engine computes the trace through its distributed
    Gram-partial path AND pins three genuinely-computed booleans —
    top-8 variance share in (0,1] with a PSD spectrum, eigh residual
    ‖Cv−λv‖∞ ≤ 1e-8·trace, and the Eckart–Young identity: the
    DISTRIBUTED mean squared reconstruction residual after projecting
    onto the top-8 components (map-only pass, d×8 basis broadcast)
    equals the eigenvalue tail sum within 1e-6·trace. The d×d
    eigendecomposition is a bounded readout (64×64, set by the
    declared dimension, never the data)."""
    from ..operators import linalg as la

    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    return la.pca_audit(emb, "embedding", dim=64, k=8)


# -- UDAF / UDTF surface (SURVEY §2.8) ---------------------------------------

@register(
    "lang_quality_geomean",
    oracle="""
    -- an untagged (NULL lang) doc is not a language group: the
    -- engine's join-on-group-key shape drops the NULL key (SQL
    -- equality), so both sides filter it explicitly (r11 nulls sweep)
    -- and a zero-length doc has no log-length: ln(0) is undefined
    -- (DuckDB aborts, numpy saturates to -inf → geomean 0), so the
    -- geomean is over measurable docs only (r11 extremes sweep)
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(EXP(AVG(LN(n_chars))), 4) AS geomean_chars
    FROM documents WHERE lang IS NOT NULL AND n_chars > 0 GROUP BY lang
    """,
)
def lang_quality_geomean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometric-mean document length per language via a VECTORIZED
    pandas UDAF (`pandas_udf` GROUPED_AGG) — the §2.8 aggregate-UDF
    surface exercised for real: the log-mean-exp runs on Arrow
    batches in numpy, and Spark partial-merges groups across
    partitions exactly like a built-in aggregate. The oracle is the
    algebraic identity exp(avg(ln(x))). Geometric means are the
    standard way to summarize heavy-tailed length/quality
    distributions (arithmetic means are outlier-dominated)."""
    import numpy as np
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    # functionType passed explicitly: this module uses postponed
    # annotation evaluation (``from __future__ import annotations``),
    # which turns the (Series -> float) hints pandas_udf would infer
    # GROUPED_AGG from into plain strings it refuses.
    @pandas_udf("double", PandasUDFType.GROUPED_AGG)
    def log_mean(v):
        return float(np.log(v.to_numpy(dtype=np.float64)).mean())

    # NULL lang is not a language group (and the broadcast join back
    # on the group key would drop it silently anyway; r11 nulls sweep)
    # ... and a zero-length doc has no log-length (ln(0) undefined):
    # the geomean is over measurable docs only (r11 extremes sweep)
    docs = load_tables(spark, sf_dir, "documents")["documents"].filter(
        F.col("lang").isNotNull() & (F.col("n_chars") > 0)
    )
    # Spark disallows mixing a grouped-agg pandas UDF with built-in
    # aggregates in one Aggregate; the count rides a separate (tiny,
    # lang-sized) agg joined back broadcast.
    gm = docs.groupBy("lang").agg(
        F.round(F.exp(log_mean(F.col("n_chars"))), 4).alias("geomean_chars")
    )
    counts = docs.groupBy("lang").agg(F.count("*").alias("n_docs"))
    return gm.join(F.broadcast(counts), "lang").select(
        "lang", "n_docs", "geomean_chars"
    )


@register(
    "doc_stride_spans",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             len(list_filter(string_split_regex(text, '\\s+'),
                             t -> t <> '')) AS n_tokens
      FROM documents
    )
    SELECT doc_id,
           CAST(g AS BIGINT)                               AS span_idx,
           CAST(g * 60 AS BIGINT)                          AS start_tok,
           CAST(LEAST(g * 60 + 100, n_tokens) AS BIGINT)   AS end_tok
    FROM toks, LATERAL (
      SELECT unnest(range(0, CAST(CEIL(GREATEST(n_tokens - 100, 0) / 60e0)
                                  AS BIGINT) + 1)) AS g
    )
    WHERE n_tokens > 0
    """,
)
def doc_stride_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window span manifest (window=100 tokens, stride=60)
    per document via a Spark 4 PYTHON UDTF in a SQL LATERAL join —
    the §2.8 table-function surface exercised for real: one input row
    fans out to a variable number of output rows computed in Python.
    Spans are the retrieval-chunking layout (overlapping windows);
    the last span is clipped to the token count. The UDTF path is
    deliberately confined to this bounded fan-out (the bulk chunker
    is the codegen'd `doc_chunks`); at 100 TB the same plan shape
    holds because the UDTF is map-side — no shuffle crosses it."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="span_idx bigint, start_tok bigint, end_tok bigint")
    class StrideSpans:
        def eval(self, n_tokens: int):
            if n_tokens is None or n_tokens <= 0:
                return
            start = 0
            idx = 0
            while True:
                yield idx, start, min(start + 100, n_tokens)
                if start + 100 >= n_tokens:
                    break
                start += 60
                idx += 1

    spark.udtf.register("stride_spans", StrideSpans)
    load_tables(spark, sf_dir, "documents")
    return spark.sql(
        """
        WITH toks AS (
          SELECT doc_id,
                 size(filter(split(text, '\\\\s+'), t -> t <> '')) AS n_tokens
          FROM documents
        )
        SELECT doc_id, s.span_idx, s.start_tok, s.end_tok
        FROM toks, LATERAL stride_spans(n_tokens) s
        WHERE n_tokens > 0
        """
    )


@register(
    "source_drift_audit",
    oracle="""
    WITH lim AS (
      SELECT MIN(n_chars)::DOUBLE AS lo, MAX(n_chars)::DOUBLE AS hi
      FROM documents
    ),
    b AS (
      SELECT source,
             LEAST(CAST(FLOOR((n_chars - lo) / (hi - lo) * 10) AS BIGINT), 9)
               AS bucket
      FROM documents, lim
    ),
    per AS (
      SELECT source, bucket, COUNT(*) AS c FROM b GROUP BY source, bucket
    ),
    tot AS (SELECT source, SUM(c) AS t FROM per GROUP BY source),
    p AS (
      SELECT per.source, per.bucket, per.c * 1e0 / tot.t AS p
      FROM per JOIN tot ON per.source = tot.source
    ),
    base AS (SELECT bucket, p AS p0 FROM p WHERE source = 'src0'),
    grid AS (
      SELECT s.source, g.bucket
      FROM (SELECT DISTINCT source FROM documents) s
      CROSS JOIN (SELECT unnest(range(0, 10)) AS bucket) g
    )
    SELECT grid.source,
           ROUND(0.5e0 * SUM(ABS(COALESCE(p.p, 0) - COALESCE(base.p0, 0))), 6)
             AS tv_distance
    FROM grid
    LEFT JOIN p    ON p.source = grid.source AND p.bucket = grid.bucket
    LEFT JOIN base ON base.bucket = grid.bucket
    WHERE grid.source <> 'src0'
    GROUP BY grid.source
    """,
)
def source_drift_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift detection between corpus slices: the total-
    variation distance between each source's document-length histogram
    and the reference source (`src0`) over a shared 10-bucket
    equi-width grid — the monitoring primitive that catches a crawl
    snapshot or pipeline change shifting the data before it poisons
    training. TV = ½·Σ|p−q| over the SAME bucket grid on both sides;
    the grid is densified (source × bucket cross of two tiny frames)
    so missing buckets count their full mass.

    Scale shape: global min/max is a 1-row broadcast; bucketing is
    map-side arithmetic; everything after the per-(source, bucket)
    count operates on a grid-sized (≤ sources×10) frame."""
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    lim = docs.agg(
        F.min("n_chars").cast("double").alias("lo"),
        F.max("n_chars").cast("double").alias("hi"),
    )
    b = docs.join(F.broadcast(lim)).select(
        "source",
        F.least(
            F.floor((F.col("n_chars") - F.col("lo")) / (F.col("hi") - F.col("lo")) * 10)
            .cast("bigint"),
            F.lit(9),
        ).alias("bucket"),
    )
    per = b.groupBy("source", "bucket").agg(F.count("*").alias("c"))
    tot = per.groupBy("source").agg(F.sum("c").alias("t"))
    p = per.join(tot, "source").select(
        "source", "bucket", (F.col("c") / F.col("t")).alias("p")
    )
    base = p.where(F.col("source") == "src0").select(
        "bucket", F.col("p").alias("p0")
    )
    grid = (
        docs.select("source")
        .distinct()
        .crossJoin(spark.range(10).select(F.col("id").alias("bucket")))
    )
    return (
        grid.join(F.broadcast(p), ["source", "bucket"], "left")
        .join(F.broadcast(base), "bucket", "left")
        .where(F.col("source") != "src0")
        .groupBy("source")
        .agg(
            F.round(
                0.5
                * F.sum(
                    F.abs(
                        F.coalesce(F.col("p"), F.lit(0.0))
                        - F.coalesce(F.col("p0"), F.lit(0.0))
                    )
                ),
                6,
            ).alias("tv_distance")
        )
    )


@register(
    "gopher_quality_filter",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\\s+'), w -> w <> '') AS ws,
             length(text) AS nc
      FROM documents
    ),
    -- per-row integer-count ratios: decimal-string rounds (r12
    -- ROUND-tie convention, integrity.round_double_sql)
    m AS (
      SELECT doc_id,
             CAST(len(ws) AS BIGINT) AS n_words,
             {round_double_sql("nc * 1e0 / len(ws)", 4)} AS mean_word_len,
             {round_double_sql("len(list_filter(ws, w -> w IN ('the','a','of','to','and','in','is','that','for','it'))) * 1e0 / len(ws)", 4)} AS stopword_ratio,
             {round_double_sql("len(list_filter(ws, w -> regexp_matches(w, '^[0-9]+$'))) * 1e0 / len(ws)", 4)} AS digit_word_ratio
      FROM t WHERE len(ws) > 0
    )
    SELECT doc_id, n_words, mean_word_len, stopword_ratio, digit_word_ratio,
           (n_words BETWEEN 50 AND 100000
            AND mean_word_len BETWEEN 2.0 AND 10.0
            AND digit_word_ratio <= 0.2) AS keep
    FROM m
    """,
)
def gopher_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style rule-based quality gate: per-document word
    count, mean word length, stopword ratio and digit-word ratio, and
    the composite keep decision (word count in [50, 1e5], mean word
    length in [2, 10], ≤20% digit words) — the standard cheap filter
    pass run over a raw crawl before any model-based scoring. Entirely
    codegen'd expressions (split/filter/length), map-only: no shuffle,
    no Python. Ratios are 4dp-rounded on both engines; the keep
    decision compares the same rounded values so a last-ulp division
    difference cannot flip it."""
    from ..operators.exprs import let

    docs = load_tables(spark, sf_dir, "documents")["documents"]
    ws = F.expr("filter(split(text, '\\\\s+'), w -> w <> '')")
    stopwords = ("the", "a", "of", "to", "and", "in", "is", "that", "for", "it")
    # let-bind the token array (operators/exprs.let): the unbound form
    # re-split the document SIX times per row (each stat's numerator
    # and denominator) — measured 3.0× on the 100× stress corpus
    # (10.4 s → 3.5 s at ~sf10).
    st = let(
        ws,
        lambda w: F.struct(
            F.size(w).cast("bigint").alias("n_words"),
            F.size(F.filter(w, lambda t: t.isin(*stopwords))).alias("n_stop"),
            F.size(F.filter(w, lambda t: t.rlike("^[0-9]+$"))).alias("n_digit"),
        ),
    )
    m = (
        docs.select("doc_id", F.length("text").alias("_len"), st.alias("_st"))
        .select(
            "doc_id",
            F.col("_st.n_words").alias("n_words"),
            F.round(F.col("_len") / F.col("_st.n_words"), 4).alias("mean_word_len"),
            F.round(F.col("_st.n_stop") / F.col("_st.n_words"), 4).alias(
                "stopword_ratio"
            ),
            F.round(F.col("_st.n_digit") / F.col("_st.n_words"), 4).alias(
                "digit_word_ratio"
            ),
        )
        .where(F.col("n_words") > 0)
    )
    return m.select(
        "*",
        (
            F.col("n_words").between(50, 100000)
            & F.col("mean_word_len").between(2.0, 10.0)
            & (F.col("digit_word_ratio") <= 0.2)
        ).alias("keep"),
    )


@register(
    "compression_ratio_signal",
    oracle="""
    SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
           CASE WHEN text IS NOT NULL THEN TRUE
                WHEN n_chars < 64 THEN TRUE END AS ratio_in_bounds,
           CASE WHEN text IS NOT NULL THEN TRUE END AS ratio_consistent
    FROM documents
    """,
)
def compression_ratio_signal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """zlib compression ratio per document — the classic redundancy
    signal (highly compressible ⇒ boilerplate/repetitive, barely
    compressible ⇒ noise/binary junk; both tails get dropped before
    training). Computed in an Arrow-batched pandas UDF with stdlib
    zlib at a fixed level (deterministic bytes → deterministic
    ratio). DuckDB cannot run zlib, so this is an audit oracle (same
    pattern as the sketch queries): per-doc n_chars hash-checks
    exactly, and the engine pins two genuinely-computed booleans —
    ratio ∈ (0.01, 1.5] (sane for text) and ratio · n_chars ==
    compressed size recomputed a second time (determinism probe)."""
    import zlib

    from pyspark.sql.functions import pandas_udf

    # no type hints on purpose: this module's postponed annotation
    # evaluation turns them into strings pandas_udf can't infer from
    # (same constraint as lang_quality_geomean's GROUPED_AGG)
    @pandas_udf("double")
    def ratio(s):
        # NULL payload → NULL ratio (never crash): corrupt/absent text
        # is routine dirty data at 100 TB scale. Nullable Float64 so
        # Arrow carries a true null back, not NaN.
        def f(t):
            if t is None or not isinstance(t, str):
                return None
            return len(zlib.compress(t.encode("utf-8"), 6)) / max(len(t), 1)

        return s.map(f).astype("Float64")

    docs = load_tables(spark, sf_dir, "documents")["documents"]
    out = docs.select(
        "doc_id",
        F.col("n_chars").cast("bigint").alias("n_chars"),
        ratio(F.col("text")).alias("r1"),
        ratio(F.col("text")).alias("r2"),
    )
    # The upper bound only means "sane for text" once the document is
    # long enough to amortize zlib's fixed ~11-byte header+dictionary
    # overhead; under ~25 chars the ratio legitimately exceeds 1.5, so
    # the check is gated to docs of ≥64 chars (ADVICE r3: without the
    # gate the audit boolean is data-dependent and a short-doc fixture
    # row would flip it).
    return out.select(
        "doc_id",
        "n_chars",
        (
            (F.col("n_chars") < 64)
            | ((F.col("r1") > 0.01) & (F.col("r1") <= 1.5))
        ).alias("ratio_in_bounds"),
        (F.col("r1") == F.col("r2")).alias("ratio_consistent"),
    )


@register(
    "pq_quantization_audit",
    oracle=f"""
    WITH val AS (SELECT embedding FROM embeddings WHERE {_VALID_VEC_SQL}),
    v AS (SELECT unnest(embedding)::DOUBLE AS x FROM val)
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM val) AS n_vectors,
           ROUND(AVG(x * x), 6) AS mean_component_energy,
           TRUE AS distortion_positive,
           TRUE AS distortion_below_energy,
           TRUE AS codes_in_range
    FROM v
    """,
)
def pq_quantization_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization audit (operators/similarity.pq_audit):
    8 subspaces × 16 centroids → 32× compression with distortion
    measured DISTRIBUTED over the full corpus; DuckDB recomputes the
    exact per-component energy baseline and pins the
    genuinely-engine-computed distortion/code-range booleans. The PQ
    codes complete the ANN family: IVF prunes the probe set, PQ
    shrinks the resident index (IVF-PQ is the standard pairing)."""
    from ..operators import similarity as sim

    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    return sim.pq_audit(emb, "embedding", dim=64, m=8, k=16)


@register(
    "incremental_dedup_new_docs",
    oracle="""
    WITH hist AS (
      SELECT DISTINCT sha256(text) AS fp FROM documents WHERE doc_id < 400
    ),
    arriving AS (
      SELECT doc_id, sha256(text) AS fp FROM documents WHERE doc_id >= 400
    ),
    in_batch AS (
      SELECT doc_id, fp,
             ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
      FROM arriving
    )
    SELECT b.doc_id,
           (h.fp IS NOT NULL)           AS dup_of_history,
           (b.rn > 1)                   AS dup_within_batch,
           (h.fp IS NULL AND b.rn = 1)  AS keep
    FROM in_batch b LEFT JOIN hist h ON b.fp = h.fp
    """,
)
def incremental_dedup_new_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup — the daily-pipeline shape: an
    arriving batch (doc_id ≥ 400 stands in for today's crawl) is
    deduplicated BOTH against the historical fingerprint store
    (doc_id < 400) and within itself (first-by-id wins), emitting the
    keep/duplicate disposition per arriving document. This is how
    exact dedup actually runs in production: the corpus is never
    re-deduplicated from scratch; only fingerprints persist.

    Scale shape: history contributes nothing but DISTINCT 32-byte
    fingerprints (the store a 100 TB corpus maintains as a compact
    table); the batch-vs-history check is an equi left join on the
    digest, and within-batch dedup is one row_number window keyed by
    the digest — document text never shuffles anywhere."""
    from pyspark.sql.window import Window as W

    docs = load_tables(spark, sf_dir, "documents")["documents"]
    hist = (
        docs.where(F.col("doc_id") < 400)
        .select(F.sha2("text", 256).alias("fp"))
        .distinct()
        .withColumn("in_hist", F.lit(True))
    )
    arriving = docs.where(F.col("doc_id") >= 400).select(
        "doc_id", F.sha2("text", 256).alias("fp")
    )
    rn = F.row_number().over(W.partitionBy("fp").orderBy("doc_id"))
    b = arriving.withColumn("rn", rn)
    return b.join(hist, "fp", "left").select(
        "doc_id",
        F.coalesce(F.col("in_hist"), F.lit(False)).alias("dup_of_history"),
        (F.col("rn") > 1).alias("dup_within_batch"),
        (F.col("in_hist").isNull() & (F.col("rn") == 1)).alias("keep"),
    )


@register(
    "vocab_coverage_stats",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    vocab AS (
      SELECT w FROM (
        SELECT w, COUNT(*) AS c FROM tok GROUP BY w
        ORDER BY c DESC, w LIMIT 100
      )
    )
    -- COUNT ratios are exact-integer-derived, bit-identical doubles:
    -- decimal-string rounds (r12 ROUND-tie convention)
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT)                          AS n_tokens,
           CAST(COUNT(v.w) AS BIGINT)                        AS in_vocab,
           {round_double_sql("COUNT(v.w) * 1e0 / COUNT(*)", 4)}            AS coverage,
           {round_double_sql("1e0 - COUNT(v.w) * 1e0 / COUNT(*)", 4)}            AS oov_rate
    FROM tok t LEFT JOIN vocab v ON t.w = v.w
    GROUP BY t.doc_id
    """,
)
def vocab_coverage_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-application coverage — the audit run after freezing
    a tokenizer vocabulary: induce the top-100 vocabulary from the
    corpus (count desc, lexicographic tie-break — fully
    deterministic), then score every document's in-vocab coverage and
    OOV rate. High OOV flags documents the tokenizer will shred into
    bytes (code, other languages, mojibake) — a routine pre-training
    triage signal.

    Scale shape: the vocabulary is one token hash-agg + top-k
    (TakeOrderedAndProject) and is broadcast back onto the token
    stream as a left join; per-doc stats reduce on doc_id. The corpus
    text never shuffles — identical plan skeleton to the perplexity
    filter, so the LM-scoring family shares its physical shape."""
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    vocab = (
        tok.groupBy("w")
        .agg(F.count("*").alias("c"))
        .orderBy(F.col("c").desc(), "w")
        .limit(100)
        .select("w", F.lit(True).alias("in_v"))
    )
    return (
        tok.join(F.broadcast(vocab), "w", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.count("in_v").alias("in_vocab"),
            F.round(F.count("in_v") / F.count("*"), 4).alias("coverage"),
            F.round(F.lit(1.0) - F.count("in_v") / F.count("*"), 4).alias(
                "oov_rate"
            ),
        )
    )


@register(
    "doc_bigram_perplexity",
    oracle="""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    n AS (SELECT doc_id, ws, len(ws) AS m FROM w WHERE len(ws) >= 2),
    bg AS (
      SELECT doc_id, unnest(ws[1:m-1]) AS a, unnest(ws[2:m]) AS b FROM n
    ),
    uni AS (
      SELECT a, COUNT(*) AS c1 FROM bg GROUP BY a
    ),
    bi AS (
      SELECT a, b, COUNT(*) AS c12 FROM bg GROUP BY a, b
    ),
    lp AS (
      SELECT bi.a, bi.b, ln(bi.c12 * 1e0 / uni.c1) AS logp
      FROM bi JOIN uni ON bi.a = uni.a
    )
    SELECT bg.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           ROUND(-AVG(lp.logp), 4)  AS bigram_ce
    FROM bg JOIN lp ON bg.a = lp.a AND bg.b = lp.b
    GROUP BY bg.doc_id
    """,
)
def doc_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model cross-entropy per document — the
    second-order sibling of `doc_perplexity_filter`: p(w₂|w₁) =
    c(w₁,w₂)/c(w₁) fitted on the corpus itself (MLE; every scored
    bigram occurs, so probabilities are strictly positive), each
    document scored by the mean −ln p over its bigrams. Bigram CE
    separates real word ORDER from mere vocabulary overlap, which is
    what catches shuffled/templated text the unigram filter passes.

    Scale shape: the bigram stream is generated MAP-SIDE (the BPE
    pair fan-out shape — no self-join); both model tables are
    vocabulary-bounded (unigram ≤ V, bigram ≤ observed pairs) and
    join back onto the pair stream broadcast; corpus text never
    shuffles. CE rounded 4dp on both engines."""
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    bg = (
        docs.select("doc_id", F.split("text", " ").alias("ws"))
        .where(F.size("ws") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(ws) - 2),"
                    " i -> struct(ws[i] AS a, ws[i + 1] AS b))"
                )
            ).alias("p"),
        )
        .select("doc_id", "p.a", "p.b")
    )
    uni = bg.groupBy("a").agg(F.count("*").alias("c1"))
    bi = bg.groupBy("a", "b").agg(F.count("*").alias("c12"))
    lp = bi.join(uni, "a").select(
        "a", "b", F.log(F.col("c12") / F.col("c1")).alias("logp")
    )
    return (
        bg.join(F.broadcast(lp), ["a", "b"])
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(-F.avg("logp"), 4).alias("bigram_ce"),
        )
    )


@register(
    "stratified_doc_sample",
    oracle=f"""
    WITH s AS (
      SELECT lang, doc_id, CAST(n_chars AS BIGINT) AS weight,
             n_chars * 4294967297.0 /
               ((((doc_id % 2147483648) * 2654435761) % 4294967296) + 1) AS q
      FROM documents
    ),
    r AS (
      SELECT lang, doc_id, weight, q,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY q DESC, doc_id)
               AS rk
      FROM s
    )
    -- per-row int-derived ratio: decimal-string round (r12 convention)
    SELECT lang, doc_id, weight,
           {round_double_sql("q", 4)} AS priority,
           CAST(rk AS BIGINT) AS rk
    FROM r WHERE rk <= 20
    """,
)
def stratified_doc_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-weighted review sample with guaranteed PER-LANGUAGE
    representation: per-stratum priority sampling
    (operators/mixing.stratified_priority_sample) — top-20 Duffield
    priorities within each language, bit-for-bit recomputable by the
    oracle. The balanced-curation use a global sample can't serve:
    minority languages keep their quota no matter how large the
    majority stratum grows."""
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    return mx.stratified_priority_sample(
        docs, "doc_id", "n_chars", "lang", k_per_stratum=20
    )


@register(
    "temperature_mix_weights",
    oracle="""
    WITH tok AS (
      SELECT source,
             SUM(len(list_filter(string_split_regex(text, '\\s+'),
                                 t -> t <> ''))) AS n_tokens
      FROM documents GROUP BY source
    ),
    tot AS (SELECT SUM(n_tokens) AS t FROM tok),
    p AS (
      SELECT source, n_tokens,
             POW(n_tokens * 1e0 / tot.t, 0.7e0) AS p_alpha
      FROM tok, tot
    ),
    z AS (SELECT SUM(p_alpha) AS z FROM p)
    SELECT p.source,
           CAST(p.n_tokens AS BIGINT)            AS n_tokens,
           ROUND(p.p_alpha / z.z, 6)             AS sample_weight,
           ROUND(p.p_alpha / z.z
                 / (p.n_tokens * 1e0 / (SELECT t FROM tot)), 4)
             AS upsampling_factor
    FROM p, z
    """,
)
def temperature_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled corpus mixing (the mT5/XLM-R rebalancing
    formula): per-source sampling weight ∝ p^α with α = 0.7, where p
    is the source's token share — boosting low-resource slices
    without flattening the mixture entirely. Emits the normalized
    sampling weight and the upsampling factor vs natural proportions;
    these weights are exactly what a weighted interleaving dataloader
    (or operators/mixing.token_budget_mix) consumes.

    Scale shape: one token-count aggregate (map-side combining over
    the corpus), then pure arithmetic over the sources-sized frame
    with two 1-row broadcast scalars."""
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    tok = docs.groupBy("source").agg(
        F.sum(
            F.size(F.expr("filter(split(text, '\\\\s+'), t -> t <> '')"))
        ).alias("n_tokens")
    )
    tot = tok.agg(F.sum("n_tokens").alias("t"))
    p = tok.join(F.broadcast(tot)).select(
        "source",
        "n_tokens",
        F.pow(F.col("n_tokens") / F.col("t"), F.lit(0.7)).alias("p_alpha"),
        (F.col("n_tokens") / F.col("t")).alias("p_nat"),
    )
    z = p.agg(F.sum("p_alpha").alias("z"))
    return p.join(F.broadcast(z)).select(
        "source",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.round(F.col("p_alpha") / F.col("z"), 6).alias("sample_weight"),
        F.round(F.col("p_alpha") / F.col("z") / F.col("p_nat"), 4).alias(
            "upsampling_factor"
        ),
    )


@register("ann_ivfpq_topk", oracle=_ANN_RECALL_ORACLE)
def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ approximate top-10 (operators/similarity.ivfpq_cosine_topk)
    — the full FAISS serving shape: IVF posting-list pruning, PQ
    asymmetric-distance candidate ranking over byte codes, exact
    re-rank of the ADC top-100 — emitted as the per-query recall@10 audit
    vs exact cosine (floor 90%), same contract as the LSH and plain
    IVF audits. Completes the ANN family: LSH (hash pruning), IVF
    (partition pruning), IVF-PQ (pruning + compressed scoring)."""
    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    # (nprobe=10, assign=4, rerank=200) for margin: the earlier
    # (8, 3, 100) measured exactly 90% on one query at the driver SF
    # and as low as 60% at sf0.1; strengthened: 100% per query at
    # sf0.01, ≥90% at sf0.1 — the floor holds with headroom at both.
    ann = sim.ivfpq_cosine_topk(
        emb,
        emb.filter(F.col("vec_id") < 5),
        k=10,
        nprobe=10,
        assign=4,
        m=16,
        rerank=200,
    )
    return _ann_recall_audit(spark, sf_dir, ann, k=10, floor_pct=90)


@register(
    "jl_projection_audit",
    oracle="""
    WITH a AS (
      SELECT vec_id / 2 AS pair, embedding AS va FROM embeddings
      WHERE vec_id % 2 = 0
    ),
    b AS (
      SELECT (vec_id - 1) / 2 AS pair, embedding AS vb FROM embeddings
      WHERE vec_id % 2 = 1
    ),
    p AS (
      SELECT a.pair,
             list_sum(list_transform(range(1, len(va) + 1),
                      i -> (va[i]::DOUBLE - vb[i]::DOUBLE)
                           * (va[i]::DOUBLE - vb[i]::DOUBLE))) AS d0
      FROM a JOIN b ON a.pair = b.pair
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
           ROUND(AVG(d0), 6)        AS mean_orig_dist_sq,
           TRUE                     AS distortion_ok
    FROM p
    """,
)
def jl_projection_audit_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JL random projection 64→16 with the distance-preservation
    audit (operators/similarity.jl_projection_audit): DuckDB
    recomputes the exact mean original squared distance over the
    deterministic pair grid; the engine genuinely checks that ≥90% of
    pairs keep their squared-distance ratio within [0.2, 2.2] after
    projection — the dimensionality-reduction step that makes every
    downstream ANN/near-dup pass 4× cheaper."""
    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    return sim.jl_projection_audit(emb, "embedding", "vec_id", dim=64, target_dim=16)


@register(
    "curation_pipeline_report",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source, text,
             list_filter(string_split_regex(text, '\\s+'), w -> w <> '') AS ws,
             length(text) AS nc
      FROM documents
    ),
    m AS (
      -- per-row integer ratios feeding the quality-band FILTER:
      -- decimal-string rounds (r13 class-a conversion)
      SELECT doc_id, source, text,
             CAST(len(ws) AS BIGINT) AS n_words,
             {round_double_sql("nc * 1e0 / len(ws)", 4)} AS mwl,
             {round_double_sql("len(list_filter(ws, w -> regexp_matches(w, '^[0-9]+$'))) * 1e0 / len(ws)", 4)} AS digit_ratio
      FROM t WHERE len(ws) > 0
    ),
    q AS (
      SELECT * FROM m
      WHERE n_words BETWEEN 50 AND 100000
        AND mwl BETWEEN 2.0 AND 10.0 AND digit_ratio <= 0.2
    ),
    d AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY sha256(text)
                                   ORDER BY doc_id) AS rn
      FROM q
    )
    SELECT m.source,
           CAST(COUNT(DISTINCT m.doc_id) AS BIGINT)            AS n_raw,
           CAST(COUNT(DISTINCT q.doc_id) AS BIGINT)            AS n_after_quality,
           CAST(COUNT(DISTINCT CASE WHEN d.rn = 1
                                    THEN d.doc_id END) AS BIGINT)
             AS n_after_dedup,
           CAST(COALESCE(SUM(CASE WHEN d.rn = 1
                                  THEN d.n_words END), 0) AS BIGINT)
             AS tokens_final
    FROM m
    LEFT JOIN q ON q.doc_id = m.doc_id
    LEFT JOIN d ON d.doc_id = m.doc_id
    GROUP BY m.source
    """,
)
def curation_pipeline_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END curation funnel in one DAG: Gopher rule gate →
    exact dedup (first-by-id survivor per content hash) → final token
    accounting, reported per source — the per-slice yield table every
    pretraining data run publishes (how much survived each stage, how
    many tokens remain). Composes three already-verified operators
    into one plan: map-side quality metrics, one digest-keyed window
    for dedup, one grouped rollup; corpus text never shuffles (the
    dedup key is the 32-byte hash).

    Same thresholds and 4dp roundings as `gopher_quality_filter`, so
    the stage-1 survivors here are exactly that query's keep set."""
    from pyspark.sql.window import Window as W

    docs = load_tables(spark, sf_dir, "documents")["documents"]
    ws = F.expr("filter(split(text, '\\\\s+'), w -> w <> '')")
    # the ratios are GUARDED, not merely filtered: Catalyst hoists the
    # division into combined filter predicates as a common
    # subexpression, so a zero-word (empty/whitespace-only) doc would
    # still hit the ANSI divide-by-zero even below a size(ws) > 0
    # filter (round-11 extremes sweep)
    # the metric frame feeds three consumers (the quality filter, the
    # dedup window, the raw-count side of the report join), and q
    # feeds two more — left lazy, each replayed the full tokenize +
    # regex map stage over the corpus (~4 scans in one plan). The
    # dedup key is computed HERE as a digest so the materialized frame
    # carries 32 bytes instead of the document body (guide §2.3/§8:
    # decide with digests, never payloads), then barriered once via the
    # eager checkpoint (r13 optimization, guide §5).
    m = docs.where(F.size(ws) > 0).select(
        "doc_id",
        "source",
        F.sha2("text", 256).alias("__digest"),
        F.size(ws).cast("bigint").alias("n_words"),
        F.when(F.size(ws) > 0, F.round(F.length("text") / F.size(ws), 4)).alias("mwl"),
        F.when(
            F.size(ws) > 0,
            F.round(
                F.size(
                    F.expr(
                        "filter(filter(split(text, '\\\\s+'), w -> w <> ''),"
                        " w -> w RLIKE '^[0-9]+$')"
                    )
                )
                / F.size(ws),
                4,
            ),
        ).alias("digit_ratio"),
    )
    m = m.transform(materialize.checkpoint)
    q = m.where(
        F.col("n_words").between(50, 100000)
        & F.col("mwl").between(2.0, 10.0)
        & (F.col("digit_ratio") <= 0.2)
    )
    d = q.withColumn(
        "rn",
        F.row_number().over(
            W.partitionBy("__digest").orderBy("doc_id")
        ),
    )
    stage = (
        m.select("source", "doc_id")
        .join(
            q.select(F.col("doc_id").alias("q_id")),
            F.col("doc_id") == F.col("q_id"),
            "left",
        )
        .join(
            d.select(
                F.col("doc_id").alias("d_id"),
                "rn",
                F.col("n_words").alias("d_words"),
            ),
            F.col("doc_id") == F.col("d_id"),
            "left",
        )
    )
    return stage.groupBy("source").agg(
        F.countDistinct("doc_id").alias("n_raw"),
        F.countDistinct("q_id").alias("n_after_quality"),
        F.countDistinct(F.when(F.col("rn") == 1, F.col("d_id"))).alias(
            "n_after_dedup"
        ),
        F.coalesce(
            F.sum(F.when(F.col("rn") == 1, F.col("d_words"))), F.lit(0)
        )
        .cast("bigint")
        .alias("tokens_final"),
    )


# ---------------------------------------------------------------------------
# round-5 additions: LLM-pipeline depth (SURVEY §7b slate)
# ---------------------------------------------------------------------------


@register(
    "line_dedup_stats",
    oracle="""
    WITH tok AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS tk
      FROM documents
    ),
    seg AS (
      SELECT doc_id, i AS seg_idx,
             array_to_string(tk[i*4+1 : i*4+4], ' ') AS seg,
             least(4, len(tk) - i*4)                 AS seg_tokens
      FROM (SELECT doc_id, tk,
                   unnest(range(0, CAST(ceil(len(tk) / 4.0) AS INT))) AS i
            FROM tok)
    ),
    ranked AS (
      SELECT doc_id, seg_idx, seg_tokens,
             ROW_NUMBER() OVER (PARTITION BY seg
                                ORDER BY doc_id, seg_idx) AS rn
      FROM seg
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT)                          AS n_segments,
           CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END)
                AS BIGINT)                                   AS n_removed,
           CAST(SUM(CASE WHEN rn > 1 THEN seg_tokens ELSE 0 END)
                AS BIGINT)                                   AS tokens_removed,
           ROUND(1e0 - SUM(CASE WHEN rn > 1 THEN seg_tokens ELSE 0 END)
                 * 1e0 / SUM(seg_tokens), 6)                 AS keep_frac
    FROM ranked GROUP BY doc_id
    """,
)
def line_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-DOCUMENT line-level exact dedup (the C4 recipe: drop any
    repeated line corpus-wide, keeping the FIRST occurrence in
    (doc_id, position) order — first-writer-wins): documents split
    into fixed 4-token segments (the synthetic corpus has no sentence
    punctuation, so fixed windows stand in for lines), every later
    occurrence of a repeated segment is marked removed, and each doc
    reports its surviving-token fraction. Complements the
    doc-INTERNAL dup-span operator: this dedups ACROSS the corpus.

    Scale shape: segments shuffle ONCE by segment text (the
    row_number partition); at 100 TB you'd key that shuffle on a
    64-bit segment digest instead of the text — same plan, 8-byte
    keys. No driver state, no Python."""
    from pyspark.sql.window import Window as W

    docs = load_tables(spark, sf_dir, "documents")["documents"]
    # a zero-token doc has no segments and emits no row (Spark's
    # sequence(0, -1) would otherwise fabricate a descending [0, -1]
    # pair where DuckDB's range(0, 0) is empty — r11 extremes sweep)
    seg = (
        docs.withColumn(
            "tk", F.expr(r"filter(split(text, '\\s+'), t -> t <> '')")
        )
        .filter(F.size("tk") > 0)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(0, CAST(ceil(size(tk)/4.0) AS INT) - 1),"
                    " i -> struct(i AS seg_idx,"
                    "             concat_ws(' ', slice(tk, i*4+1, 4)) AS seg,"
                    "             least(4, size(tk) - i*4) AS seg_tokens))"
                )
            ).alias("s"),
        )
        .select("doc_id", "s.seg_idx", "s.seg", "s.seg_tokens")
    )
    w = W.partitionBy("seg").orderBy("doc_id", "seg_idx")
    ranked = seg.withColumn("rn", F.row_number().over(w))
    removed = F.when(F.col("rn") > 1, F.col("seg_tokens")).otherwise(F.lit(0))
    return ranked.groupBy("doc_id").agg(
        F.count("*").alias("n_segments"),
        F.sum((F.col("rn") > 1).cast("bigint")).alias("n_removed"),
        F.sum(removed).cast("bigint").alias("tokens_removed"),
        F.round(
            F.lit(1.0) - F.sum(removed) / F.sum("seg_tokens"), 6
        ).alias("keep_frac"),
    )


@register(
    "bloom_decontaminate_13gram",
    oracle="""
    WITH tok AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         t -> t <> '') AS tk
      FROM documents
    ),
    grams AS (
      SELECT DISTINCT doc_id, g
      FROM (SELECT doc_id,
                   unnest(CASE WHEN len(tk) >= 13
                          THEN list_transform(range(1, len(tk) - 11),
                                 i -> array_to_string(tk[i:i+12], ' '))
                          ELSE CAST([] AS VARCHAR[]) END) AS g
            FROM tok)
    ),
    hashed AS (
      SELECT doc_id, g,
             list_reduce(list_prepend(0::BIGINT,
               list_transform(range(1, len(g) + 1),
                              i -> ascii(g[i])::BIGINT)),
               (acc, c) -> (acc * 31 + c) % 1000000007) AS base
      FROM grams
    ),
    bits AS (
      SELECT doc_id, g,
             (base * 2654435761 % 1000000007) % 131072 AS b1,
             (base * 40503 + 17) % 1000000007 % 131072  AS b2,
             (base * 1009 + 97) % 1000000007 % 131072   AS b3
      FROM hashed
    ),
    bench_bits AS (
      SELECT DISTINCT bit FROM (
        SELECT unnest([b1, b2, b3]) AS bit FROM bits WHERE doc_id < 20)
    ),
    bench_grams AS (SELECT DISTINCT g FROM grams WHERE doc_id < 20),
    corpus AS (
      SELECT doc_id, g,
             b1 IN (SELECT bit FROM bench_bits)
             AND b2 IN (SELECT bit FROM bench_bits)
             AND b3 IN (SELECT bit FROM bench_bits) AS bloom_hit,
             g IN (SELECT g FROM bench_grams)       AS exact_hit
      FROM bits WHERE doc_id >= 20
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT)                             AS n_grams,
           CAST(SUM(CASE WHEN exact_hit THEN 1 ELSE 0 END)
                AS BIGINT)                                      AS n_exact_shared,
           CAST(SUM(CASE WHEN bloom_hit THEN 1 ELSE 0 END)
                AS BIGINT)                                      AS n_bloom_flagged,
           SUM(CASE WHEN exact_hit THEN 1 ELSE 0 END) > 0       AS contaminated,
           SUM(CASE WHEN exact_hit AND NOT bloom_hit
                    THEN 1 ELSE 0 END) = 0                      AS bloom_superset
    FROM corpus GROUP BY doc_id
    """,
)
def bloom_decontaminate_13gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The GPT-3 decontamination recipe: flag training docs sharing
    any 13-GRAM with the benchmark set (doc_id < 20), probed through a
    BLOOM FILTER (m=2^17 bits, k=3) built from the benchmark's grams —
    the structure that makes the check O(1) per gram with a
    fixed-size broadcast instead of a join against every benchmark
    gram. The bloom is RELATIONAL and portable (k hashes derived from
    a polynomial rolling hash both engines evaluate identically), so
    the oracle reproduces the filter bit-for-bit: exact overlap
    counts, bloom-flagged counts (INCLUDING false positives) and the
    no-false-negative invariant are all hash-checked, not pinned.

    Scale shape: the benchmark side reduces to ≤m distinct bits
    (16 KiB as a bitmap — broadcast); corpus grams are map-side
    hashed, and the only join is gram-bits × bench-bits (broadcast
    hash). At 100 TB you'd swap the portable hash for xxhash64 behind
    the same three-bit seam (the poly hash exists so DuckDB can
    replay it) and fold the bit set into an actual bitmap UDF-free
    via array_contains on a broadcast literal."""
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    grams = (
        docs.withColumn(
            "tk",
            F.expr(r"filter(split(lower(text), '\\s+'), t -> t <> '')"),
        )
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "CASE WHEN size(tk) >= 13 THEN"
                    " transform(sequence(0, size(tk) - 13),"
                    "  i -> concat_ws(' ', slice(tk, i + 1, 13)))"
                    " ELSE array() END"
                )
            ).alias("g"),
        )
        .distinct()
    )
    # char extraction via split('', g) is O(len) per gram; the
    # index-based substring(g, i, 1) form is O(i) per char → O(len²)
    # per gram, and the 100× stress probe showed the hash stage
    # dominating (23.5× at 100× data before this change).
    hashed = grams.withColumn(
        "base",
        F.expr(
            "aggregate(transform(filter(split(g, ''), c -> c <> ''),"
            " c -> ascii(c)),"
            " 0L, (acc, c) -> (acc * 31 + c) % 1000000007)"
        ),
    ).select(
        "doc_id",
        "g",
        ((F.col("base") * 2654435761) % 1000000007 % 131072).alias("b1"),
        ((F.col("base") * 40503 + 17) % 1000000007 % 131072).alias("b2"),
        ((F.col("base") * 1009 + 97) % 1000000007 % 131072).alias("b3"),
    )
    # The hashed gram table feeds three consumers (bench bit set, bench
    # gram set, corpus probe side); left lazy, each replayed the full
    # tokenize → 13-gram explode → distinct → interpreted poly-hash
    # pipeline — measured 1.6 s per replay of a 5.2 s/iter family
    # (r13 optimization, guide §5: reuse ≫ recompute). Materialize it
    # once (eager checkpoint); the 100× stress already showed the hash
    # stage is the dominant term, so at scale the 3× replay is 3 full
    # corpus passes.
    hashed = hashed.transform(materialize.checkpoint)
    bench = hashed.filter(F.col("doc_id") < 20)
    bench_bits = (
        bench.select(F.explode(F.array("b1", "b2", "b3")).alias("bit"))
        .distinct()
        .agg(F.collect_set("bit").alias("bits"))
    )
    bench_grams = bench.select("g").distinct().withColumn(
        "exact_hit", F.lit(True)
    )
    corpus = hashed.filter(F.col("doc_id") >= 20)
    probed = (
        corpus.crossJoin(F.broadcast(bench_bits))
        .withColumn(
            "bloom_hit",
            F.array_contains("bits", F.col("b1"))
            & F.array_contains("bits", F.col("b2"))
            & F.array_contains("bits", F.col("b3")),
        )
        .join(F.broadcast(bench_grams), "g", "left")
        .withColumn("exact_hit", F.coalesce("exact_hit", F.lit(False)))
    )
    return probed.groupBy("doc_id").agg(
        F.count("*").alias("n_grams"),
        F.sum(F.col("exact_hit").cast("bigint")).alias("n_exact_shared"),
        F.sum(F.col("bloom_hit").cast("bigint")).alias("n_bloom_flagged"),
        (F.sum(F.col("exact_hit").cast("bigint")) > 0).alias("contaminated"),
        (
            F.sum((F.col("exact_hit") & ~F.col("bloom_hit")).cast("bigint"))
            == 0
        ).alias("bloom_superset"),
    )


@register(
    "quality_classifier_scores",
    oracle=f"""
    WITH feats AS (
      -- per-row integer ratios: decimal-string rounds (r13 class-a
      -- conversion, integrity.round_double_sql)
      SELECT doc_id, source,
             len(tk)                                            AS n_tokens,
             {round_double_sql("len(list_filter(tk, t -> list_contains(['the','a','of','and','to','in','is','it'], t))) * 1e0 / NULLIF(len(tk), 0)", 6)} AS stop_ratio,
             {round_double_sql("list_sum(list_transform(tk, t -> len(t))) * 1e0 / NULLIF(len(tk), 0)", 6)} AS avg_tok_len
      FROM (SELECT doc_id, source,
                   list_filter(string_split_regex(lower(text), '\\s+'),
                               t -> t <> '') AS tk
            FROM documents)
    ),
    scored AS (
      -- sigmoid over rounded (exact-decimal) features; exp/ln are the
      -- same libm calls on bit-identical args (r12 router precedent)
      SELECT doc_id, source,
             CASE WHEN n_tokens > 0 THEN
               {round_double_sql("1e0 / (1e0 + exp(-(0.35e0 * ln(1 + n_tokens) + 2.0e0 * stop_ratio - 0.15e0 * avg_tok_len - 0.6e0)))", 6)}
             ELSE 0.0 END AS score
      FROM feats
    )
    SELECT doc_id, source, score, score >= 0.5e0 AS keep
    FROM scored
    """,
)
def quality_classifier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-classifier gate via BROADCAST LOGISTIC WEIGHTS (the
    fastText/CCNet-style learned filter, served without any ML
    runtime): per-doc features (log token count, stopword ratio,
    average token length) dotted with a fixed weight vector and
    squashed through a sigmoid; keep = score ≥ 0.5. The weights are
    literals here; in production they'd broadcast from a model table —
    either way the scoring is a MAP-ONLY codegen expression, the
    pattern that lets a learned gate run at scan speed over 100 TB
    with zero shuffle and zero Python. Scores rounded to 6dp before
    the threshold so summation order can't flip `keep`."""
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    feats = docs.withColumn(
        "tk", F.expr(r"filter(split(lower(text), '\\s+'), t -> t <> '')")
    ).select(
        "doc_id",
        "source",
        F.size("tk").alias("n_tokens"),
        F.when(
            F.size("tk") > 0,
            F.round(
                F.expr(
                    "size(filter(tk, t -> t IN"
                    " ('the','a','of','and','to','in','is','it')))"
                )
                / F.size("tk"),
                6,
            ),
        ).alias("stop_ratio"),
        F.when(
            F.size("tk") > 0,
            F.round(
                F.expr("aggregate(tk, 0L, (acc, t) -> acc + length(t))")
                / F.size("tk"),
                6,
            ),
        ).alias("avg_tok_len"),
    )
    z = (
        F.lit(0.35) * F.log(F.lit(1) + F.col("n_tokens"))
        + F.lit(2.0) * F.col("stop_ratio")
        - F.lit(0.15) * F.col("avg_tok_len")
        - F.lit(0.6)
    )
    # a zero-token document has no features to classify: definite
    # score 0.0 / keep FALSE, not NULL (round-11 extremes sweep)
    scored = feats.select(
        "doc_id",
        "source",
        F.when(
            F.col("n_tokens") > 0,
            F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6),
        )
        .otherwise(F.lit(0.0))
        .alias("score"),
    )
    return scored.select(
        "doc_id", "source", "score", (F.col("score") >= 0.5).alias("keep")
    )


@register(
    "perplexity_curriculum_mix",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    wc  AS (SELECT w, COUNT(*) AS c FROM tok GROUP BY w),
    tot AS (SELECT SUM(c) AS t FROM wc),
    lp  AS (SELECT w, ln(c * 1e0 / t) AS logp FROM wc, tot),
    pd  AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
             ROUND(-AVG(logp), 4) AS ce
      FROM tok JOIN lp USING (w) GROUP BY doc_id
    ),
    bucketed AS (
      SELECT doc_id, n_tokens, ce,
             CAST(NTILE(4) OVER (ORDER BY ce, doc_id) AS BIGINT) AS bucket
      FROM pd
    )
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT)      AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS bucket_tokens,
           ROUND(ce_w, 2)                AS weight,
           ROUND(SUM(n_tokens) * ce_w, 1) AS epoch_tokens
    FROM bucketed,
         LATERAL (SELECT CASE bucket WHEN 1 THEN 2.0e0 WHEN 2 THEN 1.5e0
                         WHEN 3 THEN 1.0e0 ELSE 0.5e0 END AS ce_w) w
    GROUP BY bucket, ce_w
    """,
)
def perplexity_curriculum_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-bucketed CURRICULUM MIXING: documents scored by
    unigram cross-entropy (the doc_perplexity_filter LM), split into
    fluency quartiles, and each quartile assigned an epoch sampling
    weight (cleanest text oversampled 2×, noisiest undersampled 0.5×)
    — the curriculum/mixture-reweighting step between corpus scoring
    and dataloader manifest. Output is the per-bucket token budget the
    sampler consumes. The quartile split is a global ntile over the
    DOC-GRAIN frame — corpus-sized at 100 TB — so it runs through
    operators/rank.py:with_global_ntile (range-bucketed parallel exact
    ntile, so the committed plan has no ``Exchange
    SinglePartition``); ties are doc_id-broken so bucket
    assignment is deterministic and identical to the window form.
    ``pd_`` is persisted because it derives from FLOAT aggregation
    (avg of log-probs, then round) and the ntile operator runs
    count + quantile + offset actions over it: double aggregation is
    not bit-deterministic across re-executions, so a ce value
    straddling a rounding/bucket boundary could otherwise change
    buckets between actions (advisor r9 finding)."""
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    wc = tok.groupBy("w").agg(F.count("*").alias("c"))
    tot = wc.agg(F.sum("c").alias("t"))
    lp = wc.join(F.broadcast(tot)).select(
        "w", F.log(F.col("c") / F.col("t")).alias("logp")
    )
    pd_ = materialize.persist(
        tok.join(F.broadcast(lp), "w")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(-F.avg("logp"), 4).alias("ce"),
        )
    )
    from ..operators.rank import with_global_ntile

    bucketed = with_global_ntile(
        pd_, "ce", ["doc_id"], 4, out_col="bucket"
    ).withColumn("bucket", F.col("bucket").cast("bigint"))
    weight = (
        F.when(F.col("bucket") == 1, 2.0)
        .when(F.col("bucket") == 2, 1.5)
        .when(F.col("bucket") == 3, 1.0)
        .otherwise(0.5)
    )
    return (
        bucketed.withColumn("ce_w", weight)
        .groupBy("bucket", "ce_w")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("bucket_tokens"),
            F.round(F.sum("n_tokens") * F.col("ce_w"), 1).alias(
                "epoch_tokens"
            ),
        )
        .select(
            "bucket", "n_docs", "bucket_tokens",
            F.round("ce_w", 2).alias("weight"), "epoch_tokens",
        )
    )


@register(
    "trigram_lm_train",
    oracle=f"""
    WITH w AS (
      SELECT list_filter(string_split_regex(lower(text), '\\s+'),
                         t -> t <> '') AS ws
      FROM documents
    ),
    n AS (SELECT ws, len(ws) AS m FROM w WHERE len(ws) >= 3),
    tri AS (
      SELECT unnest(ws[1:m-2]) AS a, unnest(ws[2:m-1]) AS b,
             unnest(ws[3:m]) AS c
      FROM n
    ),
    tc AS (SELECT a, b, c, COUNT(*) AS c3 FROM tri GROUP BY 1, 2, 3),
    bc AS (SELECT a, b, SUM(c3) AS c2 FROM tc GROUP BY 1, 2),
    v  AS (SELECT COUNT(DISTINCT x) AS vocab FROM (
             SELECT unnest(ws) AS x FROM w)),
    probs AS (
      -- smoothed log-prob over integer counts; ln is the same libm
      -- call on a bit-identical arg (r13 class-a conversion)
      SELECT tc.a, tc.b, tc.c, tc.c3,
             {round_double_sql("ln((tc.c3 + 0.5e0) / (bc.c2 + 0.5e0 * v.vocab))", 6)}
               AS logp
      FROM tc JOIN bc USING (a, b), v
    )
    SELECT a, b, c, CAST(c3 AS BIGINT) AS n, logp
    FROM probs
    ORDER BY n DESC, a, b, c LIMIT 30
    """,
)
def trigram_lm_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram language-model TRAINING as a query: corpus trigram
    counts → add-k-smoothed conditional log-probabilities
    p(c | a,b) = (c₃+k)/(c₂+k·V) — the classic counting LM whose
    output TABLE is then broadcast for scoring (the
    doc_bigram_perplexity scorer is this model's second-order
    sibling). Top-30 merges emitted with a total (count, trigram)
    order. Two hash aggregates (trigram, then its bigram prefix
    re-using the same key prefix) + a 1-row vocab readout; the token
    stream is generated map-side from per-doc arrays — text never
    self-joins."""
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    tri = (
        docs.withColumn(
            "ws", F.expr(r"filter(split(lower(text), '\\s+'), t -> t <> '')")
        )
        .filter(F.size("ws") >= 3)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(ws) - 2),"
                    " i -> struct(ws[i-1] AS a, ws[i] AS b, ws[i+1] AS c))"
                )
            ).alias("t")
        )
        .select("t.a", "t.b", "t.c")
    )
    # r14 restructure (guide §2.4, VERDICT r13 item 1): the r13 form
    # materialized the trigram-count table because it fed BOTH the
    # bigram-prefix aggregate and the probability join — an eager
    # checkpoint that read as a wall tax at bench SF. But that join is
    # INNER on the prefix and every trigram row's (a, b) prefix exists
    # in the prefix aggregate by construction, so the prefix total is
    # exactly a window SUM over the trigram counts: one pass over tc,
    # no second aggregate, no join, no multi-consumer frame — the
    # materialization becomes unnecessary and is removed. Long
    # addition is associative, so c2 is bit-identical to the join
    # form's; oracle-verified identical.
    from pyspark.sql.window import Window as _W

    tc = tri.groupBy("a", "b", "c").agg(F.count("*").alias("c3"))
    tcw = tc.withColumn("c2", F.sum("c3").over(_W.partitionBy("a", "b")))
    docs_ws = docs.select(
        F.explode(F.expr(r"filter(split(lower(text), '\\s+'), t -> t <> '')"))
        .alias("x")
    )
    v = docs_ws.agg(F.countDistinct("x").alias("vocab"))
    probs = (
        tcw.crossJoin(F.broadcast(v))
        .select(
            "a", "b", "c", F.col("c3").alias("n"),
            F.round(
                F.log(
                    (F.col("c3") + F.lit(0.5))
                    / (F.col("c2") + F.lit(0.5) * F.col("vocab"))
                ),
                6,
            ).alias("logp"),
        )
    )
    return probs.orderBy(
        F.desc("n"), "a", "b", "c"
    ).limit(30)


@register(
    "doc_pack_with_splits",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang,
             CAST(len(list_filter(string_split_regex(text, '\\s+'),
                                  t -> t <> '')) AS BIGINT) AS n
      FROM documents
    ),
    offs AS (
      SELECT doc_id, lang, n,
             CAST(SUM(n) OVER (PARTITION BY lang ORDER BY doc_id
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) - n
               AS start
      FROM toks
    ),
    pieces AS (
      SELECT lang, doc_id, n, start,
             unnest(generate_series(CAST(FLOOR(start / 256) AS BIGINT),
                                    CAST(FLOOR((start + n - 1) / 256)
                                         AS BIGINT))) AS pack_id
      FROM offs
    ),
    sized AS (
      SELECT lang, pack_id, doc_id,
             least(start + n, (pack_id + 1) * 256)
               - greatest(start, pack_id * 256) AS piece_tokens,
             (start < pack_id * 256 OR start + n > (pack_id + 1) * 256)
               AS is_split
      FROM pieces
    )
    SELECT lang, CAST(pack_id AS BIGINT) AS pack_id,
           CAST(COUNT(*) AS BIGINT)                 AS n_pieces,
           CAST(SUM(CASE WHEN is_split THEN 1 ELSE 0 END) AS BIGINT)
                                                    AS n_split_pieces,
           CAST(SUM(piece_tokens) AS BIGINT)        AS pack_tokens
    FROM sized GROUP BY 1, 2
    """,
)
def doc_pack_with_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing v2 — WITH DOCUMENT SPLITTING at pack
    boundaries: the per-language token stream is laid out contiguously
    (window cumsum, as in doc_sequence_packing), but a document whose
    span crosses a 256-token boundary is CUT into per-pack pieces
    instead of overflowing — every interior pack holds exactly 256
    tokens, the invariant fixed-context training dataloaders need
    (no padding, no overflow). Each doc explodes into
    ceil(span/256) ≤ 2 + n/256 pieces map-side; the only shuffle is
    the lang-partitioned cumsum, and the piece fan-out reuses it. The
    split bookkeeping (which pieces are partial) is emitted for the
    detokenizer."""
    from pyspark.sql.window import Window as W

    docs = load_tables(spark, sf_dir, "documents")["documents"]
    toks = docs.select(
        "doc_id",
        "lang",
        F.expr(r"size(filter(split(text, '\\s+'), t -> t <> ''))")
        .cast("bigint")
        .alias("n"),
    )
    w = (
        W.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    offs = toks.withColumn("start", F.sum("n").over(w) - F.col("n"))
    pieces = offs.select(
        "lang",
        "doc_id",
        "n",
        "start",
        F.explode(
            F.sequence(
                F.floor(F.col("start") / 256),
                F.floor((F.col("start") + F.col("n") - 1) / 256),
            )
        ).alias("pack_id"),
    )
    piece_tokens = F.least(
        F.col("start") + F.col("n"), (F.col("pack_id") + 1) * 256
    ) - F.greatest(F.col("start"), F.col("pack_id") * 256)
    is_split = (F.col("start") < F.col("pack_id") * 256) | (
        F.col("start") + F.col("n") > (F.col("pack_id") + 1) * 256
    )
    return (
        pieces.withColumn("piece_tokens", piece_tokens)
        .withColumn("is_split", is_split)
        .groupBy("lang", "pack_id")
        .agg(
            F.count("*").alias("n_pieces"),
            F.sum(F.col("is_split").cast("bigint")).alias("n_split_pieces"),
            F.sum("piece_tokens").alias("pack_tokens"),
        )
    )


@register(
    "source_priority_dedup",
    oracle="""
    -- a NULL text has NO blocking key: it must not join a cluster
    -- (all unreadable docs would otherwise collapse into ONE cluster
    -- and 'dedup' away all but one — a data-loss bug at scale), so
    -- both sides exclude it from the dedup (r11 nulls sweep)
    WITH keyed AS (
      SELECT doc_id, source, n_chars,
             CAST(substr(source, 4) AS BIGINT) AS src_rank,
             array_to_string(list_filter(string_split_regex(text, '\\s+'),
                                         t -> t <> '')[1:6], ' ') AS pref
      -- ...and so does a zero-token (empty/whitespace-only) doc: an
      -- empty prefix is not a blocking key either (r11 extremes
      -- sweep; the engines also disagree on '' vs NULL for it)
      FROM documents
      WHERE text IS NOT NULL
        AND len(list_filter(string_split_regex(text, '\\s+'),
                            t -> t <> '')) > 0
    ),
    ranked AS (
      -- NULL src_rank (unknown provenance) is the WORST priority:
      -- explicit NULLS LAST on both sides — Spark default is NULLS
      -- FIRST ascending, which would hand unknown-source docs the
      -- win (r13 decorrelated nulls sweep)
      SELECT *, ROW_NUMBER() OVER (PARTITION BY pref
                ORDER BY src_rank NULLS LAST, n_chars DESC, doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY pref) AS n_candidates
      FROM keyed
    )
    SELECT pref, CAST(doc_id AS BIGINT) AS kept_doc_id, source AS kept_source,
           CAST(n_candidates AS BIGINT) AS n_candidates,
           CAST(n_candidates - 1 AS BIGINT) AS n_dropped
    FROM ranked WHERE rn = 1
    """,
)
def source_priority_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain/source-PRIORITY dedup rules: documents cluster on a
    6-token prefix fingerprint (the near-dup blocking key), and each
    cluster keeps ONE canonical doc by an explicit business priority —
    preferred source first (lower srcN rank — e.g. curated > crawl),
    then the longest text, then the smallest id as the final total
    tie-break. The losers are journaled per cluster (n_dropped), the
    audit trail a curation pipeline owes its provenance report. One
    window over one shuffle on the blocking key; at 100 TB the key is
    an 8-byte digest and the rule ladder is the same ORDER BY.

    NULL text → NO blocking key → excluded from the dedup entirely
    (Spark's concat_ws would silently key every unreadable doc to ''
    and drop all but one — the quarantine path owns those rows, not
    the dedup; r11 nulls sweep)."""
    from pyspark.sql.window import Window as W

    # NULL text and zero-token text alike have NO blocking key
    # (r11 nulls + extremes sweeps)
    docs = load_tables(spark, sf_dir, "documents")["documents"].filter(
        F.col("text").isNotNull()
        & (F.size(F.expr(r"filter(split(text, '\\s+'), t -> t <> '')")) > 0)
    )
    keyed = docs.select(
        "doc_id",
        "source",
        "n_chars",
        F.substring("source", 4, 10).cast("bigint").alias("src_rank"),
        F.expr(
            r"concat_ws(' ', slice(filter(split(text, '\\s+'),"
            r" t -> t <> ''), 1, 6))"
        ).alias("pref"),
    )
    # NULL src_rank = unknown provenance = worst priority (explicit:
    # Spark's ascending default is NULLS FIRST, DuckDB's is NULLS
    # LAST — r13 decorrelated nulls sweep)
    w = W.partitionBy("pref").orderBy(
        F.asc_nulls_last("src_rank"), F.desc("n_chars"), "doc_id"
    )
    ranked = keyed.withColumn("rn", F.row_number().over(w)).withColumn(
        "n_candidates", F.count("*").over(W.partitionBy("pref"))
    )
    return ranked.filter(F.col("rn") == 1).select(
        "pref",
        F.col("doc_id").alias("kept_doc_id"),
        F.col("source").alias("kept_source"),
        F.col("n_candidates").cast("bigint").alias("n_candidates"),
        (F.col("n_candidates") - 1).cast("bigint").alias("n_dropped"),
    )


@register(
    "contamination_removal_report",
    oracle="""
    WITH tok AS (
      SELECT doc_id, source,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         t -> t <> '') AS tk
      FROM documents
    ),
    sh AS (
      SELECT doc_id, source,
             unnest(list_distinct(
               CASE WHEN len(tk) >= 5
                    THEN list_transform(range(1, len(tk) - 3),
                                        i -> array_to_string(tk[i:i+4], ' '))
                    ELSE CAST([] AS VARCHAR[]) END)) AS shingle
      FROM tok
    ),
    bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < 20),
    hits AS (
      SELECT DISTINCT sh.doc_id FROM sh JOIN bench USING (shingle)
      WHERE sh.doc_id >= 20
    )
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT)                       AS n_docs,
           CAST(SUM(CASE WHEN h.doc_id IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT)    AS n_contaminated,
           CAST(SUM(CASE WHEN h.doc_id IS NULL
                         THEN 1 ELSE 0 END) AS BIGINT)    AS n_after,
           ROUND(SUM(CASE WHEN h.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                 * 1e0 / COUNT(*), 6)                     AS frac_removed
    FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
    WHERE d.doc_id >= 20
    GROUP BY d.source
    """,
)
def contamination_removal_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contamination REMOVAL report — the governance artifact joined
    back into the curation funnel: per source, how many corpus docs
    the 5-gram benchmark-overlap decontamination step (the
    decontaminate_docs operator) removes, how many survive, and the
    removal fraction. This is the row a dataset card publishes per
    subset. The hit set reuses the broadcast shingle semi-probe
    (corpus text never shuffles); the report is one left anti-ish
    aggregate at SOURCE grain — 20 rows out regardless of scale."""
    import facebook_ads_bigquery_etl_spark.operators.dedup as dd

    docs = load_tables(spark, sf_dir, "documents")["documents"].withColumn(
        "text_lc", F.lower(F.col("text"))
    )
    bench = docs.filter(F.col("doc_id") < 20)
    corpus = docs.filter(F.col("doc_id") >= 20)
    hits = (
        dd.contamination_overlap(corpus, bench, text_col="text_lc", ngram=5)
        .select("doc_id")
        .withColumn("hit", F.lit(True))
    )
    return (
        corpus.join(hits, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("hit").isNotNull().cast("bigint")).alias(
                "n_contaminated"
            ),
            F.sum(F.col("hit").isNull().cast("bigint")).alias("n_after"),
            F.round(
                F.sum(F.col("hit").isNotNull().cast("bigint"))
                / F.count("*"),
                6,
            ).alias("frac_removed"),
        )
    )


@register(
    "class_balance_audit",
    oracle="""
    WITH ev AS (
      SELECT vec_id, label,
             generate_subscripts(embedding, 1) AS i,
             unnest(embedding)::DOUBLE AS v
      FROM embeddings
    ),
    lab AS (
      SELECT label, i, AVG(v) AS c FROM ev GROUP BY 1, 2
    ),
    gcent AS (
      SELECT i, AVG(v) AS g FROM ev GROUP BY 1
    ),
    n AS (SELECT label, COUNT(*) AS n_vecs FROM embeddings GROUP BY 1)
    SELECT lab.label,
           CAST(n.n_vecs AS BIGINT)                       AS n_vecs,
           ROUND(sqrt(SUM(lab.c * lab.c)), 6)             AS centroid_norm,
           ROUND(sqrt(SUM((lab.c - gcent.g) * (lab.c - gcent.g))), 6)
                                                          AS dist_to_global
    FROM lab JOIN gcent USING (i) JOIN n ON n.label = lab.label
    GROUP BY lab.label, n.n_vecs
    """,
)
def class_balance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space CLASS-BALANCE audit: per label, the member
    count, the centroid's norm, and the centroid's distance to the
    GLOBAL centroid — the spread report that catches a label whose
    examples collapse to a corner (near-duplicate class) or drift off
    the manifold before they poison a training mix. Vectors reduce to
    per-(label, dim) partial sums in ONE hash aggregate (the posexplode
    fan-out is map-side, d=64 rows per vector); only O(labels × d)
    centroid cells shuffle — never the vectors themselves. Distances
    rounded to 6dp: the only cross-engine noise is double summation
    order on ~1e-8-scale tails."""
    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    ev = emb.select(
        "label", F.posexplode("embedding").alias("i", "v")
    ).withColumn("v", F.col("v").cast("double"))
    lab = ev.groupBy("label", "i").agg(F.avg("v").alias("c"))
    glob = ev.groupBy("i").agg(F.avg("v").alias("g"))
    n = emb.groupBy("label").agg(F.count("*").alias("n_vecs"))
    return (
        lab.join(glob, "i")
        .groupBy("label")
        .agg(
            F.round(F.sqrt(F.sum(F.col("c") * F.col("c"))), 6).alias(
                "centroid_norm"
            ),
            F.round(
                F.sqrt(F.sum((F.col("c") - F.col("g")) ** 2)), 6
            ).alias("dist_to_global"),
        )
        .join(F.broadcast(n), "label")
        .select("label", "n_vecs", "centroid_norm", "dist_to_global")
    )


@register(
    "pii_cooccurrence_audit",
    oracle="""
    WITH seeded AS (
      SELECT doc_id,
             text
             || CASE WHEN doc_id % 3 = 0
                     THEN ' user' || doc_id || '@example.com' ELSE '' END
             || CASE WHEN doc_id % 4 = 0
                     THEN ' +12-555-' || lpad((doc_id % 10000)::VARCHAR,
                                              4, '0') ELSE '' END
             || CASE WHEN doc_id % 5 = 0
                     THEN ' 10.0.0.' || (doc_id % 256) ELSE '' END
             || CASE WHEN doc_id % 7 = 0
                     THEN ' id 123-45-' || lpad((doc_id % 10000)::VARCHAR,
                                                4, '0') ELSE '' END AS t
      FROM documents
    ),
    dc AS (
      SELECT doc_id, unnest(list_filter([
        CASE WHEN regexp_matches(t,
          '(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}') THEN 'email' END,
        CASE WHEN regexp_matches(t,
          '\\+[0-9]{2}-[0-9]{3}-[0-9]{4}') THEN 'phone' END,
        CASE WHEN regexp_matches(t,
          '\\b10\\.0\\.0\\.[0-9]{1,3}\\b') THEN 'ip' END,
        CASE WHEN regexp_matches(t,
          '\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b') THEN 'ssn' END],
        x -> x IS NOT NULL)) AS cls
      FROM seeded
    )
    SELECT x.cls AS class_a, y.cls AS class_b,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM dc x JOIN dc y ON x.doc_id = y.doc_id AND x.cls <= y.cls
    GROUP BY 1, 2
    """,
)
def pii_cooccurrence_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII-CLASS CO-OCCURRENCE audit: which personal-data classes
    appear TOGETHER in the same document (email×phone is a contact
    record; email×ssn is a breach-grade row that triggers a different
    handling tier than either alone). The synthetic corpus carries no
    real PII, so classes are seeded deterministically by doc_id
    residues (3→email, 4→phone, 5→ip, 7→ssn — every pairwise
    combination occurs) and each class is detected by its anchored
    regex, NOT read off the seeding rule. Detection is map-only
    codegen; the co-occurrence matrix is a self-join of the tiny
    (doc, class) fan-out (≤4 rows/doc) on doc_id — at 100 TB that
    join input is 4n rows of (id, enum), nothing more."""
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    seeded = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(
                    F.lit(" user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 4 == 0,
                F.concat(
                    F.lit(" +12-555-"),
                    F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(
                    F.lit(" 10.0.0."), (F.col("doc_id") % 256).cast("string")
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(
                    F.lit(" id 123-45-"),
                    F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                ),
            ).otherwise(F.lit("")),
        ).alias("t"),
    )
    classes = [
        ("email", r"(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"),
        ("phone", r"\+[0-9]{2}-[0-9]{3}-[0-9]{4}"),
        ("ip", r"\b10\.0\.0\.[0-9]{1,3}\b"),
        ("ssn", r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b"),
    ]
    dc = seeded.select(
        "doc_id",
        F.explode(
            F.filter(
                F.array(
                    *[
                        F.when(
                            F.col("t").rlike(pat), F.lit(name)
                        )
                        for name, pat in classes
                    ]
                ),
                lambda x: x.isNotNull(),
            )
        ).alias("cls"),
    )
    a, b = dc.alias("x"), dc.alias("y")
    return (
        a.join(
            b,
            (F.col("x.doc_id") == F.col("y.doc_id"))
            & (F.col("x.cls") <= F.col("y.cls")),
        )
        .groupBy(
            F.col("x.cls").alias("class_a"), F.col("y.cls").alias("class_b")
        )
        .agg(F.count("*").alias("n_docs"))
    )


@register(
    "gif_header_stats",
    oracle="""
    SELECT doc_id AS media_id,
           CASE WHEN doc_id % 2 = 1 THEN '89a' ELSE '87a' END AS version,
           CAST(16 + doc_id % 32 AS INTEGER) AS width,
           CAST(16 + doc_id % 16 AS INTEGER) AS height,
           CAST(1 << (doc_id % 8 + 1) AS INTEGER) AS n_palette,
           CAST(doc_id % (1 << (doc_id % 8 + 1)) AS INTEGER) AS bg_index,
           CAST(list_sum(list_transform(
                  range(0, 3 * (1 << (doc_id % 8 + 1))),
                  j -> (doc_id + 7 * j) % 256)) AS BIGINT) AS palette_sum
    FROM documents WHERE doc_id % 3 = 1
    """,
)
def gif_header_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GIF87a/89a container parse from REAL wire bytes
    (operators/multimodal.gif_header_table): genuine GIF headers —
    version, little-endian logical screen descriptor, packed GCT
    flags, full global color table — are synthesized in one
    mapInPandas pass and parsed back in a SEPARATE pass that sees
    only the payload bytes. The oracle regenerates every field
    (including the palette byte sum, which requires actually walking
    the color table) from the closed-form generation model; any
    mis-read of the packed bit layout or palette length breaks the
    hash. Same stdlib-container seam as PNG/WAV/JPEG."""
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    return mm.gif_header_table(
        docs.filter(F.col("doc_id") % 3 == 1)
    ).select(
        "media_id", "version", "width", "height", "n_palette", "bg_index",
        "palette_sum",
    )


@register(
    "jpeg_exif_orientation_stats",
    oracle="""
    SELECT doc_id AS media_id,
           CASE WHEN doc_id % 2 = 0 THEN 'little' ELSE 'big' END AS endian,
           CAST(3 AS INTEGER)               AS n_ifd_entries,
           CAST(1 + doc_id % 8 AS INTEGER)  AS orientation,
           CAST(16 + doc_id % 32 AS INTEGER) AS width_tag
    FROM documents WHERE doc_id % 3 = 2
    """,
)
def jpeg_exif_orientation_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXIF metadata extraction via the JPEG APP1 marker walk
    (operators/multimodal.exif_table): real JPEG streams carrying an
    APP1 Exif segment with a TIFF block — alternating "II"
    little-endian and "MM" big-endian files, so the parser's
    byte-order handling is load-bearing, not decorative — are built
    and then parsed back from wire bytes only (marker walk → Exif
    header → TIFF magic → IFD0 inline tags: Orientation 0x0112,
    ImageWidth 0x0100). Pure stdlib, no codec needed: this is the
    metadata pass a 100 TB image corpus runs BEFORE any pixel decode,
    map-only at scan speed."""
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    return mm.exif_table(docs.filter(F.col("doc_id") % 3 == 2)).select(
        "media_id", "endian", "n_ifd_entries", "orientation", "width_tag"
    )


@register(
    "image_dhash_dedup",
    oracle="""
    WITH img AS (
      -- identity grain (r11 duplicates sweep): the media table is
      -- keyed by doc_id; a replayed id yields ONE media row
      SELECT DISTINCT doc_id AS d, 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h
      FROM documents WHERE doc_id % 3 = 0
    ),
    bits AS (
      SELECT d,
             gy.gy, gx.gx,
             ((d*7 + 3*((gx.gx+1)*w//9) + 5*(gy.gy*h//8)) % 256
              + (d*8 + 3*((gx.gx+1)*w//9) + 5*(gy.gy*h//8)) % 256
              + (d*9 + 3*((gx.gx+1)*w//9) + 5*(gy.gy*h//8)) % 256) // 3
             >
             ((d*7 + 3*(gx.gx*w//9) + 5*(gy.gy*h//8)) % 256
              + (d*8 + 3*(gx.gx*w//9) + 5*(gy.gy*h//8)) % 256
              + (d*9 + 3*(gx.gx*w//9) + 5*(gy.gy*h//8)) % 256) // 3
             AS bit
      FROM img,
           generate_series(0, 7) AS gy(gy),
           generate_series(0, 7) AS gx(gx)
    ),
    hashes AS (
      SELECT d,
             string_agg(CASE WHEN bit THEN '1' ELSE '0' END, ''
                        ORDER BY gy, gx) AS dhash
      FROM bits GROUP BY d
    )
    SELECT dhash,
           CAST(COUNT(*) AS BIGINT) AS n_images,
           CAST(MIN(d) AS BIGINT)   AS min_media_id
    FROM hashes GROUP BY dhash
    """,
)
def image_dhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual near-dup dedup by DIFFERENCE HASH over REAL decoded
    pixels (operators/multimodal.image_dhash): every PNG is inflated
    and unfiltered, floor-sampled to a 9×8 grayscale grid, and
    fingerprinted by its 64 horizontal gradient signs; equal hashes
    form perceptual duplicate groups (the synthetic gradient images
    collide heavily by construction — the grouping is real work). The
    oracle recomputes EVERY BIT analytically from the closed-form
    pixel model and the exact floor-division sampling rule, so a
    single mis-decoded pixel or an off-by-one in the grid flips the
    hash. Decode is Arrow-batched map-only; the dedup shuffle carries
    only (hash, id)."""
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    hashes = mm.image_dhash(mm.synth_media_from_documents(docs))
    return hashes.groupBy("dhash").agg(
        F.count("*").alias("n_images"),
        F.min("media_id").alias("min_media_id"),
    )


@register(
    "embedding_outlier_quarantine",
    oracle=f"""
    -- a non-finite vector is not a measurable point: it cannot carry
    -- a Mahalanobis distance (and would poison its label's moments),
    -- but it IS exactly what this gate exists to catch — quarantined
    -- unconditionally with a NULL distance (r11 extremes sweep)
    WITH ev AS (
      SELECT vec_id, label,
             generate_subscripts(embedding, 1) AS i,
             unnest(embedding)::DOUBLE AS v
      FROM embeddings WHERE {_FINITE_VEC_SQL}
    ),
    stats AS (
      SELECT label, i, AVG(v) AS c,
             AVG(v * v) - AVG(v) * AVG(v) AS var
      FROM ev GROUP BY 1, 2
    ),
    dist AS (
      SELECT ev.vec_id, ev.label,
             ROUND(sqrt(SUM((ev.v - s.c) * (ev.v - s.c)
                            / (s.var + 1e-9))), 4) AS mdist
      FROM ev JOIN stats s ON s.label = ev.label AND s.i = ev.i
      GROUP BY 1, 2
    ),
    thr AS (
      SELECT label, ROUND(AVG(mdist) + 2 * stddev_pop(mdist), 4) AS cut
      FROM dist GROUP BY label
    )
    SELECT d.vec_id, d.label, d.mdist, d.mdist > t.cut AS quarantined
    FROM dist d JOIN thr t ON t.label = d.label
    UNION ALL
    SELECT vec_id, label, NULL::DOUBLE AS mdist, TRUE AS quarantined
    FROM embeddings WHERE NOT {_FINITE_VEC_SQL}
    """,
)
def embedding_outlier_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding OUTLIER QUARANTINE (diagonal-covariance Mahalanobis):
    each vector's distance to its label centroid measured in per-dim
    standard deviations, quarantined past mean + 2σ of its label's
    distance distribution — the feature-space health gate that
    catches mislabeled or corrupted embeddings before they enter a
    training mix. Exactly oracle-checked (no sketch): the per-(label,
    dim) moment table is ONE hash aggregate of the exploded vectors
    (O(labels × d) cells — vectors never shuffle whole), broadcast
    back onto the same exploded stream; thresholds are a label-grain
    readout. Distances rounded to 4dp before the cut on both engines
    so summation order cannot flip quarantine decisions."""
    from pyspark.sql.window import Window as W  # noqa: F401

    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    # a non-finite vector cannot carry a Mahalanobis distance (and
    # would poison its label's moments) — but it IS what this gate
    # exists to catch: quarantined unconditionally, NULL distance
    # (r11 extremes sweep)
    corrupt = emb.filter(~sim.finite_vectors("embedding")).select(
        "vec_id",
        "label",
        F.lit(None).cast("double").alias("mdist"),
        F.lit(True).alias("quarantined"),
    )
    emb = emb.filter(sim.finite_vectors("embedding"))
    ev = emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("i", "v")
    ).withColumn("v", F.col("v").cast("double"))
    stats = ev.groupBy("label", "i").agg(
        F.avg("v").alias("c"),
        (F.avg(F.col("v") * F.col("v")) - F.avg("v") * F.avg("v")).alias(
            "var"
        ),
    )
    dist = (
        ev.join(F.broadcast(stats), ["label", "i"])
        .groupBy("vec_id", "label")
        .agg(
            F.round(
                F.sqrt(
                    F.sum(
                        (F.col("v") - F.col("c")) ** 2
                        / (F.col("var") + F.lit(1e-9))
                    )
                ),
                4,
            ).alias("mdist")
        )
    )
    # consumed by the threshold aggregate AND the output join —
    # materialize the vec-grain frame once (eager checkpoint) instead
    # of replaying the two exploded-vector passes per consumer (r13
    # optimization, guide §5); the posexplode fan-out now lives in the
    # materialization pass — asserted there by scripts/gen_plans.py
    # PRE_AUDITS
    dist = dist.transform(materialize.checkpoint)
    thr = dist.groupBy("label").agg(
        F.round(F.avg("mdist") + 2 * F.stddev_pop("mdist"), 4).alias("cut")
    )
    return (
        dist.join(F.broadcast(thr), "label")
        .select(
            "vec_id",
            "label",
            "mdist",
            (F.col("mdist") > F.col("cut")).alias("quarantined"),
        )
        .unionByName(corrupt)
    )


@register(
    "bmp_header_stats",
    oracle="""
    SELECT d.doc_id AS media_id,
           CAST(8 + d.doc_id % 9 AS INTEGER) AS width,
           CAST(8 + d.doc_id % 7 AS INTEGER) AS height,
           CAST(24 AS INTEGER)               AS bpp,
           CAST(SUM((d.doc_id * 7 + 3 * x.x + 5 * y.y) % 256
                    + (d.doc_id * 8 + 3 * x.x + 5 * y.y) % 256
                    + (d.doc_id * 9 + 3 * x.x + 5 * y.y) % 256) AS BIGINT)
                                             AS pixel_sum
    -- identity grain (r11 duplicates sweep)
    FROM (SELECT DISTINCT doc_id FROM documents) d,
         generate_series(0, 15) AS x(x),
         generate_series(0, 13) AS y(y)
    WHERE d.doc_id % 3 = 2
      AND x.x < 8 + d.doc_id % 9
      AND y.y < 8 + d.doc_id % 7
    GROUP BY d.doc_id
    """,
)
def bmp_header_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BMP/DIB container parse from REAL wire bytes
    (operators/multimodal.bmp_header_table): 24-bit bottom-up BMPs
    with the genuine 4-byte ROW PADDING rule are synthesized from the
    closed-form pixel model and parsed back in a separate pass —
    header validation (BM magic, BITMAPINFOHEADER, planes/bpp/
    compression) plus a padded-row pixel walk whose byte sum the
    oracle regenerates analytically. An off-by-one in the stride
    padding or the bottom-up row order pollutes the sum. Third member
    of the stdlib container family (GIF, EXIF/TIFF, BMP) on the same
    two-pass mapInPandas seam."""
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    return mm.bmp_header_table(docs.filter(F.col("doc_id") % 3 == 2)).select(
        "media_id", "width", "height", "bpp", "pixel_sum"
    )


@register(
    "png_text_chunk_stats",
    oracle="""
    SELECT doc_id AS media_id,
           CAST(2 AS INTEGER) AS n_text_chunks,
           'doc=' || doc_id || ',lang=l' || (doc_id % 5) AS meta_csv,
           TRUE AS decodes_with_text
    FROM documents WHERE doc_id % 3 = 0
    """,
)
def png_text_chunk_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PNG ANCILLARY-CHUNK metadata walk: tEXt chunks (keyword\\0value,
    correct CRCs) are spliced after IHDR and read back from wire
    bytes, and the PIXEL decoder must still accept every file —
    ancillary chunks are transparent to decode, which is exactly what
    a metadata-enrichment stage relies on when it annotates an image
    corpus in place. The oracle regenerates the metadata from the
    seeding rule; the decode boolean is engine-verified against the
    real (chunk-CRC-checking) decoder."""
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    return mm.png_text_table(docs.filter(F.col("doc_id") % 3 == 0)).select(
        "media_id", "n_text_chunks", "meta_csv", "decodes_with_text"
    )


@register(
    "minhash_band_sweep_audit",
    oracle="""
    WITH tok AS (
      SELECT doc_id, list_filter(string_split_regex(text, '\\s+'),
                                 t -> t <> '') AS tk
      FROM documents
    ),
    sh AS (
      SELECT doc_id,
             unnest(list_distinct(
               CASE WHEN len(tk) >= 3
                    THEN list_transform(range(1, len(tk) - 1),
                                        i -> array_to_string(tk[i:i+2], ' '))
                    ELSE CAST([] AS VARCHAR[]) END)) AS shingle
      FROM tok
    ),
    c AS (SELECT doc_id, COUNT(*) AS set_size FROM sh GROUP BY doc_id),
    i AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS inter
          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
    exact AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_true
      FROM i
      JOIN c ca ON ca.doc_id = i.a_id
      JOIN c cb ON cb.doc_id = i.b_id
      WHERE inter * 1.0 / (ca.set_size + cb.set_size - inter) >= 0.7
    )
    SELECT CAST(bands AS BIGINT) AS bands,
           CAST(64 / bands AS BIGINT) AS rows_per_band,
           exact.n_true AS n_pairs,
           TRUE AS matches_exact
    FROM exact, unnest([8, 16, 32]) AS t(bands)
    """,
)
def minhash_band_sweep_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH PARAMETER SWEEP audit — the banding s-curve made
    empirical: the same 64-permutation signatures banded three ways
    (8×8, 16×4, 32×2) must each recover EXACTLY the exact-Jaccard
    ≥0.7 pair set after verification (banding changes the CANDIDATE
    volume and the s-curve's position, not the verified output — a
    config whose candidate recall dipped below 1.0 at this threshold
    would lose pairs and fail the hash). This is the audit you run
    before fixing bands/rows for a corpus: it certifies the operating
    point. Per config the engine computes the banded pipeline end to
    end and diffs it against the exact posting-join baseline
    (a multiset diff both ways — a bounded-count readout, pairs are
    corpus-pair-sized, not row-sized)."""
    import facebook_ads_bigquery_etl_spark.operators.dedup as dd

    docs = load_tables(spark, sf_dir, "documents")["documents"]
    # the exact posting-join baseline is the same for all three band
    # configs, and each config's pair set feeds its count and its diff
    exact = materialize.persist(
        dd.jaccard_pairs(docs, text_col="text", threshold=0.7, ngram=3)
        .select("a_id", "b_id")
    )
    rows = []
    for bands in (8, 16, 32):
        got = materialize.persist(
            dd.minhash_dup_pairs(
                docs, threshold=0.7, num_perm=64, bands=bands, ngram=3
            ).select("a_id", "b_id")
        )
        n_pairs = got.count()
        matches = multiset_diff(exact, got) == (0, 0)
        rows.append((bands, 64 // bands, n_pairs, matches))
    return spark.createDataFrame(
        rows,
        "bands long, rows_per_band long, n_pairs long,"
        " matches_exact boolean",
    )


@register(
    "tiff_multi_ifd_stats",
    oracle="""
    SELECT doc_id AS media_id,
           CASE WHEN doc_id % 2 = 0 THEN 'little' ELSE 'big' END AS endian,
           CAST(2 + doc_id % 3 AS INTEGER)                AS n_ifds,
           CAST(3 + (1 + doc_id % 3) * 2 AS INTEGER)      AS n_entries,
           CAST(1 + doc_id % 8 AS INTEGER)                AS orientation,
           array_to_string(list_transform(
               range(0, 2 + doc_id % 3),
               k -> greatest(1, (16 + doc_id % 32) >> k)), ',') AS widths_csv,
           TRUE AS chain_ok
    FROM documents WHERE doc_id % 3 = 0
    """,
)
def tiff_multi_ifd_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIFF multi-IFD chain walk from REAL wire bytes
    (operators/multimodal.tiff_ifd_table — round-6 slate): genuine
    TIFF headers with 2-4 CHAINED IFDs (IFD0 + halved thumbnail
    directories, the EXIF IFD1 pattern) are synthesized in one
    mapInPandas pass and walked back in a separate pass that follows
    the next-IFD offsets under a cycle guard. The oracle regenerates
    every chained field — IFD count, total entry count, orientation,
    and the per-IFD width sequence (which requires actually following
    the chain, not just reading IFD0) — from the closed-form model;
    a parser that stopped at IFD0 or misread an offset breaks the
    hash. Same stdlib-container seam as GIF/EXIF/BMP/WAV."""
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    return mm.tiff_ifd_table(docs.filter(F.col("doc_id") % 3 == 0)).select(
        "media_id", "endian", "n_ifds", "n_entries", "orientation",
        "widths_csv", "chain_ok",
    )


@register(
    "cross_lingual_contamination",
    oracle="""
    WITH norm AS (
      SELECT doc_id, lang,
             list_filter(string_split_regex(
               regexp_replace(
                 translate(lower(text),
                           'áàâäãéèêëíìîïóòôöõúùûüçñ',
                           'aaaaaeeeeiiiiooooouuuucn'),
                 '[^a-z0-9 ]', ' ', 'g'),
               '\\s+'), t -> t <> '') AS tk
      FROM documents
    ),
    grams AS (
      SELECT doc_id, lang,
             unnest(list_distinct(
               CASE WHEN len(tk) >= 3
                    THEN list_transform(range(1, len(tk) - 1),
                                        i -> array_to_string(tk[i:i+2], ' '))
                    ELSE CAST([] AS VARCHAR[]) END)) AS g
      FROM norm
    ),
    bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 11 = 0),
    corpus AS (SELECT * FROM grams WHERE doc_id % 11 <> 0),
    hits AS (
      SELECT c.doc_id, c.lang, COUNT(*) AS n_hits
      FROM corpus c JOIN bench b ON c.g = b.g
      GROUP BY 1, 2
    ),
    docs AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM documents WHERE doc_id % 11 <> 0 GROUP BY lang
    )
    SELECT d.lang,
           d.n_docs,
           CAST(COUNT(h.doc_id) AS BIGINT)          AS n_contaminated,
           CAST(COALESCE(SUM(h.n_hits), 0) AS BIGINT) AS total_gram_hits
    FROM docs d LEFT JOIN hits h ON h.lang = d.lang
    GROUP BY d.lang, d.n_docs
    """,
)
def cross_lingual_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-LINGUAL benchmark decontamination (SURVEY §7c slate,
    deferred from round 6): a held-out eval slice (every 11th doc, any
    language) is checked for leakage into the rest of the corpus per
    LANGUAGE — after a transliteration NORMALIZER (lowercase, accent
    folding via an explicit translate table so both engines share the
    exact mapping, punctuation collapse), because eval text that leaks
    into a foreign-language crawl typically survives only modulo
    diacritics and casing. Contamination = any shared normalized
    3-gram; the benchmark gram set is DISTINCT-collapsed and
    broadcast-joined against corpus grams (the 13-gram Bloom variant
    handles the scale where the gram set outgrows a broadcast — this
    exact-join form is the audit baseline). Per-language row: corpus
    docs, contaminated docs, total gram hits — all value-checked."""
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    norm = F.expr(
        r"""filter(split(regexp_replace(
              translate(lower(text),
                        'áàâäãéèêëíìîïóòôöõúùûüçñ',
                        'aaaaaeeeeiiiiooooouuuucn'),
              '[^a-z0-9 ]', ' '), '\\s+'), t -> t <> '')"""
    )
    from ..operators.exprs import let

    # let-bound: the normalize+split runs ONCE per row, not once per
    # gram position
    shingles = let(norm, lambda tk: F.array_distinct(tx.ngrams(tk, 3)))
    grams = docs.select("doc_id", "lang", F.explode(shingles).alias("g"))
    bench = grams.filter(F.col("doc_id") % 11 == 0).select("g").distinct()
    corpus = grams.filter(F.col("doc_id") % 11 != 0)
    hits = (
        corpus.join(F.broadcast(bench), "g")
        .groupBy("doc_id", "lang")
        .agg(F.count("*").alias("n_hits"))
    )
    base = (
        docs.filter(F.col("doc_id") % 11 != 0)
        .groupBy("lang")
        .agg(F.count("*").alias("n_docs"))
    )
    return (
        base.join(hits.withColumnRenamed("lang", "h_lang"),
                  base.lang == F.col("h_lang"), "left")
        .groupBy("lang", "n_docs")
        .agg(
            F.count("doc_id").alias("n_contaminated"),
            F.coalesce(F.sum("n_hits"), F.lit(0)).alias("total_gram_hits"),
        )
    )


@register(
    "domain_router_mix",
    oracle=f"""
    -- per-row rounds ride the decimal-string domain (r12 ROUND-tie
    -- convention, integrity.round_double_sql): ratios and sigmoids
    -- are finite and ≤ ~20; twins generated from
    -- integrity.round_double_sql (r13)
    WITH feats AS (
      SELECT doc_id, source,
             ln(1 + len(tk))                                    AS f_len,
             {round_double_sql("len(list_filter(tk, t -> list_contains( ['the','a','of','and','to','in','is','it'], t))) * 1e0 / len(tk)", 6)}                                       AS f_stop,
             {round_double_sql("list_sum(list_transform(tk, t -> len(t))) * 1e0 / len(tk)", 6)}                                       AS f_alen
      FROM (SELECT doc_id, source,
                   list_filter(string_split_regex(lower(text), '\\s+'),
                               t -> t <> '') AS tk
            FROM documents)
      WHERE len(tk) > 0
    ),
    raw_scores AS (
      SELECT doc_id, source,
             1e0/(1e0+exp(-( 0.40e0*f_len + 1.5e0*f_stop - 0.10e0*f_alen - 1.2e0))) AS r_web,
             1e0/(1e0+exp(-( 0.10e0*f_len - 2.0e0*f_stop + 0.30e0*f_alen - 0.4e0))) AS r_code,
             1e0/(1e0+exp(-( 0.55e0*f_len + 0.5e0*f_stop + 0.05e0*f_alen - 1.8e0))) AS r_books,
             1e0/(1e0+exp(-(-0.20e0*f_len + 1.0e0*f_stop + 0.20e0*f_alen - 0.2e0))) AS r_news
      FROM feats
    ),
    scored AS (
      SELECT doc_id, source,
             {round_double_sql("r_web", 6)}   AS s_web,
             {round_double_sql("r_code", 6)}  AS s_code,
             {round_double_sql("r_books", 6)} AS s_books,
             {round_double_sql("r_news", 6)}  AS s_news
      FROM raw_scores
    ),
    routed AS (
      SELECT source,
             CASE greatest(s_web, s_code, s_books, s_news)
               WHEN s_web   THEN 'web'
               WHEN s_code  THEN 'code'
               WHEN s_books THEN 'books'
               ELSE 'news' END                          AS domain,
             greatest(s_web, s_code, s_books, s_news)   AS top_score
      FROM scored
    )
    SELECT source, domain,
           CAST(COUNT(*) AS BIGINT)      AS n_docs,
           ROUND(AVG(top_score), 6)      AS avg_top_score
    FROM routed GROUP BY source, domain
    """,
)
def domain_router_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOMAIN-CLASSIFIER ROUTING MIX (SURVEY §7c slate, deferred from
    round 6): the quality-classifier seam generalized from one gate to
    a PANEL of four broadcast linear heads (web/code/books/news —
    fixed literal weights standing in for a model table) over the same
    three map-only features; each document routes to its argmax head
    (ties break by the declared head order in both engines — scores
    are rounded to 6dp BEFORE the argmax so summation order cannot
    flip a route), and the output is the routing table a mixture
    builder consumes: docs and mean top score per (source, domain).
    Still zero shuffle until the final small agg, zero Python —
    a K-head learned router at scan speed, the pattern that scales to
    100 TB exactly like the single gate."""
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    # a zero-token document has no routing features: unroutable,
    # excluded on both engines (round-11 extremes sweep)
    feats = docs.withColumn(
        "tk", F.expr(r"filter(split(lower(text), '\\s+'), t -> t <> '')")
    ).filter(F.size("tk") > 0).select(
        "doc_id",
        "source",
        F.log(F.lit(1) + F.size("tk")).alias("f_len"),
        F.round(
            F.expr(
                "size(filter(tk, t -> t IN"
                " ('the','a','of','and','to','in','is','it')))"
            )
            / F.size("tk"),
            6,
        ).alias("f_stop"),
        F.round(
            F.expr("aggregate(tk, 0L, (acc, t) -> acc + length(t))")
            / F.size("tk"),
            6,
        ).alias("f_alen"),
    )
    heads = {
        "web": (0.40, 1.5, -0.10, -1.2),
        "code": (0.10, -2.0, 0.30, -0.4),
        "books": (0.55, 0.5, 0.05, -1.8),
        "news": (-0.20, 1.0, 0.20, -0.2),
    }
    scored = feats.select(
        "source",
        *[
            F.round(
                F.lit(1.0)
                / (
                    F.lit(1.0)
                    + F.exp(
                        -(
                            F.lit(wl) * F.col("f_len")
                            + F.lit(ws) * F.col("f_stop")
                            + F.lit(wa) * F.col("f_alen")
                            + F.lit(b)
                        )
                    )
                ),
                6,
            ).alias(f"s_{d}")
            for d, (wl, ws, wa, b) in heads.items()
        ],
    )
    top = F.greatest(*[F.col(f"s_{d}") for d in heads])
    domain = F.when(F.col("s_web") == top, F.lit("web"))
    for d in ("code", "books"):
        domain = domain.when(F.col(f"s_{d}") == top, F.lit(d))
    domain = domain.otherwise(F.lit("news"))
    return (
        scored.select("source", domain.alias("domain"), top.alias("top_score"))
        .groupBy("source", "domain")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("top_score"), 6).alias("avg_top_score"),
        )
    )


@register(
    "dedup_corpus_token_accounting",
    oracle="""
    WITH tok AS (
      SELECT doc_id, text,
             list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS tk
      FROM documents
    ),
    raw AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS d,
             CAST(COALESCE(SUM(len(tk)), 0) AS BIGINT) AS t
      FROM tok
    ),
    keep AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY sha256(text)),
    ex AS (SELECT tok.doc_id, tk FROM tok JOIN keep USING (doc_id)),
    exagg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS d,
             CAST(COALESCE(SUM(len(tk)), 0) AS BIGINT) AS t
      FROM ex
    ),
    seg AS (
      SELECT doc_id, i AS seg_idx,
             array_to_string(tk[i*4+1 : i*4+4], ' ') AS seg,
             least(4, len(tk) - i*4)                 AS seg_tokens
      FROM (SELECT doc_id, tk,
                   unnest(range(0, CAST(ceil(len(tk) / 4.0) AS INT))) AS i
            FROM ex)
    ),
    ranked AS (
      SELECT doc_id, seg_tokens,
             ROW_NUMBER() OVER (PARTITION BY seg
                                ORDER BY doc_id, seg_idx) AS rn
      FROM seg
    ),
    surv AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN rn = 1 THEN seg_tokens ELSE 0 END)
                  AS BIGINT) AS kept
      FROM ranked GROUP BY doc_id
    ),
    ld AS (
      SELECT CAST(COALESCE(SUM(CASE WHEN kept > 0 THEN 1 ELSE 0 END), 0)
                  AS BIGINT) AS d,
             CAST(COALESCE(SUM(kept), 0) AS BIGINT) AS t
      FROM surv
    ),
    pk AS (
      SELECT CAST(COALESCE(SUM(CASE WHEN kept > 0 THEN 1 ELSE 0 END), 0)
                  AS BIGINT) AS d,
             CAST(COALESCE(SUM(kept), 0) AS BIGINT) AS t,
             CAST(COALESCE(SUM(CAST(ceil(kept / 128.0) AS BIGINT)), 0)
                  AS BIGINT) AS sq,
             CAST(COALESCE(SUM(CAST(ceil(kept / 128.0) AS BIGINT) * 128
                               - kept), 0) AS BIGINT) AS pad
      FROM surv WHERE kept > 0
    )
    SELECT 'a_raw' AS stage, d AS n_docs, t AS n_tokens,
           CAST(0 AS BIGINT) AS n_sequences, CAST(0 AS BIGINT) AS pad_tokens
    FROM raw
    UNION ALL
    SELECT 'b_exact_dedup', d, t, CAST(0 AS BIGINT), CAST(0 AS BIGINT) FROM exagg
    UNION ALL
    SELECT 'c_line_dedup', d, t, CAST(0 AS BIGINT), CAST(0 AS BIGINT) FROM ld
    UNION ALL
    SELECT 'd_packed', d, t, sq, pad FROM pk
    """,
)
def dedup_corpus_token_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEDUPLICATED-CORPUS TOKEN ACCOUNTING (SURVEY §7c slate,
    deferred from round 6): the end-to-end manifest a dataset card
    reports — token counts through the curation funnel, each stage
    feeding the next: raw corpus → exact dedup (min-id per body
    digest) → cross-document line dedup (first-writer-wins 4-token
    segments, the C4 recipe shared with `line_dedup_stats`) → 128-token
    sequence packing (per-doc ceil-pack: sequence count + padding
    waste). One row per stage (stage keys prefixed so the sort order
    IS the pipeline order). Re-states the family's independent
    queries as one consistent ledger — the number that actually gets
    quoted ("X B tokens after dedup") is the composition, and the
    oracle recomputes every stage transitively so an inconsistency
    between the family members breaks the hash. Scale shape: digests
    shuffle, segments shuffle once, packing is a per-doc closed form —
    no new shuffle beyond the members' own."""
    from pyspark.sql.window import Window as W

    docs = load_tables(spark, sf_dir, "documents")["documents"]
    tok = docs.select(
        "doc_id",
        "text",
        F.expr(r"filter(split(text, '\\s+'), t -> t <> '')").alias("tk"),
    )
    raw = tok.agg(
        F.count("*").alias("n_docs"), F.sum(F.size("tk")).alias("n_tokens")
    )
    keep = docs.groupBy(F.sha2("text", 256)).agg(
        F.min("doc_id").alias("doc_id")
    ).select("doc_id")
    ex = tok.join(keep, "doc_id")
    exagg = ex.agg(
        F.count("*").alias("n_docs"), F.sum(F.size("tk")).alias("n_tokens")
    )
    # a zero-token doc has no segments (Spark's sequence(0, -1) would
    # fabricate a descending [0, -1] pair where DuckDB's range(0, 0)
    # is empty — r11 extremes sweep, same guard as line_dedup_stats)
    seg = ex.filter(F.size("tk") > 0).select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(0, cast(ceil(size(tk)/4.0) as int) - 1),"
                " i -> struct(i as seg_idx,"
                "   concat_ws(' ', slice(tk, i*4+1, 4)) as seg,"
                "   least(4, size(tk) - i*4) as seg_tokens))"
            )
        ).alias("s"),
    ).select("doc_id", "s.seg_idx", "s.seg", "s.seg_tokens")
    ranked = seg.withColumn(
        "rn",
        F.row_number().over(
            W.partitionBy("seg").orderBy("doc_id", "seg_idx")
        ),
    )
    surv = ranked.groupBy("doc_id").agg(
        F.sum(F.when(F.col("rn") == 1, F.col("seg_tokens")).otherwise(0))
        .alias("kept")
    )
    ld = surv.agg(
        F.sum((F.col("kept") > 0).cast("long")).alias("n_docs"),
        F.sum("kept").alias("n_tokens"),
    )
    nseq = F.ceil(F.col("kept") / 128.0)
    pk = surv.filter(F.col("kept") > 0).agg(
        F.count("*").alias("n_docs"),
        F.sum("kept").alias("n_tokens"),
        F.sum(nseq).alias("n_sequences"),
        F.sum(nseq * 128 - F.col("kept")).alias("pad_tokens"),
    )
    zero = F.lit(0).cast("long")

    def stage(df, name, with_pack=False):
        # coalesce: a stage whose input frame is empty (empty corpus,
        # or every doc fully line-deduped away) reads SUM as NULL —
        # the ledger reports 0 tokens, not NULL (r10 empty sweep; the
        # oracle coalesces identically)
        def z(c):
            return F.coalesce(F.col(c), F.lit(0)).cast("long").alias(c)

        cols = [F.lit(name).alias("stage"), z("n_docs"), z("n_tokens")]
        if with_pack:
            cols += [z("n_sequences"), z("pad_tokens")]
        else:
            cols += [zero.alias("n_sequences"), zero.alias("pad_tokens")]
        return df.select(*cols)

    return (
        stage(raw, "a_raw")
        .unionByName(stage(exagg, "b_exact_dedup"))
        .unionByName(stage(ld, "c_line_dedup"))
        .unionByName(stage(pk, "d_packed", with_pack=True))
    )


@register(
    "bloom_fpr_audit",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'),
                                 t -> t <> '') AS tk
      FROM documents
    ),
    grams AS (
      SELECT DISTINCT doc_id, g
      FROM (SELECT doc_id,
                   unnest(CASE WHEN len(tk) >= 13
                          THEN list_transform(range(1, len(tk) - 11),
                                 i -> array_to_string(tk[i:i+12], ' '))
                          ELSE CAST([] AS VARCHAR[]) END) AS g
            FROM tok)
    ),
    hashed AS (
      SELECT doc_id, g,
             list_reduce(list_prepend(0::BIGINT,
               list_transform(range(1, len(g) + 1),
                              i -> ascii(g[i])::BIGINT)),
               (acc, c) -> (acc * 31 + c) % 1000000007) AS base
      FROM grams
    ),
    bits AS (
      SELECT doc_id, g,
             (base * 2654435761 % 1000000007) % 8192 AS b1,
             (base * 40503 + 17) % 1000000007 % 8192 AS b2,
             (base * 1009 + 97) % 1000000007 % 8192  AS b3
      FROM hashed
    ),
    bench_bits AS (
      SELECT DISTINCT bit FROM (
        SELECT unnest([b1, b2, b3]) AS bit FROM bits WHERE doc_id < 20)
    ),
    corpus AS (
      SELECT g,
             b1 IN (SELECT bit FROM bench_bits)
             AND b2 IN (SELECT bit FROM bench_bits)
             AND b3 IN (SELECT bit FROM bench_bits) AS bloom_hit,
             g IN (SELECT g FROM grams WHERE doc_id < 20) AS exact_hit
      FROM bits WHERE doc_id >= 20
    ),
    agg AS (
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM bench_bits) AS n_bench_bits,
             CAST(COUNT(*) AS BIGINT)                          AS n_corpus_grams,
             CAST(SUM(exact_hit::INT) AS BIGINT)               AS n_exact_shared,
             CAST(SUM((bloom_hit AND NOT exact_hit)::INT)
                  AS BIGINT)                                   AS n_false_positives,
             CAST(SUM((exact_hit AND NOT bloom_hit)::INT)
                  AS BIGINT)                                   AS n_false_negatives
      FROM corpus
    )
    -- integer-count ratios: decimal-string rounds (r13 class-a
    -- conversion, integrity.round_double_sql)
    SELECT CAST(8192 AS BIGINT) AS m_bits,
           n_bench_bits,
           {round_double_sql("n_bench_bits / 8192e0", 6)} AS fill_frac,
           n_corpus_grams,
           n_exact_shared,
           n_false_positives,
           {round_double_sql("n_false_positives * 1e0 / greatest(1, n_corpus_grams - n_exact_shared)", 6)}
             AS measured_fpr,
           n_false_negatives = 0 AS no_false_negatives,
           n_false_positives * 1e0
             / greatest(1, n_corpus_grams - n_exact_shared)
             BETWEEN pow(n_bench_bits / 8192e0, 3) / 2
                 AND pow(n_bench_bits / 8192e0, 3) * 2
             AS fpr_matches_model
    FROM agg
    """,
)
def bloom_fpr_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-decontamination FALSE-POSITIVE-RATE audit (round-8 slate
    pulled forward): the 13-gram pipeline rebuilt with a DELIBERATELY
    small filter (m=2^13, k=3 — the production m=2^17 filter never
    misfires at this corpus size, which proves nothing about its error
    model) so false positives actually occur and can be measured
    against the exact gram join. The audit hash-checks the EXACT
    false-positive count (both engines evaluate identical polynomial
    hashes, so FP is deterministic, not sampled), the measured FPR,
    the no-false-negative invariant, and that the measured rate sits
    within 2× of the fill-ratio model (s/m)^k — measured margins at
    sf0.001/sf0.01: ratio 1.09/0.97 against a 2× gate. This is the
    number that justifies sizing m from the gram budget at 100 TB: the
    model extrapolates, and this row proves the model."""
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    grams = (
        docs.withColumn(
            "tk",
            F.expr(r"filter(split(lower(text), '\\s+'), t -> t <> '')"),
        )
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "CASE WHEN size(tk) >= 13 THEN"
                    " transform(sequence(0, size(tk) - 13),"
                    "  i -> concat_ws(' ', slice(tk, i + 1, 13)))"
                    " ELSE array() END"
                )
            ).alias("g"),
        )
        .distinct()
    )
    hashed = grams.withColumn(
        "base",
        F.expr(
            "aggregate(transform(filter(split(g, ''), c -> c <> ''),"
            " c -> ascii(c)),"
            " 0L, (acc, c) -> (acc * 31 + c) % 1000000007)"
        ),
    ).select(
        "doc_id",
        "g",
        ((F.col("base") * 2654435761) % 1000000007 % 8192).alias("b1"),
        ((F.col("base") * 40503 + 17) % 1000000007 % 8192).alias("b2"),
        ((F.col("base") * 1009 + 97) % 1000000007 % 8192).alias("b3"),
    )
    # materialize once (eager checkpoint) — same 3-consumer replay as
    # bloom_decontaminate_13gram (r13 optimization, guide §5)
    hashed = hashed.transform(materialize.checkpoint)
    bench = hashed.filter(F.col("doc_id") < 20)
    bench_bits = (
        bench.select(F.explode(F.array("b1", "b2", "b3")).alias("bit"))
        .distinct()
        .agg(F.collect_set("bit").alias("bits"))
    )
    bench_grams = bench.select("g").distinct().withColumn(
        "exact_hit", F.lit(True)
    )
    probed = (
        hashed.filter(F.col("doc_id") >= 20)
        .crossJoin(F.broadcast(bench_bits))
        .withColumn(
            "bloom_hit",
            F.array_contains("bits", F.col("b1"))
            & F.array_contains("bits", F.col("b2"))
            & F.array_contains("bits", F.col("b3")),
        )
        .join(F.broadcast(bench_grams), "g", "left")
        .withColumn("exact_hit", F.coalesce("exact_hit", F.lit(False)))
    )
    # n_bench_bits reads from the 1-row bench_bits frame itself, like
    # the oracle's scalar subquery — a MAX over `probed` would be NULL
    # whenever the probe side is empty even though the bench filter
    # has bits (the orders_pareto empty-readout shape; r10 empty
    # sweep)
    agg = probed.agg(
        F.count("*").alias("n_corpus_grams"),
        F.sum(F.col("exact_hit").cast("long")).alias("n_exact_shared"),
        F.sum((F.col("bloom_hit") & ~F.col("exact_hit")).cast("long"))
        .alias("n_false_positives"),
        F.sum((F.col("exact_hit") & ~F.col("bloom_hit")).cast("long"))
        .alias("n_false_negatives"),
    ).crossJoin(
        F.broadcast(
            bench_bits.select(
                F.size("bits").cast("long").alias("n_bench_bits")
            )
        )
    )
    fill = F.col("n_bench_bits") / F.lit(8192.0)
    clean = F.greatest(
        F.lit(1).cast("long"),
        F.col("n_corpus_grams") - F.col("n_exact_shared"),
    )
    fpr = F.col("n_false_positives") / clean
    return agg.select(
        F.lit(8192).cast("long").alias("m_bits"),
        "n_bench_bits",
        F.round(fill, 6).alias("fill_frac"),
        "n_corpus_grams",
        "n_exact_shared",
        "n_false_positives",
        F.round(fpr, 6).alias("measured_fpr"),
        (F.col("n_false_negatives") == 0).alias("no_false_negatives"),
        fpr.between(F.pow(fill, 3) / 2, F.pow(fill, 3) * 2).alias(
            "fpr_matches_model"
        ),
    )


@register(
    "tokenizer_fertility_by_lang",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang,
             regexp_extract_all(text, '{_BPE_SQL}') AS bpe,
             len(list_filter(string_split_regex(text, '\\s+'),
                             t -> t <> '')) AS n_ws
      FROM documents
    ),
    occ AS (SELECT lang, unnest(bpe) AS t FROM toks),
    vocab AS (
      SELECT t FROM (
        SELECT t, COUNT(*) AS f FROM occ GROUP BY t
        ORDER BY f DESC, t ASC LIMIT 256)
    ),
    oov AS (
      SELECT lang,
             CAST(COUNT(*) AS BIGINT) AS n_occ,
             CAST(SUM(CASE WHEN t IN (SELECT t FROM vocab)
                           THEN 0 ELSE 1 END) AS BIGINT) AS n_oov,
             CAST(SUM(len(t)) AS BIGINT) AS n_chars
      FROM occ GROUP BY lang
    ),
    base AS (
      SELECT lang,
             CAST(COUNT(*) AS BIGINT)      AS n_docs,
             CAST(SUM(len(bpe)) AS BIGINT) AS n_bpe,
             CAST(SUM(n_ws) AS BIGINT)     AS n_ws
      FROM toks GROUP BY lang
    )
    -- integer-aggregate ratios, bit-identical per row: decimal-string
    -- rounds (r13 class-a conversion, integrity.round_double_sql)
    SELECT b.lang, b.n_docs, b.n_bpe, b.n_ws,
           {round_double_sql("b.n_bpe * 1e0 / b.n_ws", 6)}      AS bpe_per_word,
           {round_double_sql("o.n_chars * 1e0 / o.n_occ", 6)}   AS chars_per_token,
           {round_double_sql("o.n_oov * 1e0 / o.n_occ", 6)}     AS oov_rate
    FROM base b JOIN oov o USING (lang)
    """,
)
def tokenizer_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKENIZER-FERTILITY audit per language (round-8 slate pulled
    forward): the number multilingual data work actually budgets with
    — BPE pre-tokens per whitespace word, characters per token, and
    the OOV occurrence rate against a top-256 corpus vocabulary
    (deterministic tie-break: frequency desc, token asc — both engines
    build the SAME vocabulary, so coverage is value-checked, not
    approximated). A language whose fertility or OOV rate is an
    outlier is paying more sequence length per unit text — the signal
    that drives per-language token budgets and vocab sizing. Scale
    shape: one gram hash agg for the vocabulary (top-K via ONE
    ordered limit over the agg), occurrences join the broadcast
    vocabulary, per-lang rollup — no shuffle carries document text."""
    from pyspark.sql.window import Window as W

    docs = load_tables(spark, sf_dir, "documents")["documents"]
    toks = docs.select(
        "doc_id",
        "lang",
        tx.bpe_ish_tokens("text").alias("bpe"),
        F.size(tx.tokens("text")).cast("long").alias("n_ws"),
    )
    occ = toks.select("lang", F.explode("bpe").alias("t"))
    vocab = (
        occ.groupBy("t")
        .agg(F.count("*").alias("f"))
        .orderBy(F.desc("f"), F.asc("t"))
        .limit(256)
        .select("t")
        .withColumn("in_vocab", F.lit(True))
    )
    oov = (
        occ.join(F.broadcast(vocab), "t", "left")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_occ"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_oov"),
            F.sum(F.length("t")).cast("long").alias("n_chars"),
        )
    )
    base = toks.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size("bpe")).cast("long").alias("n_bpe"),
        F.sum("n_ws").cast("long").alias("n_ws"),
    )
    return base.join(oov, "lang").select(
        "lang",
        "n_docs",
        "n_bpe",
        "n_ws",
        F.round(F.col("n_bpe") / F.col("n_ws"), 6).alias("bpe_per_word"),
        F.round(F.col("n_chars") / F.col("n_occ"), 6).alias(
            "chars_per_token"
        ),
        F.round(F.col("n_oov") / F.col("n_occ"), 6).alias("oov_rate"),
    )


@register(
    "ngram_novelty_scores",
    oracle="""
    WITH tok AS (
      SELECT doc_id, list_filter(string_split_regex(text, '\\s+'),
                                 t -> t <> '') AS tk
      FROM documents
    ),
    grams AS (
      SELECT doc_id,
             unnest(list_distinct(
               CASE WHEN len(tk) >= 3
                    THEN list_transform(range(1, len(tk) - 1),
                                        i -> array_to_string(tk[i:i+2], ' '))
                    ELSE CAST([] AS VARCHAR[]) END)) AS g
      FROM tok
    ),
    ref AS (
      SELECT g, CAST(COUNT(*) AS DOUBLE) AS df
      FROM grams WHERE doc_id % 7 < 2 GROUP BY g
    ),
    nref AS (
      SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n
      FROM grams WHERE doc_id % 7 < 2
    ),
    sc AS (
      SELECT s.doc_id, r.df
      FROM grams s LEFT JOIN ref r USING (g)
      WHERE s.doc_id % 7 >= 2
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN df IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_novel,
           ROUND(SUM(CASE WHEN df IS NULL THEN 1 ELSE 0 END) * 1.0
                 / COUNT(*), 6) AS novelty,
           ROUND(COALESCE(AVG(CASE WHEN df IS NOT NULL
                 THEN -log2(df / (SELECT n FROM nref)) END), 0.0), 6)
             AS ref_surprisal
    FROM sc GROUP BY doc_id
    """,
)
def ngram_novelty_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-GRAM NOVELTY SCORING against a reference corpus (round-8 slate
    pulled forward) — the curation signal for "is this new data worth
    training on": a deterministic reference slice (doc_id % 7 < 2)
    contributes a distinct-3-gram document-frequency table; every other
    document is scored against it with

    * ``novelty``  — fraction of the doc's distinct 3-grams absent from
      the reference (coverage complement: 1.0 = nothing seen before);
    * ``ref_surprisal`` — mean −log2(df/N_ref) over the grams the
      reference HAS seen (the cross-entropy-style rarity of the
      overlap; 0.0 when the doc shares nothing).

    Scale shape: gram fan-out is map-side (let-bound tokenizer so the
    split runs once per row, not per gram — operators/exprs.let); the
    reference table is an aggregated (gram, df) frame — the join
    shuffles short gram strings and 8-byte counts, never document
    bodies, and partial aggregation folds per-doc counts map-side. At
    100 TB the gram string would ride as an xxhash64 digest (the
    fingerprint-store pattern in ``incremental_dedup_new_docs``); the
    string form here keeps the row DuckDB-value-checkable."""
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    # the gram stream feeds three consumers (reference doc count, the
    # reference df table, the scored side) — materialize it once
    # (eager checkpoint) instead of replaying tokenize + shingle +
    # explode per consumer (r13 optimization, guide §5); the gram
    # Generate now lives in the materialization pass — asserted there
    # by scripts/gen_plans.py PRE_AUDITS
    grams = docs.select(
        "doc_id", F.explode(dd.word_shingles("text", 3)).alias("g")
    ).transform(materialize.checkpoint)
    ref_grams = grams.filter(F.col("doc_id") % 7 < 2)
    n_ref = ref_grams.select("doc_id").distinct().count()
    ref = ref_grams.groupBy("g").agg(
        F.count("*").cast("double").alias("df")
    )
    scored = grams.filter(F.col("doc_id") % 7 >= 2).join(ref, "g", "left")
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_grams"),
        F.sum(F.col("df").isNull().cast("long")).alias("n_novel"),
        F.round(
            F.sum(F.col("df").isNull().cast("long"))
            / F.count("*"),
            6,
        ).alias("novelty"),
        F.round(
            F.coalesce(
                F.avg(
                    F.when(
                        F.col("df").isNotNull(),
                        -F.log2(F.col("df") / F.lit(float(n_ref))),
                    )
                ),
                F.lit(0.0),
            ),
            6,
        ).alias("ref_surprisal"),
    )


@register(
    "doc_kl_novelty",
    oracle="""
    WITH w AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         t -> t <> '') AS ws
      FROM documents
    ),
    n AS (SELECT doc_id, ws, len(ws) AS m FROM w WHERE len(ws) >= 3),
    tri AS (
      SELECT doc_id, unnest(ws[1:m-2]) AS a, unnest(ws[2:m-1]) AS b,
             unnest(ws[3:m]) AS c
      FROM n
    ),
    tc AS (SELECT a, b, c, COUNT(*) AS c3 FROM tri
           WHERE doc_id % 7 < 2 GROUP BY 1, 2, 3),
    bc AS (SELECT a, b, SUM(c3) AS c2 FROM tc GROUP BY 1, 2),
    v  AS (SELECT COUNT(DISTINCT x) AS vocab FROM (
             SELECT unnest(ws) AS x FROM n WHERE doc_id % 7 < 2)),
    dtc AS (
      SELECT doc_id, a, b, c, COUNT(*) AS cnt FROM tri
      WHERE doc_id % 7 >= 2 GROUP BY 1, 2, 3, 4
    ),
    scored AS (
      SELECT d.doc_id, d.cnt,
             SUM(d.cnt) OVER (PARTITION BY d.doc_id, d.a, d.b) AS cnt2,
             ln((COALESCE(tc.c3, 0) + 0.5e0)
                / (COALESCE(bc.c2, 0) + 0.5e0 * v.vocab)) AS logp
      FROM dtc d
      LEFT JOIN tc ON tc.a = d.a AND tc.b = d.b AND tc.c = d.c
      LEFT JOIN bc ON bc.a = d.a AND bc.b = d.b
      CROSS JOIN v
    ),
    tot AS (SELECT doc_id, SUM(cnt) AS n_tris FROM scored GROUP BY doc_id)
    SELECT s.doc_id,
           CAST(t.n_tris AS BIGINT)                            AS n_tris,
           ROUND(-SUM(s.cnt * s.logp) / t.n_tris, 6)           AS cross_entropy,
           ROUND(SUM((s.cnt * 1e0 / t.n_tris)
                 * (ln(s.cnt * 1e0 / s.cnt2) - s.logp)), 6)    AS kl_divergence
    FROM scored s JOIN tot t USING (doc_id)
    GROUP BY s.doc_id, t.n_tris
    """,
)
def doc_kl_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc KL novelty against a LEARNED reference LM (the last
    round-8 LLM-depth item) — composes ``trigram_lm_train``'s add-k
    model with ``ngram_novelty_scores``'s reference-slice protocol.
    The deterministic reference slice (doc_id % 7 < 2) trains the
    smoothed trigram LM p(c|a,b) = (c₃+k)/(c₂+k·V) (k=0.5, V = the
    REFERENCE vocabulary — the model must be self-contained in what it
    was trained on); every other document is scored with

    * ``cross_entropy`` — mean −ln p_ref(trigram) over the doc's
      trigram stream ("how surprising is this doc to the reference
      model"; add-k smoothing gives unseen trigrams finite mass, so no
      infinities — an unseen (a,b) prefix backs off to k/(k·V));
    * ``kl_divergence`` — the conditional KL
      E_{(a,b)∼doc} D( p_doc(c|a,b) ‖ p_ref(c|a,b) ): per bigram
      context, the doc's MLE next-token distribution vs the reference
      model's, averaged over the doc's context distribution (computed
      as Σ p_doc(a,b,c)·(ln p_doc(c|a,b) − ln p_ref(c|a,b)) on the
      doc's support — p_doc=0 terms vanish). Non-negative by Gibbs'
      inequality (both conditionals live on the same vocab; the
      smoothed reference sums to 1), unlike the naive joint-vs-
      conditional mix-up which can go negative. Separates "rare but
      self-consistent" (high CE, low KL) from "just noise" (high both)
      — the routing signal the unseen-fraction novelty can't give.

    Scale shape: trigram fan-out is map-side from per-doc arrays (text
    never self-joins); the LM is two hash aggregates (trigram, then its
    bigram prefix re-using the same key prefix); scoring joins shuffle
    (a,b,c) gram strings and 8-byte counts, never document bodies; the
    vocab scalar broadcasts; the per-doc total rides the doc_id window
    on the scoring agg's own partitioning. At 100 TB grams ride as
    xxhash64 digests (the fingerprint-store pattern) — the string form
    here keeps every row DuckDB-value-checkable."""
    from pyspark.sql.window import Window as W

    docs = load_tables(spark, sf_dir, "documents")["documents"]
    tri = (
        docs.withColumn(
            "ws", F.expr(r"filter(split(lower(text), '\\s+'), t -> t <> '')")
        )
        .filter(F.size("ws") >= 3)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(ws) - 2),"
                    " i -> struct(ws[i-1] AS a, ws[i] AS b, ws[i+1] AS c))"
                )
            ).alias("t"),
        )
        .select("doc_id", "t.a", "t.b", "t.c")
    )
    ref_tri = tri.filter(F.col("doc_id") % 7 < 2)
    # the reference trigram-count table feeds both the bigram-prefix
    # aggregate and the scoring join — materialize the aggregated
    # (small) frame once (eager checkpoint) instead of replaying the
    # reference-side token explode + trigram shuffle per consumer (r13
    # optimization, guide §5; same shape as trigram_lm_train)
    tc = (
        ref_tri.groupBy("a", "b", "c").agg(F.count("*").alias("c3"))
    ).transform(materialize.checkpoint)
    bc = tc.groupBy("a", "b").agg(F.sum("c3").alias("c2"))
    vocab = (
        docs.filter(F.col("doc_id") % 7 < 2)
        .withColumn(
            "ws", F.expr(r"filter(split(lower(text), '\\s+'), t -> t <> '')")
        )
        .filter(F.size("ws") >= 3)
        .select(F.explode("ws").alias("x"))
        .agg(F.countDistinct("x").alias("vocab"))
    )
    dtc = (
        tri.filter(F.col("doc_id") % 7 >= 2)
        .groupBy("doc_id", "a", "b", "c")
        .agg(F.count("*").alias("cnt"))
    )
    scored = (
        dtc.join(tc, ["a", "b", "c"], "left")
        .join(bc, ["a", "b"], "left")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            "a",
            "b",
            "cnt",
            F.log(
                (F.coalesce(F.col("c3"), F.lit(0)) + F.lit(0.5))
                / (
                    F.coalesce(F.col("c2"), F.lit(0))
                    + F.lit(0.5) * F.col("vocab")
                )
            ).alias("logp"),
        )
    )
    per = scored.withColumn(
        "n_tris", F.sum("cnt").over(W.partitionBy("doc_id"))
    ).withColumn(
        "cnt2", F.sum("cnt").over(W.partitionBy("doc_id", "a", "b"))
    )
    return (
        per.groupBy("doc_id", "n_tris")
        .agg(
            F.round(
                -F.sum(F.col("cnt") * F.col("logp")) / F.col("n_tris"), 6
            ).alias("cross_entropy"),
            F.round(
                F.sum(
                    (F.col("cnt") / F.col("n_tris"))
                    * (F.log(F.col("cnt") / F.col("cnt2")) - F.col("logp"))
                ),
                6,
            ).alias("kl_divergence"),
        )
        .select("doc_id", "n_tris", "cross_entropy", "kl_divergence")
    )


@register(
    "length_bucket_packing_audit",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             CAST(len(list_filter(string_split_regex(text, '\\s+'),
                                  t -> t <> '')) AS BIGINT) AS n
      FROM documents
    ),
    naive AS (
      SELECT doc_id // 32 AS batch, n FROM toks
    ),
    nstat AS (
      SELECT batch, COUNT(*) AS k, MAX(n) AS mx, SUM(n) AS s
      FROM naive GROUP BY batch
    ),
    bucketed AS (
      SELECT n // 32 AS lb,
             (ROW_NUMBER() OVER (PARTITION BY n // 32
                                 ORDER BY n, doc_id) - 1) // 32 AS rb,
             n
      FROM toks
    ),
    bstat AS (
      SELECT lb, rb, COUNT(*) AS k, MAX(n) AS mx, SUM(n) AS s
      FROM bucketed GROUP BY lb, rb
    ),
    res AS (
      SELECT 'naive' AS strategy,
             CAST(COUNT(*) AS BIGINT)          AS n_batches,
             CAST(SUM(s) AS BIGINT)            AS total_tokens,
             CAST(SUM(k * mx - s) AS BIGINT)   AS padded_tokens,
             ROUND(SUM(k * mx - s) * 1e0 / SUM(k * mx), 6) AS padding_frac
      FROM nstat
      UNION ALL
      SELECT 'length_bucketed',
             CAST(COUNT(*) AS BIGINT),
             CAST(SUM(s) AS BIGINT),
             CAST(SUM(k * mx - s) AS BIGINT),
             ROUND(SUM(k * mx - s) * 1e0 / SUM(k * mx), 6)
      FROM bstat
    )
    SELECT * FROM res
    """,
)
def length_bucket_packing_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PADDING-efficiency audit for batched inference/training over
    variable-length documents — the quantified case for length-bucketed
    batching: fixed batches of 32 pad every member to the batch max,
    so wasted compute is Σ(k·max − Σlen). Two deterministic strategies
    compared on identical data:

    * ``naive`` — arrival-order batches (doc_id // 32): the default a
      naive loader produces; long-tail docs poison whole batches;
    * ``length_bucketed`` — docs grouped into length buckets
      (n // 32), batched WITHIN each bucket in (n, doc_id) order: the
      production pattern (sorted/bucketed batching).

    The output pins batch counts, true token mass, padded tokens, and
    the padding fraction for both — the measured gap (typically 2-5×
    less padding) is the audit's point, and every number is recomputed
    by the oracle.

    Scale shape: naive assignment is MAP-ONLY (key arithmetic); the
    bucketed row_number partitions by the length bucket — many small
    independent windows, never a global sort (the classic scale bug in
    sorted batching is a single ORDER BY over the corpus; bucketing by
    coarse length first caps every window's partition at one bucket).
    Both stat passes are two-phase hash aggregates on batch keys."""
    from ..operators.text import tokens

    docs = load_tables(spark, sf_dir, "documents")["documents"]
    toks = docs.select(
        "doc_id", F.size(tokens("text")).cast("long").alias("n")
    )
    naive = toks.withColumn("batch", F.expr("doc_id div 32"))
    nstat = naive.groupBy("batch").agg(
        F.count("*").alias("k"), F.max("n").alias("mx"), F.sum("n").alias("s")
    )
    bucketed = toks.withColumn("lb", F.expr("n div 32")).withColumn(
        "rb",
        F.expr(
            "(row_number() OVER (PARTITION BY lb ORDER BY n, doc_id) - 1)"
            " div 32"
        ),
    )
    bstat = bucketed.groupBy("lb", "rb").agg(
        F.count("*").alias("k"), F.max("n").alias("mx"), F.sum("n").alias("s")
    )

    def summarize(stat: DataFrame, name: str) -> DataFrame:
        return stat.agg(
            F.lit(name).alias("strategy"),
            F.count("*").alias("n_batches"),
            F.sum("s").alias("total_tokens"),
            F.sum(F.col("k") * F.col("mx") - F.col("s")).alias("padded_tokens"),
            F.round(
                F.sum(F.col("k") * F.col("mx") - F.col("s"))
                / F.sum(F.col("k") * F.col("mx")),
                6,
            ).alias("padding_frac"),
        )
    return summarize(nstat, "naive").unionByName(
        summarize(bstat, "length_bucketed")
    )
