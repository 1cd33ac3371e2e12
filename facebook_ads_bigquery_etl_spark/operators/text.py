"""Text-analysis operators for training-data pipelines (north-star
extension; no reference artifact — BASELINE.json mandates these as
first-class). All hot paths are built-in JVM expressions (split /
filter / transform / regexp) — no Python UDF per row.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .exprs import let

# Tiny per-language stopword lists for the heuristic language ID.
# Real pipelines plug in fastText/CLD3 via a pandas UDF; the Spark-side
# shape (argmax over per-language evidence scores) is identical.
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it"],
    "es": ["el", "la", "de", "y", "que", "en", "los", "se"],
    "fr": ["le", "la", "de", "et", "que", "en", "les", "un"],
    "de": ["der", "die", "das", "und", "zu", "in", "den", "ist"],
    "zh": ["的", "了", "是", "我", "不", "在", "人", "有"],
}


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization — the cheap default for shingling and
    stopword matching."""
    return F.filter(F.split(col, r"\s+"), lambda t: t != "")


def ngrams(tk: Column, n: int) -> Column:
    """Every run of ``n`` consecutive tokens of the token array ``tk``,
    space-joined, in order and with repeats; empty when ``tk`` has fewer
    than ``n`` tokens. ``tk`` is referenced once per gram position, so a
    computed token array must come in let-bound (``exprs.let``):
    Spark does no common-subexpression elimination across the lambda
    boundary, and an unbound tokenizer re-runs per position — O(L²)
    work per document."""
    return F.when(
        F.size(tk) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(tk) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(tk, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


# GPT-2-style pre-tokenizer, simplified to syntax both Spark (Java
# regex) and DuckDB (RE2) accept identically: contraction suffixes,
# space-prefixed letter runs, space-prefixed digit runs, space-prefixed
# punctuation runs. This is the unit real BPE vocabularies split on —
# its count tracks LLM token counts far better than whitespace words.
BPE_ISH_PATTERN = r"'s|'t|'re|'ve|'m|'ll|'d| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+"


def bpe_ish_tokens(col: Column | str) -> Column:
    """BPE-style pre-tokens (array<string>) via regexp_extract_all —
    JVM-side, codegen'd, no Python."""
    return F.regexp_extract_all(
        F.col(col) if isinstance(col, str) else col, F.lit(BPE_ISH_PATTERN), 0
    )


def with_token_stats(df: DataFrame) -> DataFrame:
    """Adds n_tokens / n_chars / n_alpha / avg_token_len /
    stopword_ratio — quality-scoring features, all codegen'd."""
    # let-bind the token array (operators/exprs.let): n_tokens and the
    # stopword count both consume it, so the unbound form tokenized
    # each document twice.
    st = let(
        tokens("text"),
        lambda tk: F.struct(
            F.size(tk).cast("long").alias("n_tokens"),
            F.size(F.filter(tk, lambda t: t.isin(*LANG_STOPWORDS["en"])))
            .cast("long")
            .alias("n_stop"),
        ),
    )
    n_chars = F.length("text").cast("long")
    n_alpha = F.length(F.regexp_replace("text", r"\s+", "")).cast("long")
    return (
        df.withColumn("_tok_stats", st)
        .withColumn("n_tokens", F.col("_tok_stats.n_tokens"))
        .withColumn("n_chars", n_chars)
        .withColumn("n_alpha", n_alpha)
        # a zero-token document (empty / whitespace-only — routine
        # dirty data at 100 TB) has UNDEFINED ratios, not a
        # divide-by-zero abort: NULL here, and with_quality_score
        # scores such docs 0.0 (round-11 extremes sweep)
        .withColumn(
            "avg_token_len",
            F.when(
                F.col("n_tokens") > 0,
                F.round(F.col("n_alpha") * F.lit(1.0) / F.col("n_tokens"), 6),
            ),
        )
        .withColumn(
            "stopword_ratio",
            F.when(
                F.col("n_tokens") > 0,
                F.round(F.col("_tok_stats.n_stop") * F.lit(1.0) / F.col("n_tokens"), 6),
            ),
        )
        .drop("_tok_stats")
    )


def with_quality_score(df: DataFrame) -> DataFrame:
    """Composite document quality score in [0, 1] from the token-stats
    features: length saturation (caps at 200 tokens), English stopword
    density (caps at ratio 0.2), and a plausible-word-shape band on
    average token length. Weighted 0.4/0.3/0.3 — the standard
    pretraining-corpus gate shape (length + naturalness + shape), all
    codegen'd expressions so the filter costs one scan."""
    df = with_token_stats(df)
    length_term = F.least(F.col("n_tokens") / F.lit(200.0), F.lit(1.0))
    stop_term = F.least(F.col("stopword_ratio") * F.lit(5.0), F.lit(1.0))
    shape_term = (
        F.when(F.col("avg_token_len").between(3.0, 10.0), F.lit(1.0)).otherwise(F.lit(0.0))
    )
    score = F.lit(0.4) * length_term + F.lit(0.3) * stop_term + F.lit(0.3) * shape_term
    # zero-token doc: ratios are NULL (undefined), but its QUALITY is
    # a definite 0.0 — keeping the score total means downstream gates,
    # buckets, and mixes never have to reason about a NULL score
    return df.withColumn(
        "quality_score",
        F.when(F.col("n_tokens") > 0, F.round(score, 7)).otherwise(F.lit(0.0)),
    )


def with_lang_id(df: DataFrame) -> DataFrame:
    """Heuristic language ID: per-language stopword-hit counts, argmax.
    A document with ZERO stopword evidence in every language gets
    ``'und'`` (undetermined) — an all-zero tie would otherwise be
    "won" by whichever code sorts last. One pass, no shuffle."""
    # NB: a 2-parameter lambda would receive (element, index) from
    # F.filter — bind the stopword list via a closure factory instead.
    def _hit(sw: list[str]):
        return lambda t: t.isin(*sw)

    # let-bind the token array (operators/exprs.let): each language's
    # filter references it, so the unbound form re-tokenized the
    # document once per language.
    scores = let(
        tokens(F.lower(F.col("text"))),
        lambda tk: F.array(
            *[
                F.struct(
                    F.size(F.filter(tk, _hit(sw))).alias("score"),
                    F.lit(lang).alias("lang"),
                )
                for lang, sw in sorted(LANG_STOPWORDS.items())
            ]
        ),
    )
    best = F.array_max(scores)  # struct compare: score first, then lang
    return df.withColumn(
        "lang_pred", F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und"))
    )


def with_fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """64-bit document fingerprint: xxhash64 over the
    whitespace-normalized, lowercased text. Used as the join/dedup key
    at scale — group on the 8-byte fingerprint, never the document body.

    NULL text → NULL fingerprint (NULL payload → NULL feature): bare
    xxhash64 maps NULL to its non-null seed constant, which would give
    every unreadable document the SAME key and let a fingerprint-keyed
    dedup silently collapse them all into one kept row (r11 nulls
    sweep — the same data-loss class as a '' blocking key)."""
    normalized = F.lower(F.regexp_replace(F.col(text_col), r"\s+", " "))
    return df.withColumn(
        "fingerprint", F.when(F.col(text_col).isNotNull(), F.xxhash64(normalized))
    )


def tf_idf_top_terms(df: DataFrame, k: int = 3) -> DataFrame:
    """Top-k characteristic terms per document by smoothed TF-IDF
    (idf = ln((N+1)/(df+1)) + 1) — the classic content-signature /
    keyword-extraction primitive.

    Scale: one explode → two hash aggregates (term-frequency per doc,
    document-frequency per token — both map-side combinable), a
    BROADCAST of the vocabulary-sized df table back onto the tf rows,
    and a per-doc WindowGroupLimit for the top-k. The corpus total N is
    a broadcast scalar (crossJoin of a 1-row frame), not a collected
    literal, so the whole thing is one lazily-planned DataFrame.
    Ranking uses the ROUNDED score (6dp) + token tie-break: a total
    order that cross-engine double arithmetic reproduces exactly."""
    from .topk import top_k_per_group

    toks = df.select("doc_id", F.explode(tokens(F.lower(F.col("text")))).alias("token"))
    tf = toks.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("token").agg(F.count("*").alias("df"))
    n_docs = df.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(dfreq), "token")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf") * (F.log((F.col("n_docs") + 1) / (F.col("df") + 1)) + 1), 6
            ),
        )
    )
    return top_k_per_group(
        scored, ["doc_id"], [F.desc("tfidf"), F.asc("token")], k
    ).select("doc_id", "token", "tfidf", "rank")


# (?i): PII doesn't care about case — 'John.Doe@Example.COM' must be
# caught; both Java regex and DuckDB's RE2 honor the inline flag, so
# the oracles carry the same prefix (r13 operator review)
PII_EMAIL = r"(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
PII_PHONE = r"\+[0-9]{2}-[0-9]{3}-[0-9]{4}"


def redact_pii(df: DataFrame) -> DataFrame:
    """Training-data cleaning: count and strip email/phone PII with
    anchored regexes (JVM codegen'd regexp_replace — a map-only stage;
    at 100 TB this runs at scan speed and shuffles nothing). Adds
    ``n_emails``, ``n_phones``, ``clean_text``."""
    c = F.col("text")
    return (
        df.withColumn("n_emails", F.size(F.regexp_extract_all(c, F.lit(PII_EMAIL), 0)))
        .withColumn("n_phones", F.size(F.regexp_extract_all(c, F.lit(PII_PHONE), 0)))
        .withColumn(
            "clean_text",
            F.regexp_replace(F.regexp_replace(c, PII_EMAIL, "<EMAIL>"), PII_PHONE, "<PHONE>"),
        )
    )


def repetition_stats(df: DataFrame) -> DataFrame:
    """Gopher-style repetition quality signals per document: how much
    of the text is the same word / the same word pair repeated.

    * ``top_word_frac`` — share of words taken by the single most
      frequent word (high → boilerplate/keyword stuffing);
    * ``dup_word_frac`` / ``dup_bigram_frac`` — share of word (pair)
      occurrences beyond the first.

    Bigram duplication is computed entirely MAP-SIDE from the word
    array (``array_distinct`` vs ``size`` — no shuffle); only the
    top-word count needs a (doc, word) hash aggregate, which
    partial-aggregates map-side before one shuffle on the compound
    key. At 100 TB this is a scan plus one combiner-friendly shuffle
    of (id, word, count) triples — never the document bodies."""
    words = df.select("doc_id", F.split(F.col("text"), " ").alias("w"))
    per_word = (
        words.select("doc_id", F.explode("w").alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("n"))
    )
    uni = per_word.groupBy("doc_id").agg(
        F.sum("n").alias("n_words"),
        F.count("*").alias("n_distinct_words"),
        F.max("n").alias("top_word_n"),
    )
    bi = words.select(
        "doc_id",
        F.size("w").alias("nw"),
        F.expr(
            "CASE WHEN size(w) > 1 THEN transform(sequence(1, size(w) - 1),"
            " i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))"
            " ELSE array() END"
        ).alias("bg"),
    ).select(
        "doc_id",
        F.size("bg").alias("n_bigrams"),
        (F.size("bg") - F.size(F.array_distinct("bg"))).alias("dup_bigrams"),
    )
    return uni.join(bi, "doc_id").select(
        "doc_id",
        "n_words",
        "n_distinct_words",
        F.round(F.col("top_word_n").cast("double") / F.col("n_words"), 6).alias("top_word_frac"),
        F.round(
            (F.col("n_words") - F.col("n_distinct_words")).cast("double") / F.col("n_words"), 6
        ).alias("dup_word_frac"),
        F.when(F.col("n_bigrams") > 0,
               F.round(F.col("dup_bigrams").cast("double") / F.col("n_bigrams"), 6))
        .otherwise(F.lit(0.0)).alias("dup_bigram_frac"),
    )


def duplicated_ngrams(df: DataFrame, n: int = 8, min_docs: int = 2) -> DataFrame:
    """Corpus-wide exact repeated-span detection: every word n-gram
    that appears in at least ``min_docs`` distinct documents, with its
    total occurrence count — the primitive behind exact-substring
    dedup (the memorization-prone spans are exactly these).

    The n-gram expansion is map-side (one ``transform`` over the word
    array); the count is a combiner-friendly hash aggregate on the
    gram. At 100 TB you would shuffle ``xxhash64(gram)`` (8 bytes)
    instead of the gram text and re-join the surviving hashes back for
    display — the plan shape is identical; the string form is kept
    here so the result is directly comparable against the oracle."""
    grams = df.select(
        F.col("doc_id"),
        F.explode(
            let(F.split(F.col("text"), " "), lambda wa: ngrams(wa, n))
        ).alias("gram"),
    )
    return (
        grams.groupBy("gram")
        .agg(
            F.count("*").alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )


def chunk_documents(
    df: DataFrame,
    size: int = 32,
    overlap: int = 8,
) -> DataFrame:
    """Context-window chunking: split each document's token stream
    into fixed-size windows with overlap (the standard prep for
    embedding / pretraining pipelines). Chunk starts advance by
    ``size - overlap``; the last chunk is short rather than padded.

    Scale: one narrow projection per row — `sequence` + `explode`
    fan-out stays inside whole-stage codegen, no shuffle at all, and
    output partitioning inherits the input's. The chunk body is
    emitted as a sha256 digest (join back on (doc_id, chunk_id) when
    the text itself is needed) so the wide text column is never
    duplicated ``n_chunks`` times across the shuffle that usually
    follows."""
    if overlap >= size:
        raise ValueError(f"overlap ({overlap}) must be < size ({size})")
    step = size - overlap
    toks = tokens("text")
    n = F.size(toks)
    out = (
        df.select("doc_id", toks.alias("__toks"), n.alias("__n"))
        .filter(F.col("__n") > 0)
        .select(
            "doc_id",
            "__toks",
            "__n",
            F.explode(F.sequence(F.lit(0), F.col("__n") - 1, F.lit(step))).alias(
                "start_token"
            ),
        )
    )
    chunk_len = F.least(F.lit(size), F.col("__n") - F.col("start_token"))
    body = F.concat_ws(
        " ", F.slice(F.col("__toks"), F.col("start_token") + 1, chunk_len)
    )
    return out.select(
        "doc_id",
        (F.col("start_token") / step).cast("long").alias("chunk_id"),
        F.col("start_token").cast("long"),
        chunk_len.cast("long").alias("chunk_tokens"),
        F.sha2(body, 256).alias("chunk_sha"),
    )
