"""Sequence packing for training-data pipelines (north-star
extension; no reference artifact — BASELINE.json mandates the
LLM-pipeline operator family as first-class).

Pretraining dataloaders consume fixed-size token windows, so the
pipeline's last layout step assigns every document a position in a
token stream and a pack (window) id: documents are concatenated in a
deterministic order and the stream is chunked every ``budget`` tokens
— a document belongs to the pack where it starts (concat-then-chunk
packing). The whole operator is one partitioned window cumsum — JVM
expressions only, no Python in the row path.

Scale: the running total is partitioned (by language/source/shard),
so each stratum packs independently — one shuffle on the partition
key, no global ordering. At 100 TB you add a shard column to the
partition spec (e.g. ``xxhash64(doc_id) % n_shards``) so no single
stratum's window serializes; packs are then unique per
(stratum, shard), which is what a distributed dataloader wants anyway.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .text import tokens


def pack_documents(df: DataFrame, budget: int) -> DataFrame:
    """Adds ``n_tokens`` (of ``text``), ``start_offset`` (position of
    the document's first token in its stratum's concatenated stream)
    and ``pack_id`` (= start_offset // budget) within each ``lang``
    stratum.

    Deterministic (ordering by ``doc_id``), so results are stable
    across runs/engines — the property the DuckDB oracle checks.

    Identity grain: ``doc_id`` is the packer's TOTAL order, so a
    replayed id (same key, drifted payload — at-least-once upstream,
    r11 duplicates sweep) would make the running offset
    engine-arbitrary between the copies; replays are resolved first
    by the deterministic content-total order. No-op on clean input."""
    from .dedup import resolve_replays

    df = resolve_replays(df, ["doc_id"])
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    n_tokens = F.size(tokens("text")).cast("long")
    return (
        df.withColumn("n_tokens", n_tokens)
        .withColumn("start_offset", F.sum("n_tokens").over(w) - F.col("n_tokens"))
        .withColumn("pack_id", F.floor(F.col("start_offset") / budget))
    )


def pack_stats(packed: DataFrame) -> DataFrame:
    """Per-pack rollup of :func:`pack_documents` output: document
    count and token count per (lang, pack). The token total of
    every non-final pack is ≥ the budget's fill floor — asserted in
    tests as the packing invariant."""
    return packed.groupBy("lang", "pack_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("pack_tokens"),
    )
