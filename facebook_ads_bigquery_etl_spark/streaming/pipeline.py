"""Streaming operators over the ``events`` stream table.

Every operator here is the streaming twin of a batch query in
``plans/analytics.py``, so tests can assert stream-vs-batch
equivalence on finite input (``trigger(availableNow=True)`` drains the
source and stops — the micro-batch analog of the reference's one-shot
daily run, reference README.md:57).

Scale posture: all state (windows, dedup keys, sessions) is bounded by
the watermark — state store size is O(active keys × watermark span),
independent of total stream length; nothing ever collects to the
driver. The number of state partitions follows the bytes the stream
reads (``state_sized_shuffle``), not a constant.
"""

from __future__ import annotations

import glob
import os
from contextlib import contextmanager
from typing import Iterable

import pandas as pd
from py4j.java_gateway import JavaClass
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators import materialize
from ..session import scoped_conf
from ..sinks import _local_fs_path, spark_lists, write_day_partitioned

# ---------------------------------------------------------------------------
# Stateful-stream partition sizing.
#
# A stateful operator (aggregation, dedup, session window, stream-stream
# join, applyInPandasWithState) keeps one state store per shuffle
# partition and commits each of them every micro-batch, so that cost
# follows the partition COUNT, not the data. The count is written into
# the checkpoint at first start and AQE never coalesces it, so it has to
# be right at start. It is sized from the input, like a batch shuffle:
# the total bytes of the stream's file sources divided by
# ``spark.sql.adaptive.advisoryPartitionSizeInBytes`` (the size AQE
# aims a batch shuffle partition at), rounded up and clamped to
# [1, ``spark.sql.shuffle.partitions``]. A source that is empty, missing,
# non-local or not a file source says nothing about the data to come,
# so the count falls back to the session's ``shuffle.partitions`` — a
# stream started on an empty landing zone must not keep 1 forever.
# A stream without state starts with no override: its foreachBatch
# body runs on the stream's cloned session and inherits the count.
# Python-evaluated state (applyInPandasWithState) is the exception to
# "few partitions": each state partition is one Python worker running
# per-key Python, so there the count is the operator's parallelism. It
# gets at least one partition per core this process may run on (and no
# more than ``shuffle.partitions``): one partition ran the token-bucket
# and partial-session families 2.2x slower than eight on 4 cores, and
# 32 Python workers on those 4 cores ran them 1.6x slower.
# Results do not depend on the count (hash placement only).

_STATEFUL_NODES = frozenset(
    {
        "Aggregate",
        "Deduplicate",
        "DeduplicateWithinWatermark",
        "Distinct",
        "FlatMapGroupsWithState",
        "FlatMapGroupsInPandasWithState",
        "TransformWithState",
        "TransformWithStateInPySpark",
    }
)
# State whose per-key work runs in Python workers (see above).
_PYTHON_STATE_NODES = frozenset(
    {"FlatMapGroupsInPandasWithState", "TransformWithStateInPySpark"}
)


def state_partition_count(
    source_bytes: int | None, advisory_bytes: int, shuffle_partitions: int
) -> int:
    """The state partition count for a stateful stream whose file
    sources hold ``source_bytes`` (None when unknown)."""
    if not source_bytes:
        return shuffle_partitions
    return max(1, min(shuffle_partitions, -(-source_bytes // advisory_bytes)))


def _streaming_plan(df: DataFrame) -> tuple[set[str], list]:
    """The stateful operators in ``df``'s analyzed plan (a stream-stream
    join as ``Join``) and its streaming leaves. Static subtrees (the
    table side of a stream-static join) are skipped: they hold no state
    and feed no micro-batch."""
    held = set()
    leaves = []
    todo = [df._jdf.queryExecution().analyzed()]
    while todo:
        node = todo.pop()
        if not node.isStreaming():
            continue
        name = node.nodeName()
        children = node.children()
        kids = [children.apply(i) for i in range(children.size())]
        if name in _STATEFUL_NODES or (
            name == "Join" and all(k.isStreaming() for k in kids)
        ):
            held.add(name)
        if not kids:
            leaves.append(node)
        todo += kids
    return held, leaves


def _local_bytes(path: str) -> int | None:
    """Bytes of the data files Spark's listing keeps under ``path`` (a
    file, a directory or a glob); None unless it is local and exists."""
    local = _local_fs_path(path)
    if local is None:
        return None
    roots = glob.glob(local) if glob.has_magic(local) else [local]
    roots = [r for r in roots if os.path.exists(r)]
    if not roots:
        return None
    total = 0
    for root in roots:
        if os.path.isfile(root):
            total += os.path.getsize(root)
            continue
        for d, dirs, files in os.walk(root, followlinks=True):
            dirs[:] = [x for x in dirs if spark_lists(x)]
            total += sum(
                os.path.getsize(os.path.join(d, f)) for f in files if spark_lists(f)
            )
    return total


def _source_bytes(spark: SparkSession, leaves: list) -> int | None:
    """Total bytes of the file sources behind ``leaves``, each distinct
    path counted once; None when any leaf is not a local file source."""
    file_format = JavaClass(
        "org.apache.spark.sql.execution.datasources.FileFormat",
        spark._jvm._gateway_client,
    )._java_lang_class
    sizes = {}
    for leaf in leaves:
        if leaf.nodeName() != "StreamingRelation":
            return None
        source = leaf.dataSource()
        path = source.options().get("path")
        if path.isEmpty() or not file_format.isAssignableFrom(source.providingClass()):
            return None
        path = path.get()
        if path not in sizes:
            sizes[path] = _local_bytes(path)
            if sizes[path] is None:
                return None
    return sum(sizes.values())


def state_partitions(df: DataFrame) -> int | None:
    """The shuffle-partition count ``df`` should start with, or None
    when it holds no state or the count is the session's own."""
    held, leaves = _streaming_plan(df)
    if not held:
        return None
    spark = df.sparkSession
    try:
        default = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except ValueError:
        return None
    advisory = spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    )
    n = state_partition_count(_source_bytes(spark, leaves), advisory, default)
    if held & _PYTHON_STATE_NODES:
        n = max(n, min(default, len(os.sched_getaffinity(0))))
    return None if n == default else n


@contextmanager
def state_sized_shuffle(df: DataFrame):
    """Start ``df``'s stream inside this block: ``spark.sql.shuffle.
    partitions`` holds the ``state_partitions`` count while the query
    starts (the stream clones the session conf, and a fresh checkpoint
    records it; a restart keeps the recorded count) and is restored on
    exit, so batch plans outside the block are untouched."""
    n = state_partitions(df)
    overrides = {} if n is None else {"spark.sql.shuffle.partitions": str(n)}
    with scoped_conf(df.sparkSession, overrides):
        yield


def _start(
    df: DataFrame,
    *,
    name: str | None = None,
    mode: str = "append",
    body=None,
    checkpoint: str | None = None,
) -> "pyspark.sql.streaming.StreamingQuery":  # noqa: F821
    """The one way this engine starts a stream: ``df`` drains what its
    sources hold now (``trigger(availableNow=True)``) into the memory
    table ``name``, or through ``body(batch_df, batch_id)`` per
    micro-batch with its offsets checkpointed at ``checkpoint``, in
    output ``mode``. State partitions are sized by
    :func:`state_sized_shuffle`. The caller waits for the returned
    query."""
    w = df.writeStream.outputMode(mode).trigger(availableNow=True)
    if body is None:
        w = w.format("memory").queryName(name)
    else:
        w = w.foreachBatch(body).option("checkpointLocation", checkpoint)
    with state_sized_shuffle(df):
        return w.start()


def _event_schema(ts_type: T.DataType) -> T.StructType:
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", ts_type),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


def _ts_is_parquet_nanos(source: str) -> bool:
    """True iff the source's ``ts`` column is physical INT64 with a
    nanosecond TIMESTAMP logical type (Spark can only surface that as a
    long via ``nanosAsLong``). Streams need a declared schema up front,
    so the unit is sniffed from one file's footer — the file source
    requires every file in a directory to share a schema anyway."""
    path = source[:-2] if source.endswith("/*") else source
    if os.path.isdir(path):
        for root, _dirs, files in os.walk(path):
            hit = next((f for f in sorted(files) if f.endswith(".parquet")), None)
            if hit:
                path = os.path.join(root, hit)
                break
        else:
            return False
    import pyarrow.parquet as pq

    try:
        schema = pq.read_metadata(path).schema
    except Exception as exc:
        # We KNOW `path` is a parquet file at this point — an unreadable
        # footer must fail the sniff loudly, not silently declare µs and
        # blow up later inside the stream with a schema error.
        raise RuntimeError(
            f"could not sniff parquet timestamp unit from {path}"
        ) from exc
    col = next((c for c in schema if c.name == "ts"), None)
    if col is None:
        return False  # no ts column → unit question is moot
    return col.physical_type == "INT64" and "nanos" in str(col.logical_type).lower()


def read_event_stream(spark: SparkSession, source: str) -> DataFrame:
    """File-source stream over events parquet (one file = one arriving
    micro-batch). The timestamp unit is footer-sniffed: a
    TIMESTAMP(NANOS) column (which Spark only reads via ``nanosAsLong``)
    is taken as a long and converted with exact integer division; a
    µs/ms/INT96 column is read natively — same semantics as the batch
    reader (plans/registry.load_tables), which guards on dtype instead.

    ``source`` may be a directory (the normal streaming landing zone)
    or a single parquet file — Spark's file source requires a
    directory, so a lone file is staged behind a symlink in invocation
    scratch (``operators/materialize``)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if os.path.isfile(source):
        staged = materialize.scratch("lone_file_")
        link = os.path.join(staged, os.path.basename(source))
        os.symlink(os.path.abspath(source), link)
        source = staged
    if _ts_is_parquet_nanos(source):
        raw = spark.readStream.schema(_event_schema(T.LongType())).parquet(source)
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return spark.readStream.schema(_event_schema(T.TimestampType())).parquet(source)


# Watermark-poisoning guard (r11 dates sweep): ONE corrupt far-future
# event advances the watermark past the entire live corpus and every
# event-time pipeline silently drops everything that arrives after it
# — the classic production streaming hazard (zeroed epochs, sentinel
# 9999s, unit-confused parses are routine dirty data at 100 TB). Every
# WATERMARKED pipeline bounds event time at the source; out-of-range
# rows belong to a quarantine path, never to watermarked state.
# Event-time-agnostic pipelines (running totals, profiles) are not
# bounded — they have no watermark to poison.
EVENT_TIME_LO = "1990-01-01"
EVENT_TIME_HI = "2100-01-01"
# DuckDB twin for batch oracles of bounded pipelines:
EVENT_TIME_BOUND_SQL = (
    "ts >= TIMESTAMP '1990-01-01' AND ts < TIMESTAMP '2100-01-01'"
)


def bound_event_time(df: DataFrame) -> DataFrame:
    """Filter ``ts`` to the sane event-time validity window (see
    module-level rationale above). Map-only, applied BELOW
    withWatermark."""
    c = F.col("ts")
    return df.filter(
        (c >= F.lit(EVENT_TIME_LO).cast("timestamp"))
        & (c < F.lit(EVENT_TIME_HI).cast("timestamp"))
    )


def daily_rollup(events: DataFrame) -> DataFrame:
    """Tumbling 1-day windows per event_type — the streaming twin of
    the reference's day-grain ingest (``time_increment=1``,
    reference main.py:180). A 1-day watermark bounds both lateness and
    state."""
    return (
        events.withWatermark("ts", "1 day")
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(F.to_date("w.start").alias("date"), "event_type", "n_events", "total_value")
    )


def dedup_events(events: DataFrame) -> DataFrame:
    """Exactly-once repair for redelivered events: duplicates of
    ``event_id`` arriving within the 1-day watermark are dropped, state
    is evicted after it — the fix for the reference's at-least-once
    streaming inserts (main.py:86-89, no insertId)."""
    return events.withWatermark("ts", "1 day").dropDuplicatesWithinWatermark(["event_id"])


def sessionize_stream(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Per-user session windows (gap-based, built-in session_window —
    no custom state needed, 1-day watermark): session start/end, event
    count, total value. North-star extension; no reference artifact."""
    return (
        events.withWatermark("ts", "1 day")
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


_RUNNING_OUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)
_RUNNING_STATE = T.StructType(
    [T.StructField("n", T.LongType()), T.StructField("total", T.DoubleType())]
)


def user_running_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-user
    running event count / value total across micro-batches (the
    arbitrary-state API Spark offers where built-in windows don't fit
    — SURVEY §2.7 north-star). Emits the updated running total for
    every user seen in a micro-batch."""

    def update(key, pdfs: Iterable[pd.DataFrame], state) -> Iterable[pd.DataFrame]:
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].fillna(0.0).sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [round(total, 2)]}
        )

    return (
        events.withWatermark("ts", "1 day")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=_RUNNING_OUT,
            stateStructType=_RUNNING_STATE,
            outputMode="update",
            timeoutConf="NoTimeout",
        )
    )


_PROFILE_OUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
        T.StructField("n_types", T.LongType()),
        T.StructField("max_value", T.DoubleType()),
    ]
)


_PROFILE_STATE = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("total", T.DoubleType()),
        T.StructField("maxv", T.DoubleType()),
        T.StructField("type_names", T.ArrayType(T.StringType())),
        T.StructField("type_counts", T.ArrayType(T.LongType())),
    ]
)


def user_profile_stateful(events: DataFrame) -> DataFrame:
    """Per-user composite-state profile: running event count / value
    total / max value plus a per-event-type count map, updated per
    micro-batch, emitting the refreshed profile for every user seen in
    the batch (1-day watermark).

    Built on ``applyInPandasWithState``: the map lives as sorted
    parallel arrays inside the single state struct, so each update
    rewrites the whole per-user row — fine while the per-user type set
    stays small (bounded by the event-type vocabulary, not the stream
    length). Spark 4's ``transformWithStateInPandas`` would keep a
    real MapState keyed by event_type in the RocksDB state store, but
    it speaks protobuf to the JVM state server and needs
    ``google.protobuf``; it returns as the one path once that package
    is part of the runtime.
    """

    def update(key, pdfs: Iterable[pd.DataFrame], state) -> Iterable[pd.DataFrame]:
        if state.exists:
            n, total, maxv, names, counts = state.get
            by_type = dict(zip(list(names), (int(c) for c in counts)))
        else:
            # maxv seeds from DATA, not 0.0: an artificial zero seed
            # reported max_value = 0.0 for an all-negative-value user
            # while the oracle's plain MAX returns the true negative
            # (r13 operator review; NULL/non-finite still contribute
            # 0.0 per the pinned r11 convention via fillna)
            n, total, maxv, by_type = 0, 0.0, None, {}
        for pdf in pdfs:
            vals = pdf["value"].fillna(0.0)
            n += len(pdf)
            total += float(vals.sum())
            if len(vals):
                m = float(vals.max())
                maxv = m if maxv is None else max(maxv, m)
            for et, cnt in pdf.groupby("event_type").size().items():
                by_type[et] = by_type.get(et, 0) + int(cnt)
        if maxv is None:  # unreachable with NoTimeout (calls carry rows)
            maxv = 0.0
        names = sorted(by_type)
        state.update((n, total, maxv, names, [by_type[t] for t in names]))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value": [total],
                "n_types": [len(names)],
                "max_value": [maxv],
            }
        )

    return (
        events.withWatermark("ts", "1 day")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=_PROFILE_OUT,
            stateStructType=_PROFILE_STATE,
            outputMode="update",
            timeoutConf="NoTimeout",
        )
    )


def enrich_with_rates(events: DataFrame, fx: DataFrame) -> DataFrame:
    """Stream-static join: each micro-batch joins the (static, small)
    exchange-rate table on the event's date — the reference's
    spend ⋈ fx-by-date semantic (README.md:18-20) applied to a live
    stream. The static side is broadcast per micro-batch; no state.

    ``value_local`` is left unrounded: per-row money rounding creates
    exact decimal halfway cases (2dp x 2dp products end in ...50) whose
    tie-break differs across engines - consumers round once at the
    aggregation boundary instead."""
    return (
        events.withColumn("date", F.to_date("ts"))
        .join(F.broadcast(fx), "date", "left")
        .withColumn("value_local", F.col("value") * F.col("rate"))
    )


def write_stream_to_warehouse(
    stream_df: DataFrame,
    path: str,
    checkpoint: str,
) -> "pyspark.sql.streaming.StreamingQuery":  # noqa: F821
    """foreachBatch into the exactly-once day-partitioned sink: each
    micro-batch dynamically overwrites only the
    ``(date, __sink_batch=batch_id)`` sub-partitions it carries, so a
    checkpoint-replayed batch rewrites exactly its own slice
    (idempotent — end-to-end exactly-once without a transactional
    sink) while batches that arrive LATER for the same day land in
    their own sub-partition instead of replacing the earlier batch's
    rows. Overwriting on the day alone lost cross-batch same-day
    data: with one-file-per-trigger, file2's 50 events for a day
    replaced file1's 100 (r13 operator review, executed
    counterexample). ``__sink_batch`` is part of the sink's physical
    layout; day-level readers and the compaction path see it as one
    extra partition level under each day and day-grain operations
    (partition listing, per-day rename, dynamic overwrite by day) are
    unaffected.

    For UPDATE-mode aggregate streams this sink is still not a merge:
    a re-emitted (day, key) group lands in the new batch's
    sub-partition alongside the old value — route those through the
    merge/upsert sink instead; this path is for append-shaped
    (raw/passthrough) streams and single-drain aggregates."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        write_day_partitioned(
            batch_df.withColumn("__sink_batch", F.lit(batch_id)),
            path,
            partition_field=["date", "__sink_batch"],
        )

    return _start(stream_df, body=write_batch, checkpoint=checkpoint)


def join_event_streams(left: DataFrame, right: DataFrame, within: str = "1 hour") -> DataFrame:
    """Stream-stream inner join with event-time bounds — the funnel
    primitive (view → purchase within the attribution window) as a
    true two-stream join, not a batch afterthought.

    Both sides carry a 2-hour watermark and the join condition bounds
    ``right.ts`` to [left.ts, left.ts + within]: Spark can then expire
    buffered rows once the watermark passes their join window, so
    state is O(arrival rate × (watermark + within)) per side —
    independent of stream length. Without the time bound the state
    store would have to keep EVERY row forever; the bound is what
    makes the operator viable at 100 TB/day."""
    a = left.alias("a").withWatermark("ts", "2 hours")
    b = right.alias("b").withWatermark("ts", "2 hours")
    cond = F.expr(
        "a.user_id = b.user_id AND b.ts >= a.ts "
        f"AND b.ts <= a.ts + interval {within}"
    )
    return a.join(b, cond)


_RATE_OUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("n_allowed", T.LongType()),
        T.StructField("n_throttled", T.LongType()),
    ]
)

# STATE-SCHEMA VERSION 2 (5 longs). v1 had 4 (no last_seen_us); adding
# the field is CHECKPOINT-BREAKING for this operator: state rows are
# deserialized with the declared stateStructType, so a query restarted
# from a checkpoint written under v1 fails (or misreads state) rather
# than migrating. Restarting across this change requires discarding the
# old checkpoint and replaying from the source (the operator is
# deterministic, so a replay reconverges). Spark offers no schema
# evolution for applyInPandasWithState state — treat ANY future edit of
# this struct the same way and bump the version note.
_RATE_STATE = T.StructType(
    [
        T.StructField("tokens", T.LongType()),
        T.StructField("last_refill_us", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("n_allowed", T.LongType()),
        # Largest event time ever folded for the key — carried so the
        # eviction deadline is monotone in EVENT time (round-6 advice:
        # deriving it from the current batch's max alone lets a late /
        # out-of-order micro-batch with older timestamps REGRESS the
        # deadline and evict sooner than evict_idle_us after the key's
        # true latest event).
        T.StructField("last_seen_us", T.LongType()),
    ]
)


def rate_limit_token_bucket(
    events: DataFrame,
    capacity: int = 2,
    period_us: int = 14_400_000_000,
    watermark: str = "1 day",
    evict_idle_us: int | None = None,
) -> DataFrame:
    """Per-key TOKEN-BUCKET rate limiting as a custom stateful
    operator (``applyInPandasWithState``): each user owns a bucket of
    ``capacity`` tokens refilling one per ``period_us``; an event is
    admitted iff a token is available. The classic lazy-refill
    recurrence, ALL-INTEGER so every engine replays it bit-identically:

        refill   = (ts − last_refill) // period
        tokens   = min(capacity, tokens + refill)
        last_refill += refill · period
        admit ⇔ tokens > 0 (then tokens −= 1)

    Events are ordered (ts, event_id) within each micro-batch before
    folding — ALL of the key's Arrow chunks are concatenated first,
    because ``applyInPandasWithState`` yields a large group as
    multiple batches in arbitrary order once it exceeds
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` rows (round-5
    advice: a per-chunk sort would fold out of global order and
    diverge from the sequential oracle; the concat bounds per-key
    memory at one micro-batch's rows for that key, which the
    watermark already bounds in event time). The bucket state carries
    ACROSS batches — with time-ordered micro-batches the fold equals
    the global sequential fold, which is what the batch oracle (a
    per-user recursive CTE) recomputes. Emits the refreshed per-user
    admission profile each batch (update mode; the final emit is the
    stream total). State is 5 longs per key (the 4 bucket counters
    plus the key's largest event time seen, which keeps the eviction
    deadline monotone under out-of-order micro-batches).

    State lifetime (round-5 advice — ``withWatermark`` alone never
    expires custom state): by default (``evict_idle_us=None``,
    NoTimeout) state is UNBOUNDED in key cardinality — right for the
    bounded replays the registered query runs, wrong for an unbounded
    keyspace. Pass ``evict_idle_us`` to enable EventTimeTimeout
    eviction: a bucket idle past the watermark by that much emits its
    final profile and is dropped. Any ``evict_idle_us ≥ capacity ×
    period_us`` is ADMISSION-lossless (an idle bucket refills to full,
    which is exactly the fresh-state value) — only the cumulative
    n_events/n_allowed counters restart if the key later returns, so
    with eviction the emitted profile is per-residency-segment, not
    stream-total."""

    def update(key, pdfs, state):
        if state.hasTimedOut:
            tokens, last_r, n, n_allowed, _seen = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "n_allowed": [n_allowed],
                    "n_throttled": [n - n_allowed],
                }
            )
            return
        tokens, last_r, n, n_allowed, seen = (
            state.get if state.exists else (0, 0, 0, 0, 0)
        )
        # single-chunk fast path (guide §4.2): same rationale as
        # partial_session_flush — the sort below already copies, so the
        # extra concat copy is pure per-key overhead
        chunks = list(pdfs)
        pdf = (
            chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
        ).sort_values(["ts", "event_id"])
        ts_us = pdf["ts"].to_numpy().astype("datetime64[us]").astype("int64")
        for t in ts_us:
            refill = (int(t) - last_r) // period_us
            if refill > 0:
                tokens = min(capacity, tokens + refill)
                last_r += refill * period_us
            n += 1
            if tokens > 0:
                tokens -= 1
                n_allowed += 1
        # Monotone in event time: a late batch whose rows all predate
        # the key's stored last_seen must not pull the deadline back.
        seen = max(seen, int(ts_us.max()))
        state.update((tokens, last_r, n, n_allowed, seen))
        if evict_idle_us is not None:
            # EventTimeTimeout requires a timestamp beyond the current
            # watermark; an already-breached deadline fires next batch.
            state.setTimeoutTimestamp(
                max(
                    seen // 1000 + evict_idle_us // 1000,
                    state.getCurrentWatermarkMs() + 1,
                )
            )
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "n_allowed": [n_allowed],
                "n_throttled": [n - n_allowed],
            }
        )

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=_RATE_OUT,
            stateStructType=_RATE_STATE,
            outputMode="update",
            timeoutConf=(
                "NoTimeout" if evict_idle_us is None else "EventTimeTimeout"
            ),
        )
    )


_PARTIAL_OUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("value_sum", T.DoubleType()),
        T.StructField("flushed", T.BooleanType()),
    ]
)

_PARTIAL_STATE = T.StructType(
    [
        T.StructField("n_events", T.LongType()),
        T.StructField("value_sum", T.DoubleType()),
    ]
)


def partial_session_flush(events: DataFrame) -> DataFrame:
    """PARTIAL-SESSION EVICTION on ProcessingTimeTimeout — the one
    stateful-timeout shape the engine had not exercised (round-6
    slate; EventTimeTimeout lives in rate_limit_token_bucket, session
    windows in sessionize_stream). Per user it accumulates an open
    session fragment (event count + value sum); every batch WITH data
    for the key emits the refreshed running fragment (``flushed`` =
    false) and re-arms a 1 ms processing-time deadline. A key that stays
    idle past the deadline is flushed from the TIMEOUT branch — the
    fragment is emitted once more with ``flushed`` = true and the
    state REMOVED, so per-key state lives only while the key is hot:
    this is how a 100 TB pipeline bounds session state for a keyspace
    where most keys go quiet and event-time watermarks alone cannot
    expire custom state.

    Determinism contract (what the oracle replays): with a
    file-per-micro-batch source, a key's fragment breaks exactly at
    its idle BATCHES — any batch without the key runs long after a
    millisecond-scale deadline, so the flush fires in the key's first
    absent batch, and a fragment still open in the stream's final
    batch is never flushed (no further batch runs). Fragments are
    therefore the maximal runs of consecutive batches containing the
    key — a pure gaps-and-islands recomputation in SQL."""

    def update(key, pdfs, state):
        if state.hasTimedOut:
            n, v = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "value_sum": [round(v, 2)],
                    "flushed": [True],
                }
            )
            return
        n, v = state.get if state.exists else (0, 0.0)
        # per-key cost discipline (guide §4.2): this body runs once per
        # (key, batch) — ~1500 keys/batch here — so a needless concat
        # copy per key is a per-batch tax. Keys almost always arrive as
        # ONE Arrow chunk (chunking starts beyond maxRecordsPerBatch);
        # concat only when there really are several, so the float
        # summation tree stays bit-identical to the old concat form.
        # Series.sum() masks NaN/NULL to 0 over the same-length array —
        # the exact fillna(0.0).sum() reduction, minus the copy.
        chunks = list(pdfs)
        pdf = chunks[0] if len(chunks) == 1 else pd.concat(
            chunks, ignore_index=True
        )
        n += len(pdf)
        v += float(pdf["value"].sum())
        state.update((n, v))
        state.setTimeoutDuration(1)
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "value_sum": [round(v, 2)],
                "flushed": [False],
            }
        )

    return (
        events.withWatermark("ts", "1 day")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=_PARTIAL_OUT,
            stateStructType=_PARTIAL_STATE,
            outputMode="update",
            timeoutConf="ProcessingTimeTimeout",
        )
    )
