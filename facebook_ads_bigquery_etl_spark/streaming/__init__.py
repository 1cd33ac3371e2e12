"""Structured Streaming generalization of the reference's daily cron.

The reference's "streaming" is a Cloud Scheduler cron re-running a
batch ingest (reference README.md:57,64) with at-least-once appends
(main.py:86-89 — no insertId, so redelivery duplicates). This package
maps that model onto real Structured Streaming (SURVEY §2.7):

* event-time watermarks    ≙ the 1-day late-data window of re-pulling
                             "yesterday" each morning
* tumbling 1-day windows   ≙ the API's ``time_increment=1`` day grain
* dropDuplicatesWithinWatermark ≙ the exactly-once repair the
                             reference lacks
* foreachBatch → the same day-partitioned, dynamic-overwrite sink the
                             batch path uses (idempotent re-runs)
"""

from .pipeline import (
    EVENT_TIME_BOUND_SQL,
    bound_event_time,
    state_sized_shuffle,
    daily_rollup,
    dedup_events,
    enrich_with_rates,
    join_event_streams,
    partial_session_flush,
    rate_limit_token_bucket,
    read_event_stream,
    sessionize_stream,
    user_profile_stateful,
    user_running_totals,
    write_stream_to_warehouse,
)

__all__ = [
    "EVENT_TIME_BOUND_SQL",
    "bound_event_time",
    "daily_rollup",
    "dedup_events",
    "join_event_streams",
    "enrich_with_rates",
    "partial_session_flush",
    "rate_limit_token_bucket",
    "read_event_stream",
    "sessionize_stream",
    "user_profile_stateful",
    "user_running_totals",
    "write_stream_to_warehouse",
]
