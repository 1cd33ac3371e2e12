"""``facebook_insights`` — Spark 4 Python DataSource for Ads Insights.

What the reference does once, single-threaded, on the driver-equivalent
(one account × one day, reference main.py:161-190), this source plans
as **one input partition per (account × day)** so a 1000-executor
cluster pulls a year × thousands of accounts concurrently — ingest
parallelism is the whole scale story for an API connector.

Pushdown surface (reference parity, SURVEY §4):

* **projection** — the scan's pruned column set becomes the API
  ``fields`` param (reference main.py:162-174). Spark's Python DS API
  fixes the reader schema before pruning, so projection reaches the
  API via the ``fields`` option; unrequested columns are still emitted
  as NULL to keep the schema stable.
* **predicate** — ``pushFilters`` accepts EqualTo / GreaterThan(OrEqual)
  / LessThan(OrEqual) / In on ``date_start`` and In/EqualTo on
  ``account_id``, narrowing the planned (account × day) grid — the
  ``time_range`` param of reference main.py:177-180. Everything else is
  returned to Spark to evaluate post-scan. Requires
  ``spark.sql.python.filterPushdown.enabled=true``.
* **aggregation grain** — ``level`` ('ad'|'adset'|'campaign'|'account')
  and ``time_increment`` (N days | 'all_days') scan options map to the
  API's server-side pre-aggregation params (the reference hardcodes
  level='ad', time_increment=1 — main.py:176,180). The planned
  partition grid follows the grain: one partition per account × time
  bucket, so a coarser grain reads fewer, bigger API responses.

Usage::

    spark.dataSource.register(FacebookInsightsDataSource)
    df = (spark.read.format("facebook_insights")
          .option("accounts", "act_1,act_2")
          .option("since", "2025-01-01").option("until", "2025-01-31")
          .option("transport", "synthetic:200").load()
          .where("date_start = '2025-01-07'"))   # pruned to 1 day/account
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import date as Date
from datetime import timedelta

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    SimpleDataSourceStreamReader,
)
from pyspark.sql.types import StructType

from ..schemas import SCHEMA_FACEBOOK_RAW
from .transport import make_transport, with_retries

DEFAULT_FIELDS = (
    "date_start,ad_id,ad_name,adset_id,adset_name,campaign_id,"
    "campaign_name,clicks,impressions,spend,actions,conversions"
)


@dataclass
class _Slice(InputPartition):
    account: str
    since: str  # inclusive ISO dates; one partition = one (account, day)
    until: str


def _drange(since: str, until: str) -> list[str]:
    d0, d1 = Date.fromisoformat(since), Date.fromisoformat(until)
    out = []
    while d0 <= d1:
        out.append(d0.isoformat())
        d0 += timedelta(days=1)
    return out


class FacebookInsightsReader(DataSourceReader):
    def __init__(self, schema: StructType, options: dict):
        self.schema = schema
        self.accounts = [a for a in options.get("accounts", "act_demo").split(",") if a]
        self.since = options.get("since", "2025-01-01")
        self.until = options.get("until", self.since)
        self.fields = [f for f in options.get("fields", DEFAULT_FIELDS).split(",") if f]
        self.transport_spec = options.get("transport", "fixture")
        self.attempts = int(options.get("retries", "3"))
        # Aggregation-grain pushdown (SURVEY §4): the API pre-aggregates
        # server-side; the reference hardcodes level='ad',
        # time_increment=1 (main.py:176,180) — here both are scan
        # options, and the planned partition grid follows the grain
        # (one partition per account × time bucket).
        self.level = options.get("level", "ad")
        if self.level not in ("ad", "adset", "campaign", "account"):
            raise ValueError(f"unknown level: {self.level!r}")
        self.time_increment: str = options.get("time_increment", "1")
        if self.time_increment != "all_days" and int(self.time_increment) < 1:
            raise ValueError(f"bad time_increment: {self.time_increment!r}")

    # -- predicate pushdown ------------------------------------------------
    def pushFilters(self, filters: list[Filter]) -> list[Filter]:  # noqa: N802
        """Narrow the (account × day) grid from scan predicates — the
        API-side ``time_range`` of reference main.py:177-180. Returns
        the filters Spark must still evaluate post-scan (eager, never
        lazy: the grid mutation must happen before partitions())."""
        unsupported: list[Filter] = []
        # At coarse time grains a row's date_start is the BUCKET start,
        # not the source day — still narrow the API time_range, but
        # hand date filters back to Spark for post-scan re-check.
        coarse_time = self.time_increment != "1"
        for f in filters:
            col = f.attribute[0]
            if col == "date_start" and isinstance(f, EqualTo):
                # intersect with the declared range: a day outside it
                # plans no partition
                self.since = max(self.since, str(f.value))
                self.until = min(self.until, str(f.value))
                if coarse_time:
                    unsupported.append(f)
            elif col == "date_start" and isinstance(f, In):
                vals = sorted(str(v) for v in f.value)
                self.since = max(self.since, vals[0])
                self.until = min(self.until, vals[-1])
                unsupported.append(f)  # narrowed range may be non-contiguous
            elif col == "date_start" and isinstance(f, (GreaterThan, GreaterThanOrEqual)):
                lo = str(f.value) if isinstance(f, GreaterThanOrEqual) else (
                    (Date.fromisoformat(str(f.value)) + timedelta(days=1)).isoformat()
                )
                self.since = max(self.since, lo)
            elif col == "date_start" and isinstance(f, (LessThan, LessThanOrEqual)):
                hi = str(f.value) if isinstance(f, LessThanOrEqual) else (
                    (Date.fromisoformat(str(f.value)) - timedelta(days=1)).isoformat()
                )
                self.until = min(self.until, hi)
            elif col == "ad_account" and isinstance(f, EqualTo):
                self.accounts = [a for a in self.accounts if a == f.value]
            elif col == "ad_account" and isinstance(f, In):
                keep = {str(v) for v in f.value}
                self.accounts = [a for a in self.accounts if a in keep]
            else:
                unsupported.append(f)  # Spark evaluates it post-scan
        return unsupported

    # -- partition planning ------------------------------------------------
    def partitions(self):
        # (account × time-bucket) grid: the unit the API pre-aggregates
        # (reference main.py:176-180 fixes it to level='ad' × day) and
        # the natural parallel ingest unit at cluster scale. A coarser
        # time_increment coarsens the grid — each partition is exactly
        # one API bucket, so bucket anchoring is per-partition-safe.
        if self.time_increment == "all_days":
            return [_Slice(acc, self.since, self.until) for acc in self.accounts]
        days = _drange(self.since, self.until)
        n = int(self.time_increment)
        buckets = [days[i : i + n] for i in range(0, len(days), n)]
        return [
            _Slice(acc, b[0], b[-1]) for acc in self.accounts for b in buckets
        ]

    # -- per-partition read (runs on executors) -----------------------------
    def read(self, part: _Slice):
        transport = make_transport(self.transport_spec)
        wanted = [f for f in self.fields if f != "ad_account"]
        records = with_retries(
            lambda: transport.insights(
                part.account, wanted, part.since, part.until,
                level=self.level, time_increment=self.time_increment,
            ),
            attempts=self.attempts,
        )
        cols = [f.name for f in self.schema.fields]
        for rec in records:
            yield tuple(
                part.account if c == "ad_account" else _cell(rec.get(c), c) for c in cols
            )


def _cell(v, col: str):
    if v is None or col not in ("actions", "conversions"):
        return v
    # list[dict] → list[tuple] matching ArrayType(StructType): the
    # Python DS row channel wants positional structs.
    return [(a.get("action_type"), a.get("value")) for a in v]


class FacebookInsightsStreamReader(SimpleDataSourceStreamReader):
    """Streaming variant: one micro-batch per DAY — the reference's
    daily-cron cadence (reference README.md:57) as a real Structured
    Streaming source with replayable offsets.

    Offsets are ``{"date": "<next unread ISO day>"}``; a restart from
    checkpoint re-reads from the committed offset, and because the
    transports are deterministic per (account, day), replay is
    idempotent — exactly-once end-to-end with the dynamic-overwrite
    sink. The stream advances ONE day per micro-batch: a continuous
    trigger catches up day by day; a ``trigger(availableNow=True)``
    run ingests exactly the next unread day and stops — i.e. each
    scheduled invocation IS the reference's daily cron run
    (README.md:57), with the checkpoint as the cursor."""

    def __init__(self, schema: StructType, options: dict):
        # each day is pulled by the batch reader over the same options
        self.batch = FacebookInsightsReader(schema, options)
        self.since = options.get("since", "2025-01-01")
        self.until = options.get("until")  # None → unbounded (live)

    def initialOffset(self) -> dict:  # noqa: N802
        return {"date": self.since}

    def _next_day(self, d: str) -> str:
        return (Date.fromisoformat(d) + timedelta(days=1)).isoformat()

    def read(self, start: dict):
        d = start["date"]
        if self.until is not None and d > self.until:
            return iter([]), start  # caught up: empty batch, same offset
        return self._pull(d), {"date": self._next_day(d)}

    def readBetweenOffsets(self, start: dict, end: dict):  # noqa: N802
        d, out = start["date"], []
        while d < end["date"]:
            out.extend(self._pull(d))
            d = self._next_day(d)
        return iter(out)

    def _pull(self, day: str):
        return [
            row
            for acc in self.batch.accounts
            for row in self.batch.read(_Slice(acc, day, day))
        ]


class FacebookInsightsDataSource(DataSource):
    """Register with ``spark.dataSource.register(FacebookInsightsDataSource)``.

    Batch: ``spark.read.format("facebook_insights")`` → account×day
    partitioned parallel scan. Streaming:
    ``spark.readStream.format("facebook_insights")`` → one micro-batch
    per day with replayable date offsets."""

    @classmethod
    def name(cls) -> str:
        return "facebook_insights"

    def schema(self) -> StructType:
        # Raw API shape + ad_account lineage column (which account a
        # row was pulled from — the reference has exactly one account,
        # main.py:160; a fleet of accounts needs the provenance).
        return StructType(
            [*SCHEMA_FACEBOOK_RAW.fields[:]]
        ).add("ad_account", "string", True)

    def reader(self, schema: StructType) -> FacebookInsightsReader:
        return FacebookInsightsReader(schema, dict(self.options))

    def simpleStreamReader(self, schema: StructType) -> FacebookInsightsStreamReader:  # noqa: N802
        return FacebookInsightsStreamReader(schema, dict(self.options))
