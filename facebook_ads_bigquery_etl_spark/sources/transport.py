"""Pluggable API transports for the connector layer.

A ``Transport`` answers the two calls the reference makes over HTTPS:
``insights(account, fields, since, until)`` (reference main.py:161-181)
and ``rates(date, source, currencies)`` (reference main.py:117-127).
Executors instantiate transports from picklable specs, so a DataSource
option string fully determines what a partition reads — tests and the
driver's oracle both rely on that determinism.

The HTTP transport is deliberately thin and gated behind an import-try:
this container has no network, and the reference's retry story ("log
and return" / "log and re-raise", main.py:126-130,183-186) is replaced
by :func:`with_retries` — bounded exponential backoff, then raise.
"""

from __future__ import annotations

import hashlib
import time
from collections.abc import Callable, Sequence
from dataclasses import dataclass, field
from datetime import date as Date
from datetime import timedelta
from typing import Any

from ..fixtures import FB_FIXTURE


class TransportError(RuntimeError):
    """A transport-level failure (HTTP error, API error envelope)."""


def with_retries(
    fn: Callable[[], Any],
    attempts: int = 3,
    sleep: Callable[[float], None] = time.sleep,
) -> Any:
    """Run ``fn`` with bounded exponential backoff (0.05 s, doubling)
    on :class:`TransportError`; any other exception propagates at once.

    Replaces the reference's unrecoverable error paths (main.py:126-130
    logs-and-returns silently; main.py:183-186 re-raises on first
    failure). Deterministic: no jitter, so tests can count attempts.
    """
    last: Exception | None = None
    for i in range(attempts):
        try:
            return fn()
        except TransportError as e:  # noqa: PERF203
            last = e
            if i < attempts - 1:
                sleep(0.05 * (2**i))
    raise TransportError(f"gave up after {attempts} attempts: {last}") from last


class Transport:
    """Interface: what a connector partition needs from the outside world."""

    def insights(
        self,
        account: str,
        fields: Sequence[str],
        since: str,
        until: str,
        level: str = "ad",
        time_increment: int | str = 1,
    ) -> list[dict]:
        """Insights records for one account over [since, until] at the
        requested grain — the API's server-side pre-aggregation params
        ``level`` ('ad'|'adset'|'campaign'|'account', reference
        main.py:176) and ``time_increment`` (N days or 'all_days',
        reference main.py:180). Default = the reference's fixed
        level='ad', time_increment=1 (one row per date × ad)."""
        raise NotImplementedError

    def rates(self, date: str, source: str, currencies: Sequence[str]) -> dict:
        """currencylayer 'historical' envelope for one date:
        ``{"success": bool, "quotes": {PAIR: rate}}`` (reference main.py:132-138)."""
        raise NotImplementedError


_LEVEL_KEYS = {
    "ad": ("ad_id", "ad_name", "adset_id", "adset_name", "campaign_id", "campaign_name"),
    "adset": ("adset_id", "adset_name", "campaign_id", "campaign_name"),
    "campaign": ("campaign_id", "campaign_name"),
    "account": (),
}


def _bucket_start(ds: str, anchor: str, time_increment: int | str) -> str:
    """Start date of the time_increment bucket containing ``ds``,
    anchored at ``anchor`` (the request's since)."""
    if time_increment == "all_days":
        return anchor
    n = int(time_increment)
    if n <= 1:
        return ds
    d0, d = Date.fromisoformat(anchor), Date.fromisoformat(ds)
    return (d0 + timedelta(days=((d - d0).days // n) * n)).isoformat()


def _num(v):
    try:
        return int(v)
    except (TypeError, ValueError):
        try:
            return float(v)
        except (TypeError, ValueError):
            return None  # the real API never emits non-numerics; skip


def aggregate_insights(
    records: list[dict],
    level: str = "ad",
    time_increment: int | str = 1,
    anchor: str | None = None,
) -> list[dict]:
    """Emulate the Insights API's SERVER-side pre-aggregation: collapse
    ad-grain records to the requested ``level`` × ``time_increment``
    bucket (reference main.py:176,180 hardcodes level='ad',
    time_increment=1; the API itself accepts coarser grains).

    Semantics mirror the API: metric strings are summed numerically
    (unparseable values are skipped — SUM(TRY_CAST(..)) in the oracle),
    action lists merge per action_type, identity columns finer than
    ``level`` disappear, ``date_start`` becomes the bucket start.
    Deterministic: group order = first-appearance, actions sorted by
    type."""
    if level not in _LEVEL_KEYS:
        raise ValueError(f"unknown level: {level!r}")
    if level == "ad" and str(time_increment) == "1":
        return records
    keys = _LEVEL_KEYS[level]
    groups: dict[tuple, dict] = {}
    for rec in records:
        b = _bucket_start(rec["date_start"], anchor or rec["date_start"], time_increment)
        gk = (b, *(rec.get(f) for f in keys))
        g = groups.setdefault(
            gk,
            {
                "date_start": b,
                **{f: rec.get(f) for f in keys},
                # SUM semantics: a metric with NO parseable input stays
                # NULL (not 0) — matches the oracle's SUM(TRY_CAST(..)).
                "clicks": None,
                "impressions": None,
                "spend": None,
                "_actions": {},
                "_conversions": {},
                "_has_actions": False,
                "_has_conversions": False,
            },
        )
        for m in ("clicks", "impressions"):
            v = _num(rec.get(m))
            if v is not None:
                g[m] = (g[m] or 0) + int(v)
        v = _num(rec.get("spend"))
        if v is not None:
            g["spend"] = (g["spend"] or 0.0) + float(v)
        for list_col, flag in (("actions", "_actions"), ("conversions", "_conversions")):
            if rec.get(list_col):
                g["_has" + flag] = True
                for a in rec[list_col]:
                    v = _num(a.get("value"))
                    if v is not None:
                        g[flag][a["action_type"]] = g[flag].get(a["action_type"], 0) + v
    out = []
    for g in groups.values():
        rec = {
            "date_start": g["date_start"],
            **{f: g[f] for f in keys},
            "clicks": None if g["clicks"] is None else str(g["clicks"]),
            "impressions": None if g["impressions"] is None else str(g["impressions"]),
            "spend": None if g["spend"] is None else f"{g['spend']:.2f}",
        }
        for list_col, flag in (("actions", "_actions"), ("conversions", "_conversions")):
            if g["_has" + flag]:
                rec[list_col] = [
                    {"action_type": t, "value": str(v)}
                    for t, v in sorted(g[flag].items())
                ]
        out.append(rec)
    return out


@dataclass
class FixtureTransport(Transport):
    """Serves the deterministic ETL fixtures (FIXTURES.md §§1-2):
    insights from ``FB_FIXTURE`` filtered by date, rates derived from a
    fixed table. Used by tests and by the driver-checked connector
    parity query (plans/etl_parity.py)."""

    fail_first_n: int = 0  # simulate transient failures for retry tests
    _calls: list[tuple] = field(default_factory=list)

    def insights(self, account, fields, since, until, level="ad", time_increment=1):
        self._calls.append(("insights", account, tuple(fields), since, until))
        if len(self._calls) <= self.fail_first_n:
            raise TransportError("simulated transient API failure")
        # Predicate pushdown (date range), projection pushdown (field
        # list) and grain pushdown (level/time_increment) all happen
        # here, API-side — mirroring the time_range / fields / level
        # params of reference main.py:162-181.
        recs = [dict(rec) for rec in FB_FIXTURE if since <= rec["date_start"] <= until]
        recs = aggregate_insights(recs, level, time_increment, anchor=since)
        wanted = set(fields)
        return [{k: v for k, v in rec.items() if k in wanted} for rec in recs]

    def rates(self, date, source, currencies):
        quotes = {}
        for cur in currencies:
            pair = source + cur
            # Deterministic per (pair, date): stable across executors.
            h = int(hashlib.sha256(f"{pair}:{date}".encode()).hexdigest()[:8], 16)
            quotes[pair] = round(20.0 + (h % 4000) / 100.0, 2)
        return {"success": True, "quotes": quotes}


@dataclass
class SyntheticTransport(Transport):
    """Deterministic synthetic Insights API: ``ads_per_day`` ad rows per
    (account, day), values seeded by sha256(account, date, ad) — the
    scale-testing transport (every executor regenerates identical rows,
    so reads are idempotent and retry-safe)."""

    ads_per_day: int = 50

    def insights(self, account, fields, since, until, level="ad", time_increment=1):
        d0 = Date.fromisoformat(since)
        d1 = Date.fromisoformat(until)
        out = []
        d = d0
        while d <= d1:
            ds = d.isoformat()
            for i in range(self.ads_per_day):
                h = int(
                    hashlib.sha256(f"{account}:{ds}:{i}".encode()).hexdigest()[:12], 16
                )
                campaign = i % 7
                rec = {
                    "date_start": ds,
                    "ad_id": f"{account}-{i}",
                    "ad_name": f"ad_{i}",
                    "adset_id": f"{account}-s{i % 13}",
                    "adset_name": f"adset_{i % 13}",
                    "campaign_id": f"{account}-c{campaign}",
                    "campaign_name": f"campaign_{campaign}",
                    "clicks": str(h % 500),
                    "impressions": str(1000 + h % 90000),
                    "spend": f"{(h % 100000) / 100.0:.2f}",
                }
                if h % 3:  # a third of ads have no actions key at all
                    rec["actions"] = [
                        {"action_type": "link_click", "value": str(h % 97)},
                        {"action_type": "page_view", "value": str(h % 53)},
                    ]
                if h % 4 == 0:
                    rec["conversions"] = [
                        {"action_type": "purchase", "value": str(h % 11)}
                    ]
                out.append(rec)
            d += timedelta(days=1)
        out = aggregate_insights(out, level, time_increment, anchor=since)
        wanted = set(fields)
        return [{k: v for k, v in rec.items() if k in wanted} for rec in out]

    def rates(self, date, source, currencies):
        return FixtureTransport().rates(date, source, currencies)


def make_transport(spec: str) -> Transport:
    """Build a transport from a DataSource option string.

    ``fixture`` | ``synthetic[:ads_per_day]`` | ``http`` (gated: raises
    unless the requests stack is importable and a URL is configured).
    """
    if spec == "fixture":
        return FixtureTransport()
    if spec.startswith("synthetic"):
        _, _, n = spec.partition(":")
        return SyntheticTransport(ads_per_day=int(n) if n else 50)
    if spec == "http":
        try:
            import requests  # noqa: F401
        except ImportError as e:  # pragma: no cover
            raise TransportError("http transport requires 'requests'") from e
        raise TransportError(
            "http transport is a deployment concern; configure endpoint + "
            "credentials via options (not available in this environment)"
        )
    raise ValueError(f"unknown transport spec: {spec!r}")
