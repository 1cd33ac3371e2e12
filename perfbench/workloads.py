"""The benchmark's workloads: what one op is and how its output is checked.

A workload is a list of op kinds. A *round* runs every kind once, in an
order the seed permutes per round; the timed loop runs whole rounds, so
every run measures the same multiset of ops whatever its length.

``ingest`` is the write path, the reference's own daily traffic:

* ``load``    one day's ``get_facebook`` then ``get_currency`` event
  through ``etl.runner.handle_event`` (synthetic transport, 8 accounts
  x 200 ads = 1600 rows), each round the next day into one warehouse;
* ``publish`` the day's campaign spend converted at the day's FX rate,
  plus per-account totals, published together through
  ``sinks.publish_tables_atomic`` (the staged, journaled swap).

``analytics`` is the read path at sf0.1: registered ``plans`` queries an
analyst runs, a curation operator (perceptual-hash image dedup through
``operators.multimodal``, across the Arrow Python-worker boundary) and
a streaming rollup of the events table (``stream_daily_rollup``), each
collected and compared with its DuckDB oracle.

``analytics`` touches no ``sources``, ``etl`` or ``sinks`` code and
``ingest`` no ``plans`` query, ``operators`` or ``streaming`` code, so
each workload is the other's control.
"""

from __future__ import annotations

import base64
import math
import os
from dataclasses import dataclass, field
from datetime import date, timedelta
from decimal import ROUND_HALF_UP, Decimal
from typing import Callable

import duckdb
from pyspark.sql import functions as F

from facebook_ads_bigquery_etl_spark.etl.runner import handle_event
from facebook_ads_bigquery_etl_spark.plans import ORACLES, QUERIES
from facebook_ads_bigquery_etl_spark.sinks import publish_tables_atomic
from facebook_ads_bigquery_etl_spark.sources import FixtureTransport, SyntheticTransport

from . import inputs

FIRST_DAY = date(2024, 1, 1)
ADS_PER_DAY = 200
FX_SOURCE, FX_TARGET = "USD", "UAH"
FB_FIELDS = ["date_start", "ad_id", "campaign_id", "clicks", "spend"]
CENT = Decimal("0.01")


@dataclass
class Op:
    """One kind of user work. ``run`` does it and returns what ``check``
    compares with the expected output; ``rows`` gives the input rows it
    processed from that result (0 when the count comes from streaming
    progress instead). ``layer`` is the layer the op mainly drives.
    A traced run splits a DataFrame op into ``build``, planning and
    collect."""

    kind: str
    run: Callable[["Context"], object]
    check: Callable[["Context", object], bool]
    rows: Callable[["Context", object], int]
    layer: str
    # DataFrame ops: the call that returns the DataFrame ``run`` collects
    build: Callable[["Context"], object] | None = None
    # extra facts of a result the traced run reports
    info: Callable[[object], dict] | None = None
    # kind of the op whose output this one reads; it runs right after it
    follows: str | None = None


@dataclass
class Context:
    spark: object
    data_dir: str  # generated parquet tables
    work_dir: str  # warehouse and scratch output
    accounts: list[str]
    table_rows: dict[str, int] = field(default_factory=dict)
    oracles: dict[str, list[tuple]] = field(default_factory=dict)
    round: int = 0
    # what the checks read back from the warehouse, per table and day;
    # valid until the next op runs
    landed: dict[str, dict] = field(default_factory=dict)

    @property
    def day(self) -> str:
        return (FIRST_DAY + timedelta(days=self.round)).isoformat()

    @property
    def warehouse(self) -> str:
        return os.path.join(self.work_dir, "warehouse")


# ---------------------------------------------------------------- checks


def normalize(rows, columns) -> list[tuple]:
    """Rows as column-name-ordered tuples, floats rounded to 9 places,
    dates as ISO strings, sorted: equal results compare equal whichever
    engine produced them."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])

    def norm(v):
        if v is None:
            return (2,)
        if isinstance(v, float):
            return (1,) if math.isnan(v) else (0, round(v, 9))
        if hasattr(v, "isoformat"):
            if hasattr(v, "hour") and (v.hour, v.minute, v.second, v.microsecond) == (0, 0, 0, 0):
                v = v.date()
            return (0, v.isoformat())
        if isinstance(v, (list, tuple)):
            return (0, repr(v))
        return (0, v)

    return sorted(tuple(norm(r[i]) for i in order) for r in rows)


def round_order(ops: list[Op], rng) -> list[Op]:
    """A seeded permutation of ``ops`` in which every op that
    ``follows`` another comes right after it."""
    order = [op for op in ops if op.follows is None]
    rng.shuffle(order)
    for op in ops:
        if op.follows is not None:
            at = next(i for i, o in enumerate(order) if o.kind == op.follows)
            order.insert(at + 1, op)
    return order


def prepare_oracles(data_dir: str, names: list[str]) -> dict[str, list[tuple]]:
    """Run each registered DuckDB oracle once over the generated tables."""
    con = duckdb.connect()
    try:
        for t in inputs.TABLES:
            path = os.path.join(data_dir, f"{t}.parquet")
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        out = {}
        for n in names:
            res = con.sql(ORACLES[n])
            out[n] = normalize(res.fetchall(), res.columns)
        return out
    finally:
        con.close()


def collect(df) -> tuple[list, list[str]]:
    """(rows, column names) of a DataFrame, fully materialized."""
    return [tuple(r) for r in df.collect()], df.columns


# ---------------------------------------------------------------- ingest


def _event(job: str, day: str, accounts: list[str]) -> dict:
    return {
        "data": base64.b64encode(job.encode()).decode(),
        "attributes": {
            "date": day,
            "accounts": ",".join(accounts),
            "from_currency": FX_SOURCE,
            "to_currency": FX_TARGET,
        },
    }


def _run_load(ctx: Context):
    spec = f"synthetic:{ADS_PER_DAY}"
    fb = handle_event(ctx.spark, _event("get_facebook", ctx.day, ctx.accounts), ctx.warehouse, spec)
    fx = handle_event(ctx.spark, _event("get_currency", ctx.day, ctx.accounts), ctx.warehouse, spec)
    return fb, fx


def _expected_day(ctx: Context) -> tuple[int, Decimal, int, dict[str, Decimal]]:
    """Row count, SUM(spend), SUM(clicks) and per-campaign spend of the
    day, straight from the transport the connector reads."""
    t = SyntheticTransport(ads_per_day=ADS_PER_DAY)
    n, spend, clicks, by_campaign = 0, Decimal(0), 0, {}
    for acc in ctx.accounts:
        for rec in t.insights(acc, FB_FIELDS, ctx.day, ctx.day):
            s = Decimal(rec["spend"])
            n, spend, clicks = n + 1, spend + s, clicks + int(rec["clicks"])
            by_campaign[rec["campaign_id"]] = by_campaign.get(rec["campaign_id"], 0) + s
    return n, spend, clicks, by_campaign


def _expected_rate(day: str) -> Decimal:
    quotes = FixtureTransport().rates(day, FX_SOURCE, [FX_TARGET])["quotes"]
    return Decimal(str(quotes[FX_SOURCE + FX_TARGET]))


def _day_rows(ctx: Context, table: str):
    return ctx.spark.read.parquet(os.path.join(ctx.warehouse, table)).filter(
        F.col("date") == F.lit(ctx.day).cast("date")
    )


def _landed(ctx: Context, table: str, read: Callable[[object], dict]) -> dict:
    """The landed rows of ``table`` for the context's day, as ``read``
    gives them per day from the whole table: one read-back for all the
    ops a check pass covers, not one per op."""
    if table not in ctx.landed:
        df = ctx.spark.read.parquet(os.path.join(ctx.warehouse, table))
        ctx.landed[table] = read(df)
    return ctx.landed[table].get(ctx.day)


def _by_day(rows, value: Callable) -> dict:
    out: dict[str, list] = {}
    for r in rows:
        out.setdefault(r["date"].isoformat(), []).append(value(r))
    return out


def _read_fb(df) -> dict:
    rows = df.groupBy("date").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("spend").cast("decimal(18,2)")).alias("spend"),
        F.sum("clicks").alias("clicks"),
    ).collect()
    return {k: v[0] for k, v in _by_day(rows, lambda r: (r["n"], r["spend"], r["clicks"])).items()}


def _check_load(ctx: Context, result) -> bool:
    fb, fx = result
    n, spend, clicks, _ = _expected_day(ctx)
    got = _landed(ctx, "facebook_stat", _read_fb)
    rates = _landed(ctx, "exchange_rate", lambda df: _by_day(df.collect(), lambda r: r["rate"]))
    return (
        fb.rows_written == n
        and fb.rows_quarantined == 0
        and got == (n, spend, clicks)
        and rates is not None
        and len(rates) == 1
        and Decimal(str(rates[0])) == _expected_rate(ctx.day)
        and fx.rows_written == 1
    )


def _publish_paths(ctx: Context) -> tuple[str, str]:
    return (
        os.path.join(ctx.warehouse, "campaign_spend_fx"),
        os.path.join(ctx.warehouse, "account_spend"),
    )


def _run_publish(ctx: Context):
    fb = _day_rows(ctx, "facebook_stat")
    fx = _day_rows(ctx, "exchange_rate").select(
        "date", F.col("rate").cast("decimal(12,2)").alias("rate")
    )
    spend = F.sum(F.col("spend").cast("decimal(18,2)"))
    campaigns = (
        fb.groupBy("date", "campaign_id")
        .agg(spend.alias("spend"), F.sum("clicks").alias("clicks"))
        .join(fx, "date")
        .withColumn("spend_fx", F.round(F.col("spend") * F.col("rate"), 2))
    )
    accounts = (
        fb.withColumn("account", F.regexp_extract("ad_id", r"^(.*)-\d+$", 1))
        .groupBy("date", "account")
        .agg(spend.alias("spend"), F.count(F.lit(1)).alias("ads"))
    )
    camp_path, acct_path = _publish_paths(ctx)
    publish_tables_atomic(ctx.spark, [(campaigns, camp_path), (accounts, acct_path)])
    return camp_path, acct_path


def _read_accounts(df) -> dict:
    rows = df.groupBy("date").agg(F.sum("spend").alias("spend"), F.sum("ads").alias("ads"))
    return {k: v[0] for k, v in _by_day(rows.collect(), lambda r: (r["spend"], r["ads"])).items()}


def _check_publish(ctx: Context, result) -> bool:
    camp_path, acct_path = result
    _, spend, _, by_campaign = _expected_day(ctx)
    rate = _expected_rate(ctx.day)
    camp = dict(_landed(
        ctx, os.path.basename(camp_path),
        lambda df: _by_day(df.collect(), lambda r: (r["campaign_id"], r["spend_fx"])),
    ) or ())
    # Spark rounds decimals half-up
    want = {c: (s * rate).quantize(CENT, ROUND_HALF_UP) for c, s in by_campaign.items()}
    acct = _landed(ctx, os.path.basename(acct_path), _read_accounts)
    return camp == want and acct == (
        spend, ADS_PER_DAY * len(ctx.accounts)
    )


# ------------------------------------------------------------- analytics


def _registered(name: str, tables: tuple[str, ...], layer: str) -> Op:
    """A registered query over ``tables``, collected and compared with
    its DuckDB oracle."""

    def build(ctx: Context):
        return QUERIES[name](ctx.spark, ctx.data_dir)

    def check(ctx: Context, result) -> bool:
        return normalize(*result) == ctx.oracles[name]

    def rows(ctx: Context, result) -> int:
        return sum(ctx.table_rows[t] for t in tables)

    return Op(name, lambda ctx: collect(build(ctx)), check, rows, layer, build)


def _load_info(result) -> dict:
    fb, fx = result
    return {"landed": fb.rows_written + fx.rows_written, "quarantined": fb.rows_quarantined}


INGEST = [
    Op("load", _run_load, _check_load, lambda ctx, res: sum(_load_info(res).values()), "etl",
       info=_load_info),
    Op("publish", _run_publish, _check_publish, lambda ctx, res: 0, "sinks", follows="load"),
]

# Every result below is exact on any generated input (counts, sums of
# cents). Queries that ROUND a double SUM of cents x rates (for one,
# revenue_by_nation) hit an exact half-cent tie on about one seed in
# twenty, where Spark (half-up on the shortest decimal form) and DuckDB
# (the binary value) round apart and the oracle check fails.
ANALYTICS = [
    _registered("grouping_sets_revenue", ("orders", "customer", "nation", "region"), "plans"),
    _registered("user_sessions", ("events",), "plans"),
    _registered("image_dhash_dedup", ("documents",), "operators"),
    # input rows of the stream op are its triggers' numInputRows
    _registered("stream_daily_rollup", (), "streaming"),
]

WORKLOADS = {"ingest": INGEST, "analytics": ANALYTICS}
# Timed rounds per run, at least. A run is mostly fixed cost (session
# start and a cold warm-up round, 12-40 s), so the rounds are kept few
# enough that all the runs of the benchmark fit its time budget on a
# host running 2.5 times slower than a quiet one. A fixed number of
# rounds keeps the speed-up the short analytics ops still show over the
# first timed rounds (JIT) the same in every run.
MIN_ROUNDS = {"ingest": 2, "analytics": 2}
