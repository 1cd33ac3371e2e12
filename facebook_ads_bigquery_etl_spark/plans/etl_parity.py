"""Reference-ETL parity queries, driver-checked against DuckDB.

The driver's warehouse has no Facebook tables, so these queries run
the real transform (etl/facebook.py) on the deterministic FB fixture
and the oracle recomputes the same result in pure SQL over VALUES
literals rendered from the SAME fixture constants — including the
reference's implicit-coercion semantics (TRY_CAST + REQUIRED row
rejection) and missing-key → empty-array normalization.

This is the canonical query the reference exists to serve (SURVEY §7
step 3): day-grain spend joined to the day's fx rate, rolled up by
campaign.


ROUND-over-aggregate sites (class b) stay native by documented-
tolerance decision; per-row sites ride integrity.round_double_sql.
See scripts/round_sites_classified.json `r13_class_b_decisions`.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..etl.facebook import transform_insights
from ..fixtures import (
    FB_FIXTURE,
    FX_FIXTURE,
    fb_actions_values_sql,
    fb_roas_values_sql,
    fb_scalar_values_sql,
    fx_values_sql,
)
from ..operators import materialize
from ..operators.casting import split_required_violations
from ..operators.integrity import round_double_sql
from ..schemas import SCHEMA_EXCHANGE_RATE, SCHEMA_FACEBOOK_RAW, SCHEMA_FACEBOOK_STAT
from ..sources import register_all
from .registry import register

_REQUIRED_OK = (
    "TRY_CAST(clicks AS BIGINT) IS NOT NULL"
    " AND TRY_CAST(impressions AS BIGINT) IS NOT NULL"
    " AND TRY_CAST(spend AS DOUBLE) IS NOT NULL"
    " AND TRY_CAST(date_start AS DATE) IS NOT NULL"
)


def _valid_fb(spark: SparkSession) -> DataFrame:
    valid, _ = split_required_violations(
        transform_insights(spark.createDataFrame(FB_FIXTURE, SCHEMA_FACEBOOK_RAW)),
        SCHEMA_FACEBOOK_STAT,
    )
    return valid


def _fx(spark: SparkSession) -> DataFrame:
    raw = spark.createDataFrame(FX_FIXTURE, "date string, currencies string, rate double")
    from ..operators.casting import apply_schema

    return apply_schema(raw, SCHEMA_EXCHANGE_RATE)


@register(
    "fb_campaign_spend",
    oracle=f"""
    SELECT CAST(date_start AS DATE)                       AS date,
           campaign_id, campaign_name,
           CAST(SUM(CAST(clicks AS BIGINT)) AS BIGINT)       AS clicks,
           CAST(SUM(CAST(impressions AS BIGINT)) AS BIGINT)  AS impressions,
           ROUND(SUM(CAST(spend AS DOUBLE)), 2)              AS spend
    FROM {fb_scalar_values_sql()}
    WHERE {_REQUIRED_OK}
    GROUP BY 1, 2, 3
    """,
)
def fb_campaign_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 rollup on the reference's clustering columns
    (campaign_id, campaign_name — reference main.py:42), after the
    full cast/quarantine pipeline."""
    return _valid_fb(spark).groupBy("date", "campaign_id", "campaign_name").agg(
        F.sum("clicks").alias("clicks"),
        F.sum("impressions").alias("impressions"),
        F.round(F.sum("spend"), 2).alias("spend"),
    )


@register(
    "fb_actions_rollup",
    oracle=f"""
    WITH raw AS (SELECT * FROM {fb_actions_values_sql()}),
    valid AS (
      SELECT CAST(date_start AS DATE) AS date, campaign_name,
             COALESCE(actions, []) AS actions
      FROM raw WHERE TRY_CAST(clicks AS BIGINT) IS NOT NULL
    ),
    flat AS (
      SELECT date, campaign_name, unnest(actions) AS a FROM valid
    )
    SELECT date, campaign_name,
           a.action_type                               AS action_type,
           ROUND(SUM(CAST(a.value AS DOUBLE)), 2)      AS total_value,
           CAST(COUNT(*) AS BIGINT)                    AS n_actions
    FROM flat GROUP BY 1, 2, 3
    """,
)
def fb_actions_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: the nested actions array exploded and summed by action_type
    — the query the repeated-record model exists for (reference
    main.py:33-38). `value` arrives as STRING by design; the cast to
    DOUBLE happens here, at analysis time."""
    valid = _valid_fb(spark)
    return (
        valid.select("date", "campaign_name", F.explode("actions").alias("a"))
        .groupBy("date", "campaign_name", F.col("a.action_type").alias("action_type"))
        .agg(
            F.round(F.sum(F.col("a.value").try_cast("double")), 2).alias("total_value"),
            F.count("*").alias("n_actions"),
        )
    )


@register(
    "fb_spend_local",
    oracle=f"""
    WITH fb AS (
      SELECT CAST(date_start AS DATE) AS date, campaign_name,
             SUM(CAST(spend AS DOUBLE)) AS spend_usd
      FROM {fb_scalar_values_sql()}
      WHERE {_REQUIRED_OK}
      GROUP BY 1, 2
    ),
    fx AS (SELECT CAST(date_str AS DATE) AS date, currencies,
                  CAST(rate AS DOUBLE) AS rate FROM {fx_values_sql()})
    SELECT fb.date, fb.campaign_name, fx.currencies,
           ROUND(fb.spend_usd, 2)           AS spend_usd,
           ROUND(fx.rate, 6)                AS rate,
           -- the PRODUCT is a per-row double over already-identical
           -- inputs: decimal-string round (r13 class-a conversion);
           -- the spend/rate rounds above are tie-unreachable (exact
           -- 2-dec fixture money / 6-dec rates, k >= their digits)
           {round_double_sql("fb.spend_usd * fx.rate", 2)} AS spend_local
    FROM fb JOIN fx ON fb.date = fx.date
    """,
)
def fb_spend_local(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE canonical downstream query (README.md:18-20 intent): daily
    spend ⋈ exchange rate on the shared date key, converted to local
    currency. fx is a tiny dimension → broadcast join, no shuffle of
    the spend side at any scale."""
    spend = _valid_fb(spark).groupBy("date", "campaign_name").agg(
        F.sum("spend").alias("spend_usd")
    )
    fx = _fx(spark)
    return (
        spend.join(F.broadcast(fx), "date")
        .select(
            "date",
            "campaign_name",
            "currencies",
            F.round("spend_usd", 2).alias("spend_usd"),
            F.round("rate", 6).alias("rate"),
            F.round(F.col("spend_usd") * F.col("rate"), 2).alias("spend_local"),
        )
    )


# ---------------------------------------------------------------------------
# Connector parity: the same results, but ingested through the Spark 4
# Python DataSources (sources/) instead of createDataFrame — exercising
# partition planning, predicate pushdown, and the executor-side read
# path end-to-end. Deterministic transports make the oracle exact.
# ---------------------------------------------------------------------------


@register(
    "fb_connector_ingest",
    oracle=f"""
    SELECT CAST(date_start AS DATE) AS date, campaign_id,
           CAST(SUM(CAST(clicks AS BIGINT)) AS BIGINT) AS clicks,
           ROUND(SUM(CAST(spend AS DOUBLE)), 2)        AS spend
    FROM {fb_scalar_values_sql()}
    WHERE {_REQUIRED_OK} AND CAST(date_start AS DATE) = DATE '2025-01-02'
    GROUP BY 1, 2
    """,
)
def fb_connector_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 end-to-end: facebook_insights DataSource scan (fixture
    transport, date-equality predicate pushed into the API time_range —
    reference main.py:177-180) → cast/quarantine pipeline → rollup."""
    register_all(spark)
    raw = (
        spark.read.format("facebook_insights")
        .option("transport", "fixture")
        .option("since", "2025-01-01")
        .option("until", "2025-01-02")
        .load()
        .where(F.col("date_start") == "2025-01-02")
        .drop("ad_account")
    )
    valid, _ = split_required_violations(transform_insights(raw), SCHEMA_FACEBOOK_STAT)
    return valid.groupBy("date", "campaign_id").agg(
        F.sum("clicks").alias("clicks"),
        F.round(F.sum("spend"), 2).alias("spend"),
    )


@register(
    "fb_campaign_grain",
    oracle=f"""
    SELECT campaign_id, campaign_name,
           CAST(SUM(TRY_CAST(clicks AS BIGINT)) AS BIGINT)      AS clicks,
           CAST(SUM(TRY_CAST(impressions AS BIGINT)) AS BIGINT) AS impressions,
           ROUND(SUM(TRY_CAST(spend AS DOUBLE)), 2)             AS spend
    FROM {fb_scalar_values_sql()}
    GROUP BY 1, 2
    """,
)
def fb_campaign_grain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregation-grain pushdown end-to-end: the connector asks the
    API for level='campaign' × time_increment='all_days' (the
    server-side pre-aggregation the reference never varies —
    main.py:176,180), so ONE record per campaign crosses the wire
    instead of one per date × ad. The oracle recomputes the same
    rollup from the ad-grain fixture; SUM(TRY_CAST(..)) mirrors the
    API contract that metrics are numeric (unparseable fixture values
    are skipped server-side, so no row-level quarantine fires at this
    grain)."""
    register_all(spark)
    raw = (
        spark.read.format("facebook_insights")
        .option("transport", "fixture")
        .option("since", "2025-01-01")
        .option("until", "2025-01-03")
        .option("level", "campaign")
        .option("time_increment", "all_days")
        .load()
    )
    return (
        raw.groupBy("campaign_id", "campaign_name")
        .agg(
            F.sum(F.col("clicks").try_cast("long")).alias("clicks"),
            F.sum(F.col("impressions").try_cast("long")).alias("impressions"),
            F.round(F.sum(F.col("spend").try_cast("double")), 2).alias("spend"),
        )
    )


def _expected_fx_values_sql(since: str, until: str, currencies: list[str]) -> str:
    """The FixtureTransport rate function is pure → render its exact
    output as a VALUES literal for the oracle."""
    from ..sources.facebook_insights import _drange
    from ..sources.transport import FixtureTransport

    t = FixtureTransport()
    rows = []
    for d in _drange(since, until):
        quotes = t.rates(d, "USD", currencies)["quotes"]
        for cur in currencies:
            rows.append(f"(DATE '{d}', 'USD{cur}', {quotes['USD' + cur]!r})")
    return "(VALUES " + ", ".join(rows) + ") fx(date, currencies, rate)"


@register(
    "fx_connector_rates",
    oracle=f"""
    SELECT currencies,
           CAST(COUNT(*) AS BIGINT)        AS n_days,
           ROUND(AVG(CAST(rate AS DOUBLE)), 4) AS avg_rate,
           ROUND(MIN(CAST(rate AS DOUBLE)), 4) AS min_rate,
           ROUND(MAX(CAST(rate AS DOUBLE)), 4) AS max_rate
    FROM {_expected_fx_values_sql("2025-01-01", "2025-01-07", ["UAH", "EUR"])}
    GROUP BY 1
    """,
)
def fx_connector_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 end-to-end: currencylayer DataSource over a 7-day × 2-pair
    grid (one input partition per day), aggregated per pair."""
    register_all(spark)
    fx = (
        spark.read.format("currencylayer")
        .option("since", "2025-01-01")
        .option("until", "2025-01-07")
        .option("currencies", "UAH,EUR")
        .load()
    )
    return fx.groupBy("currencies").agg(
        F.count("*").alias("n_days"),
        F.round(F.avg("rate"), 4).alias("avg_rate"),
        F.round(F.min("rate"), 4).alias("min_rate"),
        F.round(F.max("rate"), 4).alias("max_rate"),
    )


@register(
    "fb_json_landing",
    oracle=f"""
    SELECT CAST(date_start AS DATE)                          AS date,
           CAST(COUNT(*) AS BIGINT)                          AS n_ads,
           CAST(SUM(CAST(clicks AS BIGINT)) AS BIGINT)       AS clicks,
           ROUND(SUM(CAST(spend AS DOUBLE)), 2)              AS spend
    FROM {fb_scalar_values_sql()}
    WHERE {_REQUIRED_OK}
    GROUP BY 1
    """,
)
def fb_json_landing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines landing zone: the same raw Insights payloads arriving
    as files (the common 'API poller dumps JSONL to object storage'
    layout) instead of an in-process batch — schema-first
    ``spark.read.schema(raw).json`` (never inference: at 100 TB schema
    inference is a full extra pass), then the identical
    cast/quarantine pipeline. Proves the transform layer is
    source-agnostic: connector batch, stream, and file landing all
    feed the same stages."""
    landing = materialize.scratch("fb_json_")
    with open(os.path.join(landing, "part-000.jsonl"), "w") as f:
        f.writelines(json.dumps(rec) + "\n" for rec in FB_FIXTURE)
    raw = spark.read.schema(SCHEMA_FACEBOOK_RAW).json(landing)
    valid, _ = split_required_violations(
        transform_insights(raw), SCHEMA_FACEBOOK_STAT
    )
    return valid.groupBy("date").agg(
        F.count("*").alias("n_ads"),
        F.sum("clicks").alias("clicks"),
        F.round(F.sum("spend"), 2).alias("spend"),
    )


@register(
    "fb_campaign_roas",
    oracle=f"""
    WITH raw AS (SELECT * FROM {fb_roas_values_sql()}),
    valid AS (
      SELECT CAST(date_start AS DATE) AS date, campaign_name,
             CAST(spend AS DOUBLE) AS spend,
             COALESCE(actions, []) AS actions
      FROM raw WHERE {_REQUIRED_OK}
    ),
    act AS (
      SELECT date, campaign_name,
             SUM(CAST(a.value AS DOUBLE)) AS action_value
      FROM (SELECT date, campaign_name, unnest(actions) AS a FROM valid)
      GROUP BY 1, 2
    ),
    sp AS (
      SELECT date, campaign_name, SUM(spend) AS spend
      FROM valid GROUP BY 1, 2
    )
    SELECT sp.date, sp.campaign_name,
           ROUND(sp.spend, 2)                          AS spend,
           ROUND(COALESCE(act.action_value, 0), 2)     AS action_value,
           ROUND(COALESCE(act.action_value, 0) / sp.spend, 4) AS roas
    FROM sp LEFT JOIN act
      ON sp.date = act.date AND sp.campaign_name = act.campaign_name
    """,
)
def fb_campaign_roas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROAS — the question this whole warehouse exists to answer
    (reference README.md:18-20: spend ⋈ conversions by campaign):
    per (day, campaign), total spend, total action value (the
    repeated-record column cast at analysis time, reference
    main.py:33-38's STRING-by-design values) and their ratio. Spend
    rows without actions keep a 0 value (LEFT join + missing-key →
    empty array, the reference's main.py:195 semantics)."""
    valid = _valid_fb(spark)
    act = (
        valid.select("date", "campaign_name", F.explode("actions").alias("a"))
        .groupBy("date", "campaign_name")
        .agg(F.sum(F.col("a.value").try_cast("double")).alias("action_value"))
    )
    sp = valid.groupBy("date", "campaign_name").agg(F.sum("spend").alias("spend"))
    return sp.join(act, ["date", "campaign_name"], "left").select(
        "date",
        "campaign_name",
        F.round("spend", 2).alias("spend"),
        F.round(F.coalesce("action_value", F.lit(0.0)), 2).alias("action_value"),
        F.round(
            F.coalesce("action_value", F.lit(0.0)) / F.col("spend"), 4
        ).alias("roas"),
    )
