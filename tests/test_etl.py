"""ETL pipeline + catalog tests (SURVEY §5.2-5.3): dispatch routing
incl. the backfill-date path the reference crashes on, and exactly-once
re-runs of both daily jobs through the runner and their connectors.
"""

from __future__ import annotations

import base64
import datetime as dt
import os

import pytest

from facebook_ads_bigquery_etl_spark.etl.dispatch import dispatch_event, resolve_run_date
from facebook_ads_bigquery_etl_spark.etl.runner import handle_event
from facebook_ads_bigquery_etl_spark.fixtures import (
    CURRENCYLAYER_ERR,
    PUBSUB_CURRENCY_BACKFILL_EVENT,
    PUBSUB_FACEBOOK_EVENT,
)
from facebook_ads_bigquery_etl_spark.schemas import SCHEMA_FACEBOOK_STAT
from facebook_ads_bigquery_etl_spark.sources import FixtureTransport
from facebook_ads_bigquery_etl_spark.sources.transport import TransportError
from tests.test_sources import read_envelope


class TestDispatch:
    def test_routes_facebook_job_and_defaults_to_yesterday(self):
        req = dispatch_event(PUBSUB_FACEBOOK_EVENT, today=dt.date(2025, 1, 3))
        assert req.job == "get_facebook"
        assert req.run_date == dt.date(2025, 1, 2)
        assert req.attributes["dataset_id"] == "ds"

    def test_backfill_date_is_parsed_not_strftimed(self):
        # The reference calls .strftime on the attribute STRING and
        # crashes (reference main.py:99-100) — the path must work here.
        req = dispatch_event(PUBSUB_CURRENCY_BACKFILL_EVENT, today=dt.date(2025, 6, 1))
        assert req.job == "get_currency"
        assert req.run_date == dt.date(2025, 1, 1)

    def test_unknown_job_raises(self):
        with pytest.raises(ValueError, match="unknown job"):
            dispatch_event({"data": "bm9wZQ=="})  # base64('nope')

    def test_empty_date_attribute_falls_back(self):
        assert resolve_run_date({"date": ""}, today=dt.date(2025, 1, 2)) == dt.date(2025, 1, 1)


def _load(spark, wh, job, date, **attributes):
    """One daily event through the runner and the fixture connector."""
    event = {
        "data": base64.b64encode(job.encode()).decode(),
        "attributes": {"date": date, **attributes},
    }
    return handle_event(spark, event, wh, transport="fixture")


def _per_day(spark, path):
    return {
        str(r["date"]): r["count"]
        for r in spark.read.parquet(path).groupBy("date").count().collect()
    }


class TestCurrencyPipeline:
    def test_error_envelope_raises_typed_error(self, monkeypatch):
        # The reference's error path itself crashes (logger.error(...)
        # .format — reference main.py:143); the job's connector must
        # raise cleanly, naming the failed day and the API's info.
        with pytest.raises(
            TransportError, match="currencylayer error for 2025-01-01: invalid access key"
        ):
            read_envelope(monkeypatch, CURRENCYLAYER_ERR)

    def test_pipeline_writes_day_partition(self, spark, tmp_path):
        res = _load(spark, str(tmp_path), "get_currency", "2025-01-02")
        assert os.path.isdir(os.path.join(res.warehouse_path, "date=2025-01-02"))
        want = FixtureTransport().rates("2025-01-02", "USD", ["UAH"])["quotes"]["USDUAH"]
        rows = spark.read.parquet(res.warehouse_path).collect()
        assert [(str(r["date"]), r["currencies"], r["rate"]) for r in rows] == [
            ("2025-01-02", "USDUAH", want)
        ]
        assert (res.rows_written, res.rows_quarantined) == (1, 0)


class TestFacebookPipeline:
    def test_rerun_is_exactly_once(self, spark, tmp_path):
        wh = str(tmp_path)
        for _ in range(2):
            got = [
                _load(spark, wh, "get_facebook", d)
                for d in ("2025-01-01", "2025-01-02")
            ]
            assert [(r.rows_written, r.rows_quarantined) for r in got] == [(4, 0), (3, 1)]
            assert spark.read.parquet(got[0].warehouse_path).count() == 7

    def test_partial_day_rerun_only_touches_its_partition(self, spark, tmp_path):
        # The fixture transport serves every fixture row once per
        # account, so a one-account rerun is a smaller day-1 batch.
        wh = str(tmp_path)
        for d in ("2025-01-01", "2025-01-02"):
            res = _load(spark, wh, "get_facebook", d, accounts="a,b")
        assert _per_day(spark, res.warehouse_path) == {"2025-01-01": 8, "2025-01-02": 6}
        _load(spark, wh, "get_facebook", "2025-01-01", accounts="a")
        assert _per_day(spark, res.warehouse_path) == {"2025-01-01": 4, "2025-01-02": 6}

    def test_clustering_sort_within_files(self, spark, tmp_path):
        # The sort-on-write contract behind BigQuery-style clustering
        # (reference main.py:42,72-73): rows within each output file
        # are ordered by the clustering key, giving row-group min/max
        # pruning on campaign scans.
        res = _load(spark, str(tmp_path), "get_facebook", "2025-01-02", accounts="a,b")
        part = os.path.join(res.warehouse_path, "date=2025-01-02")
        files = [f for f in os.listdir(part) if f.endswith(".parquet")]
        assert files
        for f in files:
            ids = [
                r["campaign_id"]
                for r in spark.read.parquet(os.path.join(part, f))
                .select("campaign_id").collect()
            ]
            assert ids == sorted(ids)


class TestEndToEndRunner:
    def test_facebook_event_through_connector_to_warehouse(self, spark, tmp_path):
        from facebook_ads_bigquery_etl_spark.etl.runner import handle_event

        event = {
            "data": "Z2V0X2ZhY2Vib29r",  # base64('get_facebook')
            "attributes": {"date": "2025-01-02"},
        }
        res = handle_event(spark, event, str(tmp_path), transport="fixture")
        assert res.job == "get_facebook" and res.run_date == "2025-01-02"
        assert res.rows_written == 3  # day-2 fixture minus the 'oops' row
        assert res.rows_quarantined == 1
        back = spark.read.parquet(res.warehouse_path)
        assert back.count() == 3
        assert {str(r["date"]) for r in back.select("date").collect()} == {"2025-01-02"}
        # re-delivery of the same event: idempotent
        res2 = handle_event(spark, event, str(tmp_path), transport="fixture")
        assert spark.read.parquet(res2.warehouse_path).count() == 3

    def test_currency_event_backfill_date(self, spark, tmp_path):
        res = handle_event(spark, PUBSUB_CURRENCY_BACKFILL_EVENT, str(tmp_path))
        assert res.job == "get_currency" and res.run_date == "2025-01-01"
        row = spark.read.parquet(res.warehouse_path).first()
        assert row["currencies"] == "USDUAH" and row["rate"] > 0
        # a same-day rerun replaces the day's rate, never duplicates it
        handle_event(spark, PUBSUB_CURRENCY_BACKFILL_EVENT, str(tmp_path))
        assert spark.read.parquet(res.warehouse_path).count() == 1

    def test_backfill_range_and_quarantine_table(self, spark, tmp_path):
        from facebook_ads_bigquery_etl_spark.etl.dispatch import dispatch_event
        from facebook_ads_bigquery_etl_spark.etl.runner import run_facebook_job
        from facebook_ads_bigquery_etl_spark.sources import register_all

        register_all(spark)
        event = {"data": "Z2V0X2ZhY2Vib29r", "attributes": {"date": "2025-01-01"}}
        req = dispatch_event(event)
        res = run_facebook_job(
            spark, req, str(tmp_path), transport="fixture", until="2025-01-02"
        )
        assert res.rows_written == 7  # both fixture days, minus 'oops'
        assert res.rows_written == spark.read.parquet(res.warehouse_path).count()
        assert res.rows_quarantined == 1
        q = spark.read.parquet(str(tmp_path / "quarantine" / "facebook_stat"))
        assert q.count() == 1
        row = q.first()
        assert row["ad_id"] == "9999"
        # quarantined rows are stored as cast: the failed 'oops' cast is NULL
        assert row["clicks"] is None and row["impressions"] == 100

    def test_rerun_keeps_one_copy_of_quarantined_rows(self, spark, tmp_path, monkeypatch):
        """The side table holds each run date once, like the main table:
        a rerun replaces the day's rejected rows, and a rerun that
        rejects nothing clears them."""
        from pyspark.sql import functions as F

        from facebook_ads_bigquery_etl_spark.etl import runner

        event = {"data": "Z2V0X2ZhY2Vib29r", "attributes": {"date": "2025-01-02"}}
        side = tmp_path / "quarantine" / "facebook_stat"
        for _ in range(2):
            res = handle_event(spark, event, str(tmp_path), transport="fixture")
            assert res.rows_quarantined == 1
        q = spark.read.parquet(str(side))
        assert q.count() == 1
        assert [str(r["_quarantined_on"]) for r in q.collect()] == ["2025-01-02"]

        transform = runner.transform_insights
        monkeypatch.setattr(
            runner,
            "transform_insights",
            lambda raw: transform(raw).withColumn("clicks", F.coalesce("clicks", F.lit(0))),
        )
        res = handle_event(spark, event, str(tmp_path), transport="fixture")
        assert (res.rows_written, res.rows_quarantined) == (4, 0)
        assert not (side / "_quarantined_on=2025-01-02").exists()

    @pytest.mark.parametrize("day, transport", [
        ("2030-06-01", "fixture"),  # a day the fixture has no rows for
        ("2025-01-02", "synthetic:0"),
    ])
    def test_empty_day_counts_zero(self, spark, tmp_path, day, transport):
        from facebook_ads_bigquery_etl_spark.etl.runner import handle_event

        event = {"data": "Z2V0X2ZhY2Vib29r", "attributes": {"date": day}}
        res = handle_event(spark, event, str(tmp_path), transport=transport)
        assert (res.rows_written, res.rows_quarantined) == (0, 0)
        assert not os.path.exists(str(tmp_path / "quarantine"))

    @pytest.mark.parametrize("clicks", [
        "runtime",  # NULL for every row, decided per row at run time
        "absent",  # a REQUIRED column missing from the batch: a typed NULL literal
    ])
    def test_all_rejected_batch_lands_in_quarantine(self, spark, tmp_path, monkeypatch, clicks):
        from pyspark.sql import functions as F

        from facebook_ads_bigquery_etl_spark.etl import runner

        transform = runner.transform_insights

        def nulled_clicks(raw):
            df = transform(raw)
            if clicks == "runtime":
                return df.withColumn("clicks", F.when(F.col("ad_id") == "none", F.col("clicks")))
            return df.withColumn("clicks", F.lit(None).cast("long"))

        monkeypatch.setattr(runner, "transform_insights", nulled_clicks)
        event = {"data": "Z2V0X2ZhY2Vib29r", "attributes": {"date": "2025-01-01"}}
        res = runner.handle_event(spark, event, str(tmp_path), transport="fixture")
        assert (res.rows_written, res.rows_quarantined) == (0, 4)
        q = spark.read.parquet(str(tmp_path / "quarantine" / "facebook_stat"))
        assert q.count() == 4

    @pytest.mark.parametrize("day, rows", [("2025-01-01", 4), ("2030-06-01", 0)])
    def test_event_runs_only_the_write_jobs(self, spark, tmp_path, day, rows):
        """Row counts come from the write's own pass: an event without
        rejected rows runs exactly the jobs of one plain sink write of
        as many rows. A count after the write, or a lost observation
        that falls back to counting, pulls the day from the connector
        again and adds jobs."""
        import uuid

        from pyspark.sql import Row
        from pyspark.sql import functions as F

        from facebook_ads_bigquery_etl_spark.etl.runner import handle_event
        from facebook_ads_bigquery_etl_spark.sinks import write_day_partitioned

        sc = spark.sparkContext

        def jobs_of(fn):
            group = f"single-pass-{uuid.uuid4().hex}"
            sc.setJobGroup(group, group)
            try:
                out = fn()
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            return out, sc.statusTracker().getJobIdsForGroup(group)

        event = {"data": "Z2V0X2ZhY2Vib29r", "attributes": {"date": day}}
        res, event_jobs = jobs_of(
            lambda: handle_event(spark, event, str(tmp_path / "wh"), transport="fixture")
        )
        assert (res.rows_written, res.rows_quarantined) == (rows, 0)
        frame = spark.createDataFrame([Row(date=day, n=i) for i in range(4)]).where(F.col("n") < rows)
        got, write_jobs = jobs_of(lambda: write_day_partitioned(frame, str(tmp_path / "bare")))
        assert got == (rows, 0) and len(write_jobs) > 0
        assert len(event_jobs) == len(write_jobs)


class TestTransformBuildCost:
    """The cast, normalize and REQUIRED layer is SQL text, so building
    it costs a few dozen py4j round trips (one per column passed to
    ``selectExpr`` plus a constant) where the Column API cost ~1,100 —
    as much driver time as Spark spends on a day's rows."""

    # transform_insights(raw).schema.json() as the Column-API layer gave it
    SCHEMA_JSON = (
        '{"fields":[{"metadata":{},"name":"date","nullable":true,"type":"date"},'
        '{"metadata":{},"name":"ad_id","nullable":true,"type":"string"},'
        '{"metadata":{},"name":"ad_name","nullable":true,"type":"string"},'
        '{"metadata":{},"name":"adset_id","nullable":true,"type":"string"},'
        '{"metadata":{},"name":"adset_name","nullable":true,"type":"string"},'
        '{"metadata":{},"name":"campaign_id","nullable":true,"type":"string"},'
        '{"metadata":{},"name":"campaign_name","nullable":true,"type":"string"},'
        '{"metadata":{},"name":"clicks","nullable":true,"type":"long"},'
        '{"metadata":{},"name":"impressions","nullable":true,"type":"long"},'
        '{"metadata":{},"name":"spend","nullable":true,"type":"double"},'
        '{"metadata":{},"name":"conversions","nullable":false,"type":{"containsNull":false,'
        '"elementType":{"fields":[{"metadata":{},"name":"action_type","nullable":true,"type":"string"},'
        '{"metadata":{},"name":"value","nullable":true,"type":"string"}],"type":"struct"},"type":"array"}},'
        '{"metadata":{},"name":"actions","nullable":false,"type":{"containsNull":false,'
        '"elementType":{"fields":[{"metadata":{},"name":"action_type","nullable":true,"type":"string"},'
        '{"metadata":{},"name":"value","nullable":true,"type":"string"}],"type":"struct"},"type":"array"}}],'
        '"type":"struct"}'
    )
    # (row..., REQUIRED violated) on fixture days 2025-01-01..03, by (ad_id, date)
    ROWS = [
        (dt.date(2025, 1, 1), "1001", "ad_1001", "201", "adset_201", "31", "Brand", 42, 1000, 12.34,
         [("purchase", "3")], [("link_click", "30"), ("page_view", "55")], False),
        (dt.date(2025, 1, 2), "1001", "ad_1001", "201", "adset_201", "31", "Brand", 39, 940, 11.8,
         [("purchase", "2"), ("add_to_cart", "7")],
         [("link_click", "28"), ("page_view", "49"), ("video_view", "12")], False),
        (dt.date(2025, 1, 1), "1002", "ad_1002", "201", "adset_201", "31", "Brand", 17, 820, 9.5,
         [], [], False),
        (dt.date(2025, 1, 1), "1003", "ad_1003", "202", "adset_202", "31", "Brand", 5, 150, 1.25,
         [], [], False),
        (dt.date(2025, 1, 1), "2001", "ad_2001", "301", "adset_301", "32", "Performance", 88, 2400,
         33.1, [], [("link_click", "61")], False),
        (dt.date(2025, 1, 2), "2001", "ad_2001", "301", "adset_301", "32", "Performance", 91, 2500,
         35.75, [("purchase", "5")], [("link_click", "66")], False),
        (dt.date(2025, 1, 2), "2002", "ad_2002", "302", "adset_302", "32", "Performance", 0, 10, 0.0,
         [], [], False),
        (dt.date(2025, 1, 2), "9999", "ad_9999", "999", "adset_999", "99", "Broken", None, 100, 1.0,
         [], [], True),
    ]

    @pytest.fixture()
    def raw(self, spark):
        from facebook_ads_bigquery_etl_spark.sources import register_all

        register_all(spark)
        return (
            spark.read.format("facebook_insights")
            .option("transport", "fixture")
            .option("since", "2025-01-01").option("until", "2025-01-03")
            .load()
            .drop("ad_account")
        )

    @staticmethod
    def _round_trips(build):
        """(py4j round trips, result) of ``build()``, after one warm-up
        build (first calls resolve JVM classes and functions once)."""
        from py4j.clientserver import ClientServerConnection

        build()
        send = ClientServerConnection.send_command
        calls = []

        def counting(self, command):
            calls.append(1)
            return send(self, command)

        ClientServerConnection.send_command = counting
        try:
            out = build()
        finally:
            ClientServerConnection.send_command = send
        return len(calls), out

    def test_build_is_a_constant_number_of_round_trips(self, raw):
        from facebook_ads_bigquery_etl_spark.etl.facebook import transform_insights
        from facebook_ads_bigquery_etl_spark.operators.casting import required_violation_predicate

        n, _ = self._round_trips(
            lambda: (transform_insights(raw), required_violation_predicate(SCHEMA_FACEBOOK_STAT))
        )
        assert n <= 40  # the Column-API layer made 1,110

    def test_width_adds_at_most_one_round_trip_per_column(self, raw):
        from pyspark.sql import types as T

        from facebook_ads_bigquery_etl_spark.operators.casting import (
            apply_schema,
            required_violation_predicate,
        )

        fields = SCHEMA_FACEBOOK_STAT.fields
        wide = T.StructType(
            fields + [T.StructField(f"{f.name}_{k}", f.dataType, f.nullable)
                      for k in range(3) for f in fields]
        )
        wide_raw = raw.selectExpr(
            "*", *[f"`{c}` AS `{c}_{k}`" for k in range(3) for c in raw.columns]
        ).withColumnRenamed("date_start", "date")

        def cost(frame, target):
            return self._round_trips(
                lambda: (apply_schema(frame, target), required_violation_predicate(target))
            )[0]

        narrow_raw = raw.withColumnRenamed("date_start", "date")
        added = len(wide.fields) - len(fields)
        assert cost(wide_raw, wide) - cost(narrow_raw, SCHEMA_FACEBOOK_STAT) <= added

    def test_schema_and_rows_are_the_column_api_layers(self, raw):
        from facebook_ads_bigquery_etl_spark.etl.facebook import transform_insights
        from facebook_ads_bigquery_etl_spark.operators.casting import required_violation_predicate

        stat = transform_insights(raw)
        assert stat.schema.json() == self.SCHEMA_JSON
        got = stat.withColumn(
            "_bad", required_violation_predicate(SCHEMA_FACEBOOK_STAT)
        ).orderBy("ad_id", "date").collect()
        assert [tuple(r) for r in got] == self.ROWS
