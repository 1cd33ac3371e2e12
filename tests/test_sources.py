"""Connector layer tests (SURVEY §5.3): canned-payload transports,
partition planning, predicate/projection pushdown, retry/backoff, and
the error envelope the reference crashes on (reference main.py:143).
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql.datasource import EqualTo, GreaterThanOrEqual, In, LessThan

from facebook_ads_bigquery_etl_spark.fixtures import CURRENCYLAYER_ERR, CURRENCYLAYER_OK
from facebook_ads_bigquery_etl_spark.sources import register_all
from facebook_ads_bigquery_etl_spark.sources.currencylayer import CurrencyLayerReader
from facebook_ads_bigquery_etl_spark.sources.facebook_insights import (
    FacebookInsightsReader,
)
from facebook_ads_bigquery_etl_spark.sources.transport import (
    FixtureTransport,
    SyntheticTransport,
    TransportError,
    with_retries,
)
from facebook_ads_bigquery_etl_spark.schemas import (
    SCHEMA_EXCHANGE_RATE,
    SCHEMA_FACEBOOK_RAW,
)


def _reader(**options) -> FacebookInsightsReader:
    return FacebookInsightsReader(SCHEMA_FACEBOOK_RAW, options)


class TestPartitionPlanning:
    def test_grid_is_accounts_times_days(self):
        r = _reader(accounts="a,b,c", since="2025-03-01", until="2025-03-10")
        assert len(r.partitions()) == 3 * 10

    def test_one_partition_is_one_account_day(self):
        parts = _reader(accounts="a", since="2025-01-05", until="2025-01-05").partitions()
        assert len(parts) == 1
        assert (parts[0].account, parts[0].since, parts[0].until) == (
            "a", "2025-01-05", "2025-01-05",
        )

    def test_coarser_time_increment_coarsens_the_grid(self):
        """The planned partition grid follows the aggregation grain:
        one partition per account × time bucket (SURVEY §4 grain
        pushdown; the reference hardcodes day grain, main.py:180)."""
        base = dict(accounts="a,b", since="2025-03-01", until="2025-03-10")
        assert len(_reader(**base).partitions()) == 2 * 10
        weekly = _reader(**base, time_increment="7").partitions()
        assert len(weekly) == 2 * 2  # 10 days → buckets of 7 + 3
        assert (weekly[0].since, weekly[0].until) == ("2025-03-01", "2025-03-07")
        assert (weekly[1].since, weekly[1].until) == ("2025-03-08", "2025-03-10")
        all_days = _reader(**base, time_increment="all_days").partitions()
        assert len(all_days) == 2
        assert (all_days[0].since, all_days[0].until) == ("2025-03-01", "2025-03-10")

    def test_bad_grain_options_rejected(self):
        with pytest.raises(ValueError, match="unknown level"):
            _reader(level="keyword")
        with pytest.raises(ValueError, match="bad time_increment"):
            _reader(time_increment="0")


class TestGrainAggregation:
    def test_campaign_all_days_rolls_up_fixture(self):
        """Server-side pre-aggregation emulation: level=campaign ×
        all_days returns one record per campaign with summed metrics
        and merged action lists."""
        t = FixtureTransport()
        fields = ["date_start", "campaign_id", "campaign_name", "clicks",
                  "spend", "actions"]
        ad = t.insights("act", fields, "2025-01-01", "2025-01-03")
        camp = t.insights(
            "act", fields, "2025-01-01", "2025-01-03",
            level="campaign", time_increment="all_days",
        )
        assert len(camp) < len(ad)
        assert all(r["date_start"] == "2025-01-01" for r in camp)
        by_c = {r["campaign_id"]: r for r in camp}
        for cid, rec in by_c.items():
            exp = sum(
                int(r["clicks"])
                for r in ad
                if r["campaign_id"] == cid and str(r["clicks"]).isdigit()
            )
            got = None if rec["clicks"] is None else int(rec["clicks"])
            assert got == (exp if any(
                r["campaign_id"] == cid and str(r["clicks"]).isdigit() for r in ad
            ) else None)

    def test_weekly_buckets_anchor_at_since(self):
        t = SyntheticTransport(ads_per_day=3)
        fields = ["date_start", "ad_id", "clicks"]
        weekly = t.insights("act", fields, "2025-01-01", "2025-01-10",
                            level="ad", time_increment="7")
        starts = {r["date_start"] for r in weekly}
        assert starts == {"2025-01-01", "2025-01-08"}
        # conservation: bucketed clicks == daily clicks
        daily = t.insights("act", fields, "2025-01-01", "2025-01-10")
        assert sum(int(r["clicks"]) for r in weekly) == sum(
            int(r["clicks"]) for r in daily
        )


class TestPredicatePushdown:
    def test_date_equality_collapses_range(self):
        r = _reader(accounts="a,b", since="2025-01-01", until="2025-12-31")
        rest = r.pushFilters([EqualTo(("date_start",), "2025-06-15")])
        assert rest == []  # fully handled API-side
        assert len(r.partitions()) == 2  # 2 accounts × 1 day

    def test_date_equality_outside_range_plans_nothing(self):
        r = _reader(accounts="a", since="2025-01-01", until="2025-01-03")
        assert r.pushFilters([EqualTo(("date_start",), "2025-02-01")]) == []
        assert r.partitions() == []  # narrowed, never widened past until

    def test_range_bounds_narrow_grid(self):
        r = _reader(accounts="a", since="2025-01-01", until="2025-12-31")
        rest = r.pushFilters(
            [GreaterThanOrEqual(("date_start",), "2025-02-01"),
             LessThan(("date_start",), "2025-02-08")]
        )
        assert rest == []
        assert len(r.partitions()) == 7  # [02-01, 02-07]

    def test_in_narrows_but_is_rechecked(self):
        r = _reader(accounts="a", since="2025-01-01", until="2025-12-31")
        flt = In(("date_start",), ("2025-03-01", "2025-03-05"))
        rest = r.pushFilters([flt])
        assert rest == [flt]  # non-contiguous → Spark re-evaluates
        assert len(r.partitions()) == 5  # bounding range [03-01, 03-05]

    def test_account_in_prunes_accounts(self):
        r = _reader(accounts="a,b,c", since="2025-01-01", until="2025-01-01")
        r.pushFilters([In(("ad_account",), ("a", "c"))])
        assert [p.account for p in r.partitions()] == ["a", "c"]

    def test_unsupported_filter_returned_to_spark(self):
        r = _reader(accounts="a", since="2025-01-01", until="2025-01-02")
        flt = EqualTo(("campaign_name",), "Brand")
        assert r.pushFilters([flt]) == [flt]
        assert len(r.partitions()) == 2  # grid untouched


class TestTransports:
    def test_fixture_projection_pushdown(self):
        recs = FixtureTransport().insights(
            "act", ["date_start", "clicks"], "2025-01-01", "2025-01-01"
        )
        assert recs and all(set(r) <= {"date_start", "clicks"} for r in recs)

    def test_fixture_date_filter(self):
        recs = FixtureTransport().insights(
            "act", ["date_start"], "2025-01-02", "2025-01-02"
        )
        assert {r["date_start"] for r in recs} == {"2025-01-02"}

    def test_synthetic_is_deterministic_and_account_keyed(self):
        t = SyntheticTransport(ads_per_day=5)
        a1 = t.insights("act_1", ["ad_id", "clicks"], "2025-01-01", "2025-01-01")
        a2 = t.insights("act_1", ["ad_id", "clicks"], "2025-01-01", "2025-01-01")
        b = t.insights("act_2", ["ad_id", "clicks"], "2025-01-01", "2025-01-01")
        assert a1 == a2  # idempotent re-read (retry-safe)
        assert a1 != b  # keyed by account

    def test_retry_recovers_then_gives_up(self):
        flaky = FixtureTransport(fail_first_n=2)
        out = with_retries(
            lambda: flaky.insights("a", ["ad_id"], "2025-01-01", "2025-01-01"),
            attempts=3, sleep=lambda s: None,
        )
        assert out  # 3rd attempt succeeded
        dead = FixtureTransport(fail_first_n=99)
        with pytest.raises(TransportError, match="gave up after 2"):
            with_retries(
                lambda: dead.insights("a", ["ad_id"], "2025-01-01", "2025-01-01"),
                attempts=2, sleep=lambda s: None,
            )


def read_envelope(monkeypatch, envelope):
    """Read one day through ``CurrencyLayerReader`` with a transport
    that answers every rates call with ``envelope``."""
    import facebook_ads_bigquery_etl_spark.sources.currencylayer as cl

    class EnvelopeTransport(FixtureTransport):
        def rates(self, date, source, currencies):
            return envelope

    monkeypatch.setattr(cl, "make_transport", lambda spec: EnvelopeTransport())
    r = CurrencyLayerReader(
        cl.SCHEMA_EXCHANGE_RATE, {"since": "2025-01-01", "retries": "1"}
    )
    return list(r.read(r.partitions()[0]))


class TestCurrencyLayerReader:
    """``CurrencyLayerReader.read`` is the one currencylayer envelope
    check: a success envelope yields the day's row per pair, any other
    raises ``TransportError`` with the API's info (the reference's
    error path crashes before it can log, main.py:143)."""

    @pytest.mark.parametrize("envelope, want", [
        (CURRENCYLAYER_OK, [(dt.date(2025, 1, 1), "USDUAH", 41.25)]),
        ({"success": False, "error": None}, "unknown error"),
    ], ids=["ok", "error_none"])
    def test_envelope(self, monkeypatch, envelope, want):
        if isinstance(want, str):
            with pytest.raises(TransportError, match=want):
                read_envelope(monkeypatch, envelope)
        else:
            assert read_envelope(monkeypatch, envelope) == want

    def test_error_envelope_raises_with_info(self, monkeypatch):
        with pytest.raises(TransportError, match="invalid access key"):
            read_envelope(monkeypatch, CURRENCYLAYER_ERR)

    @pytest.mark.parametrize("day, want", [
        ("2025-01-02", ["2025-01-02"]),
        ("2025-02-01", []),
    ], ids=["inside", "outside"])
    def test_date_equality_intersects_range(self, day, want):
        r = CurrencyLayerReader(
            SCHEMA_EXCHANGE_RATE, {"since": "2025-01-01", "until": "2025-01-03"}
        )
        assert r.pushFilters([EqualTo(("date",), day)]) == []
        assert [p.date for p in r.partitions()] == want


class TestEndToEnd:
    def test_null_vs_empty_actions_survive_the_connector(self, spark):
        register_all(spark)
        df = (
            spark.read.format("facebook_insights")
            .option("transport", "fixture")
            .option("since", "2025-01-01").option("until", "2025-01-02")
            .load()
        )
        rows = {(r["ad_id"], r["date_start"]): r for r in df.collect()}
        assert rows[("1002", "2025-01-01")]["actions"] is None  # key absent at the API
        assert rows[("1003", "2025-01-01")]["actions"] == []  # explicit empty list
        assert rows[("1001", "2025-01-01")]["actions"][0].asDict() == {
            "action_type": "link_click", "value": "30",
        }

    def test_scan_filter_prunes_to_one_day(self, spark):
        register_all(spark)
        df = (
            spark.read.format("facebook_insights")
            .option("transport", "synthetic:7")
            .option("accounts", "x,y")
            .option("since", "2025-01-01").option("until", "2025-01-30")
            .load()
            .where("date_start = '2025-01-09'")
        )
        assert df.count() == 2 * 7  # 2 accounts × 7 ads × 1 day

    def test_register_all_registers_each_connector_once_per_session(
        self, spark, monkeypatch
    ):
        """A session that holds the connectors gets no new registration
        (a re-registration re-pickles the class and logs Spark's
        "replaced a previously registered data source" WARN); a new
        session still gets all three."""
        from pyspark.sql.datasource import DataSourceRegistration

        registered = []
        register = DataSourceRegistration.register

        def counting(self, source):
            registered.append((self.sparkSession, source.name()))
            return register(self, source)

        monkeypatch.setattr(DataSourceRegistration, "register", counting)
        register_all(spark)
        registered.clear()
        register_all(spark)
        assert registered == []
        assert spark.conf.get("spark.sql.python.filterPushdown.enabled") == "true"

        fresh = spark.newSession()
        jvm_session = spark._jvm.org.apache.spark.sql.SparkSession
        # Spark checks a new name against the ACTIVE session's sources
        jvm_session.setActiveSession(fresh._jsparkSession)
        try:
            register_all(fresh)
        finally:
            jvm_session.setActiveSession(spark._jsparkSession)
        assert sorted(n for s, n in registered if s is fresh) == [
            "bigquery_local", "currencylayer", "facebook_insights",
        ]
        df = (
            fresh.read.format("facebook_insights")
            .option("transport", "fixture")
            .option("since", "2025-01-01").option("until", "2025-01-01")
            .load()
        )
        assert df.count() == 4

    def test_register_all_on_a_session_that_is_not_active(self, spark):
        """Spark checks a new source name against the ACTIVE session's
        sources: a new session registers all three connectors anyway,
        and the caller's active session is left as it was."""
        jvm_session = spark._jvm.org.apache.spark.sql.SparkSession
        register_all(spark)
        fresh = spark.newSession()
        active = jvm_session.getActiveSession()
        register_all(fresh)
        assert jvm_session.getActiveSession().equals(active)
        held = fresh._jsparkSession.sessionState().dataSourceManager()
        assert all(
            held.dataSourceExists(n)
            for n in ("bigquery_local", "currencylayer", "facebook_insights")
        )
        df = (
            fresh.read.format("facebook_insights")
            .option("transport", "fixture")
            .option("since", "2025-01-01").option("until", "2025-01-01")
            .load()
        )
        assert df.count() == 4


class TestStreamingInsights:
    def test_continuous_trigger_catches_up_day_by_day(self, spark, tmp_path):
        import time

        register_all(spark)
        stream = (
            spark.readStream.format("facebook_insights")
            .option("transport", "synthetic:5")
            .option("accounts", "a1,a2")
            .option("since", "2025-02-01").option("until", "2025-02-04")
            .load()
        )
        q = (
            stream.writeStream.format("memory").queryName("fb_cont")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(processingTime="50 milliseconds")
            .start()
        )
        try:
            deadline = time.time() + 120
            while time.time() < deadline:
                n = spark.sql("SELECT COUNT(DISTINCT date_start) n FROM fb_cont").first()["n"]
                if n >= 4:
                    break
                time.sleep(0.5)
        finally:
            q.stop()
        per_day = {
            r["date_start"]: r["n"]
            for r in spark.sql(
                "SELECT date_start, COUNT(*) n FROM fb_cont GROUP BY 1"
            ).collect()
        }
        # 4 days × 2 accounts × 5 ads, no day ingested twice
        assert per_day == {f"2025-02-0{d}": 10 for d in (1, 2, 3, 4)}

    def test_available_now_is_the_daily_cron_run(self, spark, tmp_path):
        """Each availableNow run ingests exactly the next unread day
        (checkpoint = cursor) — the reference's scheduled daily pull
        with restart/replay safety."""
        register_all(spark)
        out, ck = str(tmp_path / "wh"), str(tmp_path / "ck")

        def run_once():
            stream = (
                spark.readStream.format("facebook_insights")
                .option("transport", "synthetic:3")
                .option("accounts", "a1")
                .option("since", "2025-03-01").option("until", "2025-03-03")
                .load()
            )
            q = (
                stream.writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ck)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)

        run_once()
        days1 = sorted(
            r["date_start"]
            for r in spark.read.parquet(out).select("date_start").distinct().collect()
        )
        assert days1 == ["2025-03-01"]
        run_once()  # next scheduled run → next day, no re-ingest of day 1
        days2 = sorted(
            r["date_start"]
            for r in spark.read.parquet(out).select("date_start").distinct().collect()
        )
        assert days2 == ["2025-03-01", "2025-03-02"]
        assert spark.read.parquet(out).count() == 6  # 2 days × 3 ads, no dups
