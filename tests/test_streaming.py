"""Streaming layer tests (SURVEY §2.7): stream-vs-batch equivalence on
finite input, watermark dedup, custom stateful operator, and the
exactly-once foreachBatch sink (idempotent across restarts).
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from facebook_ads_bigquery_etl_spark.streaming import (
    daily_rollup,
    dedup_events,
    enrich_with_rates,
    read_event_stream,
    sessionize_stream,
    user_running_totals,
    write_stream_to_warehouse,
)
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def event_source(spark, tmp_path_factory):
    """Copy the smoke events parquet into a stream-source dir."""
    src = tmp_path_factory.mktemp("stream_src")
    shutil.copy(f"{SF_SMOKE}/events.parquet", src / "part-000.parquet")
    return str(src)


def _batch_events(spark):
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    if dict(df.dtypes).get("ts") == "bigint":  # TIMESTAMP(NANOS) parquet
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def _drain_to_memory(df, name: str, mode: str):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


class TestDailyRollup:
    def test_matches_batch_aggregation(self, spark, event_source):
        stream = daily_rollup(read_event_stream(spark, event_source))
        _drain_to_memory(stream, "rollup_t", "complete")
        got = {
            (r["date"].isoformat(), r["event_type"]): (r["n_events"], r["total_value"])
            for r in spark.sql("SELECT * FROM rollup_t").collect()
        }
        want = {
            (r["date"].isoformat(), r["event_type"]): (r["n_events"], r["total_value"])
            for r in _batch_events(spark)
            .groupBy(F.to_date("ts").alias("date"), "event_type")
            .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
            .collect()
        }
        assert got == want


class TestDedup:
    def test_drops_redelivered_event_ids(self, spark, tmp_path):
        src = tmp_path / "dup_src"
        src.mkdir()
        base = _batch_events(spark).limit(200)
        # Redeliver the same 200 events twice (two source files), raw
        # nanos-long ts as the file source expects.
        raw = spark.read.parquet(f"{SF_SMOKE}/events.parquet").limit(200)
        raw.write.parquet(str(src / "a.parquet"))
        raw.write.parquet(str(src / "b.parquet"))
        stream = dedup_events(read_event_stream(spark, str(src) + "/*"))
        _drain_to_memory(stream, "dedup_t", "append")
        n = spark.sql("SELECT COUNT(DISTINCT event_id) c, COUNT(*) n FROM dedup_t").first()
        assert n["n"] == n["c"] == base.count() == 200


class TestSessionization:
    def test_session_windows_respect_gap(self, spark, event_source):
        stream = sessionize_stream(read_event_stream(spark, event_source), gap="30 minutes")
        _drain_to_memory(stream, "sess_t", "complete")
        sess = spark.sql("SELECT * FROM sess_t")
        assert sess.count() > 0
        # Sessions of one user never overlap: session_window's end is
        # last-event + gap, so the next session must start at or after
        # the previous end (else the gap would have merged them).
        bad = spark.sql(
            """
            SELECT COUNT(*) AS n FROM (
              SELECT session_start,
                     LAG(session_end) OVER (
                       PARTITION BY user_id ORDER BY session_start) AS prev_end
              FROM sess_t)
            WHERE prev_end IS NOT NULL AND session_start < prev_end
            """
        ).first()["n"]
        assert bad == 0
        # Conservation: every event lands in exactly one session.
        total = sess.agg(F.sum("n_events")).first()[0]
        assert total == _batch_events(spark).count()


class TestRunningTotals:
    def test_state_accumulates_across_batches(self, spark, tmp_path):
        src = tmp_path / "state_src"
        src.mkdir()
        raw = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
        raw.limit(300).write.parquet(str(src / "a.parquet"))
        stream = user_running_totals(read_event_stream(spark, str(src) + "/*"))
        _drain_to_memory(stream, "run_t", "update")
        got = {
            r["user_id"]: (r["n_events"], r["total_value"])
            for r in spark.sql(
                "SELECT user_id, n_events, total_value FROM run_t"
            ).collect()
        }
        want = {
            r["user_id"]: (r["n"], r["tv"])
            for r in _batch_events(spark)
            .limit(300)
            .groupBy("user_id")
            .agg(
                F.count("*").alias("n"),
                F.round(F.sum(F.coalesce("value", F.lit(0.0))), 2).alias("tv"),
            )
            .collect()
        }
        assert got == want


class TestStreamStaticJoin:
    def test_enriches_each_event_with_its_days_rate(self, spark, event_source):
        batch = _batch_events(spark)
        # fx covers every event date except the max one → that day's
        # events must survive the left join with NULL rate.
        dates = sorted(r[0] for r in batch.select(F.to_date("ts")).distinct().collect())
        covered = dates[:-1]
        fx = spark.createDataFrame(
            [(d, 41.10 + i) for i, d in enumerate(covered)], "date date, rate double"
        )
        stream = enrich_with_rates(read_event_stream(spark, event_source), fx)
        _drain_to_memory(stream, "fx_t", "append")
        out = spark.sql("SELECT * FROM fx_t")
        assert out.count() == batch.count()
        # Spot-check the arithmetic and the uncovered-day NULLs.
        bad = out.where(
            (F.col("rate").isNotNull())
            & (F.abs(F.col("value_local") - F.col("value") * F.col("rate")) > 1e-9)
        ).count()
        assert bad == 0
        assert out.where(F.col("date") == dates[-1]).count() > 0
        assert out.where((F.col("date") == dates[-1]) & F.col("rate").isNotNull()).count() == 0
        assert (
            out.where((F.col("date").isin(covered)) & F.col("rate").isNull()).count() == 0
        )


class TestExactlyOnceSink:
    def test_restart_does_not_duplicate(self, spark, event_source, tmp_path):
        out, ckpt = str(tmp_path / "wh"), str(tmp_path / "ckpt")
        rollup = daily_rollup(read_event_stream(spark, event_source))

        q = write_stream_to_warehouse(rollup, out, ckpt)
        q.awaitTermination(120)
        n1 = spark.read.parquet(out).count()

        # "Restart" with the same checkpoint and no new data → no-op,
        # and a re-written batch would only overwrite its own day
        # partitions (dynamic overwrite), never append duplicates.
        q2 = write_stream_to_warehouse(rollup, out, ckpt)
        q2.awaitTermination(120)
        n2 = spark.read.parquet(out).count()
        assert n1 == n2 > 0
        assert any(d.startswith("date=") for d in os.listdir(out))

    def test_profile_max_is_true_max_for_all_negative_users(self, spark, tmp_path):
        """The stateful profile seeded its running max with 0.0, so a
        user whose values are all negative reported max_value = 0.0
        while the oracle's plain MAX returns the true negative (r13
        operator review). The max must seed from data."""
        from facebook_ads_bigquery_etl_spark.streaming import (
            user_profile_stateful,
        )

        src = str(tmp_path / "neg_src")
        spark.createDataFrame(
            [
                (1, 7, "a", -3.5, "2024-01-01 00:00:01"),
                (2, 7, "b", -1.2, "2024-01-01 00:00:02"),
                (3, 8, "a", 2.0, "2024-01-01 00:00:03"),
            ],
            "event_id long, user_id long, event_type string, value double, ts string",
        ).withColumn("ts", F.col("ts").cast("timestamp")).coalesce(1).write.parquet(src)
        stream = user_profile_stateful(
            spark.readStream.schema(
                "event_id long, user_id long, event_type string,"
                " value double, ts timestamp"
            ).parquet(src)
        )
        _drain_to_memory(stream, "neg_prof_t", "update")
        got = {
            r["user_id"]: r["max_value"]
            for r in spark.sql(
                "SELECT user_id, max(max_value) AS max_value"
                " FROM neg_prof_t GROUP BY user_id"
            ).collect()
        }
        assert got[7] == -1.2  # not 0.0
        assert got[8] == 2.0

    def test_later_batch_does_not_replace_same_day_rows(self, spark, tmp_path):
        """Two micro-batches carrying the SAME day must both survive:
        overwriting on the day alone let batch 1's rows be replaced by
        batch 2's (r13 operator review — 100 then 50 events for one
        day left only the 50). Each batch owns its (day, __sink_batch)
        sub-partition, so cross-batch accumulation AND replay
        idempotence both hold."""
        src = str(tmp_path / "src")
        os.makedirs(src)
        a = spark.createDataFrame(
            [(i, "2025-07-01") for i in range(100)], "id long, date string"
        )
        b = spark.createDataFrame(
            [(i, "2025-07-01") for i in range(100, 150)], "id long, date string"
        )
        for name, df in (("0.parquet", a), ("1.parquet", b)):
            tmp = str(tmp_path / f"w_{name}")
            df.coalesce(1).write.parquet(tmp)
            part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
            shutil.copy(os.path.join(tmp, part), os.path.join(src, name))
        out, ckpt = str(tmp_path / "wh2"), str(tmp_path / "ckpt2")
        stream = (
            spark.readStream.schema("id long, date string")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        q = write_stream_to_warehouse(stream, out, ckpt)
        q.awaitTermination(120)
        assert spark.read.parquet(out).count() == 150
        # full redelivery from a fresh checkpoint: still 150, not 300
        stream2 = (
            spark.readStream.schema("id long, date string")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        q2 = write_stream_to_warehouse(stream2, out, str(tmp_path / "ckpt3"))
        q2.awaitTermination(120)
        assert spark.read.parquet(out).count() == 150
        assert os.path.isdir(os.path.join(out, "date=2025-07-01"))


class TestTsSniff:
    """The footer sniff must fail loudly on an unreadable parquet file
    (it used to swallow every exception and silently declare µs, which
    surfaced later as a confusing mid-stream schema error), but still
    return False for genuinely ts-less or parquet-less sources."""

    def test_unreadable_footer_raises(self, tmp_path):
        from facebook_ads_bigquery_etl_spark.streaming.pipeline import (
            _ts_is_parquet_nanos,
        )

        bad = tmp_path / "landing"
        bad.mkdir()
        (bad / "part-0000.parquet").write_bytes(b"not a parquet file")
        with pytest.raises(RuntimeError, match="sniff"):
            _ts_is_parquet_nanos(str(bad))

    def test_no_parquet_files_is_false_not_an_error(self, tmp_path):
        from facebook_ads_bigquery_etl_spark.streaming.pipeline import (
            _ts_is_parquet_nanos,
        )

        empty = tmp_path / "empty"
        empty.mkdir()
        assert _ts_is_parquet_nanos(str(empty)) is False

    def test_ts_less_parquet_is_false(self, spark, tmp_path):
        from facebook_ads_bigquery_etl_spark.streaming.pipeline import (
            _ts_is_parquet_nanos,
        )

        p = str(tmp_path / "nots")
        spark.range(3).write.parquet(p)
        assert _ts_is_parquet_nanos(p) is False


class TestTokenBucketEviction:
    """EventTimeTimeout state eviction for rate_limit_token_bucket
    (round-6 hardening, tests added round 7): an idle bucket emits its
    final profile and is removed; a returning key restarts counters;
    and the deadline is MONOTONE in event time (round-6 advice: a late
    micro-batch with older timestamps must not pull the deadline back).
    """

    SCHEMA = "event_id long, user_id long, ts timestamp"
    BASE_US = 1_700_000_000_000_000  # epoch µs, integral seconds

    def _drive(self, spark, tmp_path, batches, **bucket_kw):
        """Run one file per micro-batch through the token bucket and
        return {batch_id: sorted emitted profile tuples}."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from facebook_ads_bigquery_etl_spark.streaming import (
            rate_limit_token_bucket,
        )

        src = tmp_path / "rl_src"
        src.mkdir()
        now = 1_000_000_000.0  # deterministic, strictly increasing mtimes
        for i, rows in enumerate(batches):
            tbl = pa.table(
                {
                    "event_id": pa.array(
                        [r[0] for r in rows], pa.int64()
                    ),
                    "user_id": pa.array(
                        [r[1] for r in rows], pa.int64()
                    ),
                    "ts": pa.array(
                        [self.BASE_US + r[2] * 1_000_000 for r in rows],
                        pa.timestamp("us"),
                    ),
                }
            )
            path = str(src / f"batch-{i:03d}.parquet")
            pq.write_table(tbl, path)
            os.utime(path, (now + 10 * i, now + 10 * i))

        stream = (
            spark.readStream.schema(self.SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        out = {}

        def sink(df, bid):
            out[bid] = sorted(
                (
                    r["user_id"],
                    r["n_events"],
                    r["n_allowed"],
                    r["n_throttled"],
                )
                for r in df.collect()
            )

        q = (
            rate_limit_token_bucket(stream, **bucket_kw)
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        return out

    def test_idle_key_evicts_and_restarts(self, spark, tmp_path):
        # b0: A bursts; b1/b2: only B, advancing the watermark past
        # A's idle deadline → A's FINAL profile is emitted from the
        # timeout branch during b2 (a batch with no A data at all);
        # b3: A returns and its counters have restarted (state gone).
        out = self._drive(
            spark,
            tmp_path,
            batches=[
                [(1, 1, 0), (2, 1, 1), (3, 1, 2)],
                [(4, 2, 30)],
                [(5, 2, 35)],
                [(6, 1, 40)],
            ],
            capacity=2,
            period_us=1_000_000,
            watermark="0 seconds",
            evict_idle_us=10_000_000,
        )
        assert (1, 3, 3, 0) in out[0]
        assert out[1] == [(2, 1, 1, 0)]  # A alive, not re-emitted
        assert (1, 3, 3, 0) in out[2]  # final emit on timeout
        assert (1, 1, 1, 0) in out[3]  # returning key restarted

    def test_late_batch_does_not_regress_deadline(self, spark, tmp_path):
        # A's latest event is t=200; a LATE batch delivers an A event
        # at t=150 (above the 100 s watermark, below A's last seen).
        # With the deadline derived from the late batch alone it would
        # regress to 160 and the wm=165 during b3 would evict A early;
        # monotone state keeps it at 210, so A survives b3/b4 and
        # evicts only in b5 (wm=225).
        out = self._drive(
            spark,
            tmp_path,
            batches=[
                [(1, 1, 200), (2, 2, 200)],
                [(3, 1, 150)],
                [(4, 2, 265)],
                [(5, 2, 290)],
                [(6, 2, 325)],
                [(7, 2, 330)],
            ],
            capacity=2,
            period_us=1_000_000,
            watermark="100 seconds",
            evict_idle_us=10_000_000,
        )
        final_a = (1, 2, 2, 0)
        assert final_a in out[1]  # late fold reached the bucket
        assert all(
            not any(row[0] == 1 for row in out[b]) for b in (2, 3, 4)
        ), "A was evicted early: deadline regressed on the late batch"
        assert final_a in out[5]  # evicted at the monotone deadline


class TestStatePartitions:
    """State partitions are sized from the stream's source bytes
    (streaming/pipeline.state_sized_shuffle) and fixed by the
    checkpoint at first start."""

    def test_count_arithmetic(self):
        from facebook_ads_bigquery_etl_spark.streaming.pipeline import (
            state_partition_count,
        )

        mb = 1 << 20
        assert state_partition_count(0, 64 * mb, 8) == 8  # empty source
        assert state_partition_count(None, 64 * mb, 8) == 8  # unknown source
        assert state_partition_count(1, 64 * mb, 8) == 1  # clamp low
        assert state_partition_count(3 * 64 * mb + 1, 64 * mb, 8) == 4
        assert state_partition_count(10**12, 64 * mb, 8) == 8  # clamp high

    def test_which_streams_are_sized(self, spark):
        from facebook_ads_bigquery_etl_spark.streaming.pipeline import (
            state_partitions,
        )

        ev = read_event_stream(spark, f"{SF_SMOKE}/events.parquet")
        cores = len(os.sched_getaffinity(0))
        key = "spark.sql.shuffle.partitions"
        prev = spark.conf.get(key)
        spark.conf.set(key, str(cores + 1))
        try:
            assert state_partitions(ev) is None  # no state: no override
            assert state_partitions(daily_rollup(ev)) == 1
            assert state_partitions(dedup_events(ev)) == 1
            # Python-evaluated state keeps one partition per core
            assert state_partitions(user_running_totals(ev)) == cores
        finally:
            spark.conf.set(key, prev)

    @staticmethod
    def _rollup_state_partitions(spark, monkeypatch):
        from facebook_ads_bigquery_etl_spark.plans import QUERIES
        from facebook_ads_bigquery_etl_spark.plans import streaming_queries as sq

        seen = []
        real = sq._await

        def spy(q):
            seen.append(q)
            real(q)

        monkeypatch.setattr(sq, "_await", spy)
        QUERIES["stream_daily_rollup"](spark, SF_SMOKE).collect()
        (q,) = seen
        return q.lastProgress["stateOperators"][0]["numShufflePartitions"]

    def test_daily_rollup_runs_one_state_partition(self, spark, monkeypatch):
        assert self._rollup_state_partitions(spark, monkeypatch) == 1

    def test_smaller_advisory_size_gives_more_partitions(self, spark, monkeypatch):
        size = os.path.getsize(f"{SF_SMOKE}/events.parquet")
        key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
        spark.conf.set(key, str(size // 2 + 1))
        try:
            assert self._rollup_state_partitions(spark, monkeypatch) == 2
        finally:
            spark.conf.unset(key)

    def test_restart_keeps_the_checkpointed_count(self, spark, tmp_path):
        from facebook_ads_bigquery_etl_spark.streaming import state_sized_shuffle
        from facebook_ads_bigquery_etl_spark.streaming.pipeline import (
            state_partitions,
        )

        src = tmp_path / "src"
        src.mkdir()
        shutil.copy(f"{SF_SMOKE}/events.parquet", src / "a.parquet")
        key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"

        def run():
            stream = daily_rollup(read_event_stream(spark, str(src)))
            n = state_partitions(stream)
            with state_sized_shuffle(stream):
                q = (
                    stream.writeStream.format("noop")
                    .outputMode("update")
                    .option("checkpointLocation", str(tmp_path / "cp"))
                    .trigger(availableNow=True)
                    .start()
                )
            assert q.awaitTermination(120)
            ops = q.lastProgress["stateOperators"]
            return n, ops[0]["numShufflePartitions"]

        assert run() == (1, 1)
        # more data lands and the rule would now pick more partitions;
        # the restarted stream keeps the count its checkpoint recorded
        shutil.copy(f"{SF_SMOKE}/events.parquet", src / "b.parquet")
        spark.conf.set(key, str(os.path.getsize(src / "a.parquet")))
        try:
            assert run() == (2, 1)
        finally:
            spark.conf.unset(key)


class TestDrainDeadline:
    def test_hung_stream_is_stopped_and_named(self, spark, tmp_path, monkeypatch):
        """A ProcessingTimeTimeout stateful apply never ends under
        availableNow; the drain stops it at its deadline and raises
        instead of returning what the sink holds so far."""
        from facebook_ads_bigquery_etl_spark.plans import streaming_queries as sq
        from facebook_ads_bigquery_etl_spark.streaming import partial_session_flush

        src = tmp_path / "src"
        src.mkdir()
        spark.read.parquet(f"{SF_SMOKE}/events.parquet").limit(50).select(
            "event_id", "user_id", "value"
        ).withColumn("ts", F.current_timestamp()).write.parquet(str(src / "a"))
        stream = spark.readStream.schema(
            "event_id long, user_id long, value double, ts timestamp"
        ).parquet(str(src / "a"))
        monkeypatch.setattr(sq, "_DRAIN_TIMEOUT_S", 3)
        with pytest.raises(TimeoutError, match="hung_partial_sessions"):
            sq._drain(partial_session_flush(stream), "hung_partial_sessions", "update")
        assert not [q for q in spark.streams.active if q.name == "hung_partial_sessions"]

    def test_partial_session_eviction_ends_on_empty_events(self, spark, tmp_path):
        import time

        from facebook_ads_bigquery_etl_spark.plans import QUERIES
        from tests import oracle_check as oc

        d = oc.write_fixture(oc.MUTATORS["empty"], SF_SMOKE, str(tmp_path))
        t0 = time.time()
        rows = QUERIES["stream_partial_session_eviction"](spark, d).collect()
        assert rows == []
        assert time.time() - t0 < 30
        assert not [q for q in spark.streams.active if "partialsess" in (q.name or "")]


class TestRocksDBConfScope:
    def test_rocksdb_queries_leave_the_callers_state_store(self, spark):
        """The RocksDB queries pin their state store for their own
        start only: a caller's provider comes back, and the changelog
        key they set is absent again afterwards."""
        from facebook_ads_bigquery_etl_spark.plans import QUERIES

        provider = "spark.sql.streaming.stateStore.providerClass"
        changelog = "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
        hdfs = "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
        prev = spark.conf.get(provider, None)
        spark.conf.set(provider, hdfs)
        spark.conf.unset(changelog)
        try:
            for name in ("stream_rocksdb_state_rollup", "stream_rocksdb_changelog_restart"):
                assert QUERIES[name](spark, SF_SMOKE).collect()
                assert spark.conf.get(provider) == hdfs
                assert spark.conf.get(changelog, None) is None
        finally:
            if prev is None:
                spark.conf.unset(provider)
            else:
                spark.conf.set(provider, prev)
