"""Scale-layout proofs: bucketed co-located joins plan shuffle-free,
salted joins match plain joins, runtime Bloom filters prune the fact
side — the 100-TB mechanics verified on small data via the physical
plan, not timings.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from facebook_ads_bigquery_etl_spark.catalog import write_bucketed_table
from facebook_ads_bigquery_etl_spark.operators.skew import (
    explain_has_exchange,
    salted_join,
)
from tests.conftest import SF_SMOKE


def plan_has_bloom_filter(df) -> bool:
    """True if the physical plan contains the injected runtime filter
    (``might_contain`` over a Bloom-filter subquery)."""
    return "might_contain" in df._jdf.queryExecution().toString().lower()


@pytest.fixture()
def clean_bucket_db(spark):
    """Managed-table location hygiene: a previous session's
    spark-warehouse/bdb.db directory orphans the (in-memory) catalog —
    saveAsTable then fails with LOCATION_ALREADY_EXISTS. Drop both the
    catalog entries and the directory before and after."""
    import shutil

    def scrub():
        spark.sql("DROP TABLE IF EXISTS bdb.orders_b")
        spark.sql("DROP TABLE IF EXISTS bdb.lineitem_b")
        wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        shutil.rmtree(f"{wh}/bdb.db", ignore_errors=True)

    scrub()
    yield
    scrub()


class TestBucketedJoin:
    def test_colocated_join_has_no_shuffle(self, spark, clean_bucket_db):
        orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
        lineitem = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
        write_bucketed_table(orders, "bdb", "orders_b", "o_orderkey", 8)
        write_bucketed_table(
            lineitem, "bdb", "lineitem_b", "l_orderkey", 8, sort_cols=["l_orderkey"]
        )
        o, l = spark.table("bdb.orders_b"), spark.table("bdb.lineitem_b")

        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = o.join(l, o.o_orderkey == l.l_orderkey).select(
                "o_orderkey", "l_extendedprice"
            )
            # co-located: bucket i joins bucket i — no Exchange anywhere
            assert not explain_has_exchange(joined)
            # and the result is still correct
            plain = orders.join(
                lineitem, orders.o_orderkey == lineitem.l_orderkey
            ).count()
            assert joined.count() == plain
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")

    def test_audit_keeps_the_callers_broadcast_threshold(self, spark):
        """The audit disables broadcast joins for its own run only; a
        threshold the caller set is still there afterwards."""
        from facebook_ads_bigquery_etl_spark.plans import QUERIES

        key = "spark.sql.autoBroadcastJoinThreshold"
        spark.conf.set(key, "1234567")
        try:
            QUERIES["bucketed_join_audit"](spark, SF_SMOKE).collect()
            assert spark.conf.get(key) == "1234567"
        finally:
            spark.conf.unset(key)

    def test_unbucketed_same_join_does_shuffle(self, spark):
        orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
        lineitem = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
            assert explain_has_exchange(joined)  # the baseline cost bucketing removes
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


class TestSaltedJoin:
    def test_matches_plain_join(self, spark):
        orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        cust = spark.read.parquet(f"{SF_SMOKE}/customer.parquet").select(
            "c_custkey", "c_name"
        ).withColumnRenamed("c_custkey", "o_custkey")
        plain = orders.join(cust, "o_custkey").count()
        salted = salted_join(orders, cust, on="o_custkey", salt=8).count()
        assert salted == plain


class TestRuntimeBloomFilter:
    def test_bloom_query_plan_has_might_contain(self, spark):
        """The registered bloom_pruned_revenue query must carry the
        Catalyst-injected runtime Bloom filter on the fact side — if a
        regression drops it, this fails before the driver sees it."""
        from facebook_ads_bigquery_etl_spark.plans import QUERIES
        from tests.conftest import SF_ORACLE

        df = QUERIES["bloom_pruned_revenue"](spark, SF_ORACLE)
        assert plan_has_bloom_filter(df)

    def test_conf_scope_does_not_leak(self, spark):
        from facebook_ads_bigquery_etl_spark.plans import QUERIES
        from tests.conftest import SF_ORACLE

        keys = (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        )
        before = {k: spark.conf.get(k) for k in keys}
        QUERIES["bloom_pruned_revenue"](spark, SF_ORACLE).collect()
        assert {k: spark.conf.get(k) for k in keys} == before

    def test_pruning_preserves_semantics(self, spark):
        """Bloom filters have no false negatives: pruned join ==
        plain join, row for row."""
        from facebook_ads_bigquery_etl_spark.plans import QUERIES
        from tests.conftest import SF_ORACLE

        got = {
            (r["l_returnflag"], r["n_lines"], r["revenue"])
            for r in QUERIES["bloom_pruned_revenue"](spark, SF_ORACLE).collect()
        }
        li = spark.read.parquet(f"{SF_ORACLE}/lineitem.parquet")
        o = spark.read.parquet(f"{SF_ORACLE}/orders.parquet")
        plain = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .filter(F.col("o_orderpriority") == "1-URGENT")
            .groupBy("l_returnflag")
            .agg(
                F.count("*").alias("n_lines"),
                F.round(
                    F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
                ).alias("revenue"),
            )
        )
        want = {(r["l_returnflag"], r["n_lines"], r["revenue"]) for r in plain.collect()}
        assert got == want


class TestCountMinSketch:
    def test_estimates_obey_cms_guarantees_for_all_tokens(self, spark):
        """estimate >= exact for EVERY token (not just top-k), and
        <= exact + eps*N for the seeded hash family."""
        import math

        from facebook_ads_bigquery_etl_spark.operators import text as tx
        from facebook_ads_bigquery_etl_spark.operators.sketches import (
            count_min_sketch_of,
        )
        from tests.conftest import SF_ORACLE

        docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
        toks = docs.select(F.explode(tx.tokens(F.lower(F.col("text")))).alias("token"))
        eps = 1e-4
        cms = count_min_sketch_of(toks, "token", eps, 0.999, 42)
        bound = int(math.ceil(eps * cms.totalCount()))
        exact = toks.groupBy("token").agg(F.count("*").alias("n")).collect()
        assert cms.totalCount() == sum(r["n"] for r in exact)
        for r in exact:
            est = int(cms.estimateCount(r["token"]))
            assert r["n"] <= est <= r["n"] + bound, (r["token"], r["n"], est)

    def test_topk_audit_excludes_nulls_symmetrically(self, spark):
        """A NULL that would land in the exact top-k must not reach
        the audit: the JVM count_min_sketch aggregate skips NULLs, so
        a NULL candidate row would audit against a sketch that never
        saw it — and estimateCount(None) NPEs at the Py4J boundary
        (r13 operator review). NULLs are filtered from BOTH passes."""
        from facebook_ads_bigquery_etl_spark.operators.sketches import (
            count_min_topk_audit,
        )

        df = spark.createDataFrame(
            [("a",)] * 5 + [(None,)] * 9 + [("b",)] * 3 + [("c",)] * 1,
            "token string",
        )
        out = count_min_topk_audit(df, col="token", k=3)
        rows = {r["token"]: r["n_exact"] for r in out.collect()}
        assert rows == {"a": 5, "b": 3, "c": 1}  # NULL (9 copies) excluded
        assert all(r["cms_lower_ok"] and r["cms_upper_ok"] for r in out.collect())


class TestPlanAudit:
    """Executable version of PLANS.md: the same (query, must-contain,
    must-not-contain) plan properties, asserted at the oracle SF so a
    plan regression (lost broadcast, lost pushdown, a join degrading
    to a nested loop) fails here before any driver run."""

    def test_audited_plan_shapes_hold(self, spark):
        import importlib.util as _ilu
        import os as _os

        spec = _ilu.spec_from_file_location(
            "gen_plans",
            _os.path.join(_os.path.dirname(__file__), "..", "scripts", "gen_plans.py"),
        )
        gp = _ilu.module_from_spec(spec)
        spec.loader.exec_module(gp)

        from facebook_ads_bigquery_etl_spark.plans import QUERIES
        from tests.conftest import SF_ORACLE

        problems = []
        for name, (_, must, must_not) in gp.AUDITS.items():
            plan = gp.plan_of(QUERIES[name](spark, SF_ORACLE))
            for frag in must:
                # sf0.01 file sizes differ from sf0.1 but plan SHAPE must not
                if frag not in plan:
                    problems.append(f"{name}: missing {frag!r}")
            for frag in must_not:
                if frag in plan:
                    problems.append(f"{name}: unexpected {frag!r}")
        # pre-materialization shapes: properties the reuse barriers move
        # out of the final plan, asserted on the plans of the frames the
        # query materialized so a regression inside the materialization
        # pass still fails here
        for name, (_, must) in gp.PRE_AUDITS.items():
            plan = gp.pre_materialization_plan(QUERIES, name, spark, SF_ORACLE)
            for frag in must:
                if frag not in plan:
                    problems.append(
                        f"{name}: pre-materialization missing {frag!r}"
                    )
        assert not problems, "\n".join(problems)


class TestZOrderLayout:
    def test_zorder_bounds_both_dims_where_linear_sort_cannot(self, spark, tmp_path):
        """File-level min/max evidence: a z-ordered rewrite gives BOTH
        key columns partial locality, so a range predicate on EITHER
        column can skip files; a single-column sort gives perfect
        skipping on that column and none on the other. Measured from
        the parquet footers (engine-independent), as fraction of files
        a mid-range band predicate would have to touch."""
        import pyarrow.parquet as pq

        from facebook_ads_bigquery_etl_spark.operators.zorder import write_zordered
        from tests.conftest import SF_ORACLE

        li = spark.read.parquet(f"{SF_ORACLE}/lineitem.parquet").select(
            "l_partkey", "l_suppkey", "l_extendedprice"
        )
        zpath, spath = str(tmp_path / "zord"), str(tmp_path / "sorted")
        write_zordered(li, zpath, ["l_partkey", "l_suppkey"], n_files=16)
        (
            li.repartitionByRange(16, "l_partkey")
            .sortWithinPartitions("l_partkey")
            .write.mode("overwrite").parquet(spath)
        )

        import glob

        def touch_fraction(path, col, lo, hi):
            # skip zero-row schema files (Spark writes one for an
            # empty partition 0) — same convention as the audit query
            files = glob.glob(path + "/part-*.parquet")
            touched = n_data_files = 0
            for f in files:
                pf = pq.ParquetFile(f)
                md = pf.metadata
                if md.num_row_groups == 0:
                    continue
                n_data_files += 1
                idx = pf.schema_arrow.names.index(col)
                fmin = min(md.row_group(i).column(idx).statistics.min
                           for i in range(md.num_row_groups))
                fmax = max(md.row_group(i).column(idx).statistics.max
                           for i in range(md.num_row_groups))
                if fmax >= lo and fmin <= hi:
                    touched += 1
            return touched / n_data_files

        stats = li.agg(
            F.expr("percentile(l_partkey, array(0.45, 0.55))").alias("pk"),
            F.expr("percentile(l_suppkey, array(0.45, 0.55))").alias("sk"),
        ).first()
        pk_band = (stats["pk"][0], stats["pk"][1])  # 10%-wide band mid-range
        sk_band = (stats["sk"][0], stats["sk"][1])

        z_pk = touch_fraction(zpath, "l_partkey", *pk_band)
        z_sk = touch_fraction(zpath, "l_suppkey", *sk_band)
        s_pk = touch_fraction(spath, "l_partkey", *pk_band)
        s_sk = touch_fraction(spath, "l_suppkey", *sk_band)

        # linear sort: near-perfect on its own column, useless on the other
        assert s_pk <= 0.25
        assert s_sk > 0.9
        # z-order: BOTH columns skip meaningfully; worst dim far better
        # than the linear layout's worst dim
        assert max(z_pk, z_sk) < 0.8
        assert max(z_pk, z_sk) < s_sk

    def test_zorder_preserves_rows(self, spark, tmp_path):
        from facebook_ads_bigquery_etl_spark.operators.zorder import write_zordered
        from tests.conftest import SF_SMOKE

        li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
        out = str(tmp_path / "z")
        write_zordered(li, out, ["l_partkey", "l_suppkey"], n_files=4)
        got = spark.read.parquet(out)
        assert got.count() == li.count()
        assert sorted(got.columns) == sorted(li.columns)


class TestCompaction:
    def test_compacts_fragments_and_preserves_rows(self, spark, tmp_path):
        from facebook_ads_bigquery_etl_spark.operators.integrity import (
            partition_manifest,
        )
        from facebook_ads_bigquery_etl_spark.sinks import (
            compact_partitions,
            write_day_partitioned,
        )

        ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
        if dict(ev.dtypes).get("ts") == "bigint":
            ev = ev.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        ev = ev.withColumn("date", F.to_date("ts"))
        out = str(tmp_path / "wh")
        # fragment: 8 files per day partition
        ev.repartition(8).write.partitionBy("date").parquet(out)

        import glob
        import os

        def files_per_day():
            return {
                d: len(glob.glob(os.path.join(out, d, "*.parquet")))
                for d in os.listdir(out)
                if d.startswith("date=")
            }

        hashed = [F.col("event_id"), F.col("user_id"), F.col("event_type")]
        before_files = files_per_day()
        assert max(before_files.values()) > 1, "fixture not fragmented"
        before = partition_manifest(
            spark.read.parquet(out), ["date"], hashed
        ).collect()

        compact_partitions(spark, out, partition_field="date")

        after_files = files_per_day()
        assert set(after_files) == set(before_files)
        assert max(after_files.values()) == 1, after_files
        after = partition_manifest(
            spark.read.parquet(out), ["date"], hashed
        ).collect()
        assert sorted(map(repr, before)) == sorted(map(repr, after))

    def test_rerun_is_noop(self, spark, tmp_path):
        from facebook_ads_bigquery_etl_spark.sinks import compact_partitions

        df = spark.range(100).withColumn("date", F.lit("2024-01-01"))
        out = str(tmp_path / "t")
        df.repartition(4).write.partitionBy("date").parquet(out)
        compact_partitions(spark, out, partition_field="date")
        n1 = spark.read.parquet(out).count()
        compact_partitions(spark, out, partition_field="date")
        assert spark.read.parquet(out).count() == n1 == 100


class TestPartitionPruning:
    """The warehouse is day-partitioned (sinks.write_day_partitioned)
    precisely so date predicates prune whole partitions at 100 TB —
    prove the scan actually does it, via both the physical plan's
    PartitionFilters and the file set the scan touches."""

    def _write_three_days(self, spark, path):
        from facebook_ads_bigquery_etl_spark.sinks import write_day_partitioned

        df = spark.createDataFrame(
            [(d, i, float(i)) for d in ("2025-01-01", "2025-01-02", "2025-01-03")
             for i in range(10)],
            "date string, k long, v double",
        ).withColumn("date", F.to_date("date"))
        write_day_partitioned(df, path, partition_field="date")

    def _corrupt_partition(self, path, day):
        """Overwrite the day's parquet file with garbage: any scan that
        actually opens it will throw, so a query that succeeds provably
        never touched the partition."""
        import os

        part_dir = os.path.join(path, f"date={day}")
        for f in os.listdir(part_dir):
            if f.endswith(".parquet"):
                with open(os.path.join(part_dir, f), "wb") as fh:
                    fh.write(b"this is not a parquet file")

    def test_date_filter_prunes_day_partitions(self, spark, tmp_path):
        path = str(tmp_path / "wh")
        self._write_three_days(spark, path)
        self._corrupt_partition(path, "2025-01-03")

        read = spark.read.parquet(path).filter(
            F.col("date") == F.lit("2025-01-02").cast("date")
        )
        plan = read._sc._jvm.PythonSQLUtils.explainString(
            read._jdf.queryExecution(), "formatted"
        )
        assert "PartitionFilters" in plan
        # Succeeds despite the corrupt 2025-01-03 partition → pruning
        # really skipped its files, not just its rows.
        assert read.count() == 10

    def test_unpartitioned_column_filter_cannot_prune(self, spark, tmp_path):
        """Control against a vacuous pass: a predicate on a
        non-partition column must still open every partition, so the
        corrupt one makes the scan throw."""
        path = str(tmp_path / "wh2")
        self._write_three_days(spark, path)
        self._corrupt_partition(path, "2025-01-03")

        with pytest.raises(Exception):
            spark.read.parquet(path).filter(F.col("k") == 3).count()


def test_audit_row_comparison_counts_duplicates_and_matches_nan():
    """The strategy audits (AQE coalesce, join order, stale stats)
    compare results as row multisets: a strategy that duplicates a
    group row differs, and a NaN total equals a NaN total."""
    from facebook_ads_bigquery_etl_spark.plans.warehouse import _row_multiset

    rows = [("a", 1, float("nan")), ("b", 2, 0.5)]
    assert _row_multiset(rows) == _row_multiset(list(reversed(rows)))
    assert _row_multiset([("a", 1, float("nan"))]) == _row_multiset([("a", 1, float("nan"))])
    assert _row_multiset(rows + rows[:1]) != _row_multiset(rows)
    assert _row_multiset([("a", 1, None)]) != _row_multiset([("a", 1, float("nan"))])
