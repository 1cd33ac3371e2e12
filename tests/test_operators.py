"""Per-operator unit tests (SURVEY §5.2): cast/REQUIRED layer edge
cases, nested-array normalization, as-of join semantics, top-k ties,
and text-operator determinism — the paths the oracle gate exercises
only incidentally.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from facebook_ads_bigquery_etl_spark.operators.asof import asof_join
from facebook_ads_bigquery_etl_spark.operators.casting import (
    apply_schema,
    required_violation_predicate,
    split_required_violations,
)
from facebook_ads_bigquery_etl_spark.operators.normalize import coalesce_repeated
from facebook_ads_bigquery_etl_spark.operators.text import with_fingerprint, with_lang_id
from facebook_ads_bigquery_etl_spark.operators.topk import top_k_per_group
from facebook_ads_bigquery_etl_spark.schemas import ACTION_ENTRY

TARGET = T.StructType(
    [
        T.StructField("d", T.DateType(), False),
        T.StructField("n", T.LongType(), False),
        T.StructField("x", T.DoubleType(), True),
    ]
)


class TestApplySchema:
    def test_casts_and_renames(self, spark):
        raw = spark.createDataFrame(
            [("2025-01-02", "42", "3.14")], "src_d string, n string, x string"
        )
        out = apply_schema(raw, TARGET, rename={"src_d": "d"}).first()
        assert out["d"] == dt.date(2025, 1, 2)
        assert out["n"] == 42 and out["x"] == 3.14

    def test_bad_value_becomes_null_not_error(self, spark):
        # Spark 4 ANSI mode would abort on CAST('oops' AS BIGINT); the
        # BigQuery-parity semantic is reject-the-ROW, so the layer uses
        # try_cast and REQUIRED enforcement picks up the NULL.
        raw = spark.createDataFrame([("2025-01-02", "oops", "1.0")], "d string, n string, x string")
        assert apply_schema(raw, TARGET).first()["n"] is None

    def test_missing_column_becomes_typed_null(self, spark):
        raw = spark.createDataFrame([("2025-01-02",)], "d string")
        out = apply_schema(raw, TARGET)
        assert out.schema["n"].dataType == T.LongType()
        assert out.first()["n"] is None

    def test_column_order_follows_target(self, spark):
        raw = spark.createDataFrame([("1.5", "7", "2025-01-01")], "x string, n string, d string")
        assert apply_schema(raw, TARGET).columns == ["d", "n", "x"]


class TestRequiredEnforcement:
    def test_split_routes_violations(self, spark):
        raw = spark.createDataFrame(
            [("2025-01-01", "1", None), ("bad-date", "2", "0.5"), ("2025-01-03", None, "1.0")],
            "d string, n string, x string",
        )
        valid, quarantined = split_required_violations(apply_schema(raw, TARGET), TARGET)
        # x is nullable → row 1 is fine; rows 2 (bad date) and 3 (null n) quarantine
        assert valid.count() == 1 and valid.first()["n"] == 1
        assert quarantined.count() == 2


def _q(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def _column_api_apply_schema(df, target, rename=None):
    """The cast layer as it was built through the Column API, one
    Column per field (names backquoted so a dotted name resolves)."""
    src_for = {dst: src for src, dst in (rename or {}).items()}
    cols = []
    for f in target.fields:
        src = src_for.get(f.name, f.name)
        if src in df.columns:
            cols.append(F.col(_q(src)).try_cast(f.dataType).alias(f.name))
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    return df.select(*cols)


def _column_api_coalesce_repeated(df, colname, element_type):
    in_type = df.schema[colname].dataType
    normalized = F.transform(
        F.coalesce(F.col(_q(colname)), F.array().cast(in_type)),
        lambda e: F.struct(*[e[f.name].alias(f.name) for f in element_type.fields]),
    )
    return df.withColumn(colname, normalized.cast(T.ArrayType(element_type, containsNull=False)))


class TestSqlTextQuoting:
    """The cast and normalize layers are SQL text: names holding a
    space, a dot or a backtick — top level and inside a nested struct —
    and parameterized types must give what the Column API gave."""

    INNER = T.StructType(
        [T.StructField("in ner.x", T.StringType()), T.StructField("b`t", T.LongType())]
    )
    TARGET = T.StructType(
        [
            T.StructField("a b", T.LongType(), False),
            T.StructField("c.d", T.DecimalType(18, 2), True),
            T.StructField("e`f", INNER, True),
            T.StructField("m", T.MapType(T.StringType(), T.LongType()), True),
            T.StructField("gone", T.DateType(), True),
        ]
    )
    ELEMENT = T.StructType(
        [T.StructField("x.y", T.StringType()), T.StructField("p q`", T.LongType())]
    )

    def _raw(self, spark):
        inner = T.StructType(
            [
                T.StructField("in ner.x", T.StringType()),
                T.StructField("b`t", T.StringType()),
            ]
        )
        schema = T.StructType(
            [
                T.StructField("a b", T.StringType()),
                T.StructField("src.c`d", T.StringType()),
                T.StructField("e`f", inner),
                T.StructField("m", T.MapType(T.StringType(), T.StringType())),
            ]
        )
        return spark.createDataFrame(
            [
                ("7", "12.345", ("v", "3"), {"k": "1"}),
                ("oops", "1e40", ("w", "nan?"), {"k": "x"}),
                (None, None, None, None),
            ],
            schema,
        )

    def test_apply_schema_matches_column_api(self, spark):
        raw = self._raw(spark)
        rename = {"src.c`d": "c.d"}
        got = apply_schema(raw, self.TARGET, rename)
        want = _column_api_apply_schema(raw, self.TARGET, rename)
        assert got.schema.json() == want.schema.json()
        assert got.columns == ["a b", "c.d", "e`f", "m", "gone"]
        assert sorted(got.collect(), key=str) == sorted(want.collect(), key=str)
        import decimal

        row = got.filter(F.col("`a b`") == 7).first()
        assert row["c.d"] == decimal.Decimal("12.35") and row["m"] == {"k": 1}
        assert tuple(row["e`f"]) == ("v", 3) and row["gone"] is None
        # REQUIRED on a quoted name: "a b" failed its cast or was NULL
        bad = got.filter(required_violation_predicate(self.TARGET)).collect()
        assert len(bad) == 2 and all(r["a b"] is None for r in bad)

    def test_coalesce_repeated_matches_column_api(self, spark):
        wide = T.StructType(
            [
                T.StructField("x.y", T.StringType()),
                T.StructField("p q`", T.StringType()),
                T.StructField("junk", T.StringType()),
            ]
        )
        schema = T.StructType(
            [T.StructField("id", T.LongType()), T.StructField("ac tions.v`2", T.ArrayType(wide))]
        )
        df = spark.createDataFrame(
            [(1, None), (2, []), (3, [("a", "5", "j"), ("b", None, None)]), (4, [None])],
            schema,
        )
        got = coalesce_repeated(df, "ac tions.v`2", self.ELEMENT)
        want = _column_api_coalesce_repeated(df, "ac tions.v`2", self.ELEMENT)
        assert got.schema.json() == want.schema.json()
        assert not got.schema["ac tions.v`2"].dataType.containsNull
        assert sorted(got.collect()) == sorted(want.collect())

    def test_predicate_without_required_fields_is_false(self, spark):
        target = T.StructType([T.StructField("x.y", T.StringType(), True)])
        pred = required_violation_predicate(target)
        assert str(pred) == "Column<'false'>"
        assert spark.range(1).select(pred.alias("p")).first()["p"] is False

    def test_target_forbidding_null_elements_is_refused(self, spark):
        target = T.StructType(
            [T.StructField("a", T.ArrayType(T.LongType(), containsNull=False), True)]
        )
        with pytest.raises(ValueError, match="NULL elements"):
            apply_schema(spark.createDataFrame([("1",)], "a string"), target)


class TestCoalesceRepeated:
    def test_null_becomes_empty_array(self, spark):
        schema = T.StructType(
            [T.StructField("id", T.LongType()), T.StructField("a", T.ArrayType(ACTION_ENTRY), True)]
        )
        df = spark.createDataFrame(
            [(1, None), (2, []), (3, [Row(action_type="x", value="1")])], schema
        )
        out = {r["id"]: r["a"] for r in coalesce_repeated(df, "a", ACTION_ENTRY).collect()}
        assert out[1] == [] and out[2] == []
        assert out[3][0].asDict() == {"action_type": "x", "value": "1"}

    def test_extra_fields_dropped(self, spark):
        wide = T.StructType(
            [
                T.StructField("action_type", T.StringType()),
                T.StructField("value", T.StringType()),
                T.StructField("extra", T.StringType()),
            ]
        )
        schema = T.StructType(
            [T.StructField("id", T.LongType()), T.StructField("a", T.ArrayType(wide), True)]
        )
        df = spark.createDataFrame([(1, [Row(action_type="x", value="1", extra="junk")])], schema)
        out = coalesce_repeated(df, "a", ACTION_ENTRY).first()["a"][0]
        assert out.asDict() == {"action_type": "x", "value": "1"}


class TestAsofJoin:
    def _frames(self, spark):
        trades = spark.createDataFrame(
            [("A", 3, "t1"), ("A", 7, "t2"), ("B", 5, "t3"), ("C", 1, "t4")],
            "sym string, ts long, trade string",
        )
        quotes = spark.createDataFrame(
            [("A", 2, 10.0), ("A", 7, 11.0), ("A", 9, 12.0), ("B", 6, 20.0)],
            "sym string, qts long, px double",
        )
        return trades, quotes

    def test_backward_inclusive_semantics(self, spark):
        trades, quotes = self._frames(spark)
        out = {
            r["trade"]: (r["px"], r["asof_qts"])
            for r in asof_join(trades, quotes, on="sym", left_ts="ts", right_ts="qts").collect()
        }
        assert out["t1"] == (10.0, 2)   # latest quote at ts<=3 is qts=2
        assert out["t2"] == (11.0, 7)   # equal ts matches (inclusive)
        assert out["t3"] == (None, None)  # B's only quote is later (6>5)
        assert out["t4"] == (None, None)  # C has no quotes at all

    def test_inner_drops_unmatched(self, spark):
        trades, quotes = self._frames(spark)
        out = asof_join(trades, quotes, on="sym", left_ts="ts", right_ts="qts", how="inner")
        assert {r["trade"] for r in out.collect()} == {"t1", "t2"}

    def test_tolerance_nulls_stale_matches(self, spark):
        trades, quotes = self._frames(spark)
        out = {
            r["trade"]: r["px"]
            for r in asof_join(
                trades, quotes, on="sym", left_ts="ts", right_ts="qts", tolerance_expr="0"
            ).collect()
        }
        assert out["t1"] is None  # matched qts=2 is 1 tick stale > tolerance 0
        assert out["t2"] == 11.0  # exact-ts match survives zero tolerance

    def test_carry_is_row_consistent_under_null_values(self, spark):
        # r13 operator review, executed counterexample: the old
        # per-column last(ignorenulls) carry skipped the newer
        # purchase's NULL value and emitted (id=20, value=5.0) — a row
        # that never existed. The struct carry must keep the winning
        # row whole: (id=20, value=NULL).
        clicks = spark.createDataFrame([(1, 100)], "user_id long, ts long")
        purch = spark.createDataFrame(
            [(1, 50, 10, 5.0), (1, 60, 20, None)],
            "user_id long, ts long, pid long, value double",
        )
        r = asof_join(
            clicks, purch, on="user_id", left_ts="ts", right_ts="ts",
            right_values=["pid", "value"],
        ).first()
        assert (r["pid"], r["value"], r["asof_ts"]) == (20, None, 60)

    def test_equal_ts_right_rows_resolve_to_max_tuple(self, spark):
        # ties on (key, ts) resolve by the right_values tuple's total
        # order — max wins, whole-row, layout-independent (native ASOF
        # engines pick arbitrarily; oracles must pre-reduce the same way)
        clicks = spark.createDataFrame([(1, 100)], "user_id long, ts long")
        purch = spark.createDataFrame(
            [(1, 50, 10, 5.0), (1, 50, 20, 7.0), (1, 50, 15, 9.0)],
            "user_id long, ts long, pid long, value double",
        )
        r = asof_join(
            clicks, purch, on="user_id", left_ts="ts", right_ts="ts",
            right_values=["pid", "value"],
        ).first()
        assert (r["pid"], r["value"]) == (20, 7.0)

    def test_out_of_tolerance_is_unmatched(self, spark):
        # the whole match nulls together — asof_ts must not keep
        # reporting a stale timestamp the values were nulled for, and
        # 'inner' must drop the row (old form kept it)
        trades, quotes = self._frames(spark)
        left = {
            r["trade"]: r["asof_qts"]
            for r in asof_join(
                trades, quotes, on="sym", left_ts="ts", right_ts="qts",
                tolerance_expr="0",
            ).collect()
        }
        assert left["t1"] is None  # stale match: ts nulled with the values
        assert left["t2"] == 7
        inner = asof_join(
            trades, quotes, on="sym", left_ts="ts", right_ts="qts",
            tolerance_expr="0", how="inner",
        )
        assert {r["trade"] for r in inner.collect()} == {"t2"}

    def test_right_value_collision_raises(self, spark):
        trades, quotes = self._frames(spark)
        clash = quotes.withColumnRenamed("px", "trade")
        import pytest as _pytest
        with _pytest.raises(ValueError, match="collide"):
            asof_join(trades, clash, on="sym", left_ts="ts", right_ts="qts")


class TestTopK:
    def test_ties_broken_deterministically(self, spark):
        df = spark.createDataFrame(
            [("g", 5, 1), ("g", 5, 2), ("g", 4, 3), ("h", 9, 4)],
            "grp string, score long, id long",
        )
        out = top_k_per_group(
            df, ["grp"], [F.desc("score"), F.asc("id")], k=2
        )
        got = {(r["grp"], r["id"], r["rank"]) for r in out.collect()}
        assert got == {("g", 1, 1), ("g", 2, 2), ("h", 4, 1)}


class TestTextOps:
    def test_fingerprint_normalizes_whitespace_and_case(self, spark):
        df = spark.createDataFrame(
            [(1, "Hello  World"), (2, "hello world"), (3, "different")],
            "id long, text string",
        )
        fp = {r["id"]: r["fingerprint"] for r in with_fingerprint(df, "text").collect()}
        assert fp[1] == fp[2] != fp[3]

    def test_pii_email_redaction_is_case_insensitive(self, spark):
        """'John.Doe@Example.COM' must be counted AND stripped — the
        lowercase-only pattern let any email with an uppercase letter
        survive the cleaning stage (r13 operator review); the (?i)
        flag is honored identically by Java regex and DuckDB RE2, so
        the oracles carry the same prefix."""
        from facebook_ads_bigquery_etl_spark.operators.text import redact_pii

        df = spark.createDataFrame(
            [
                (1, "Contact John.Doe@Example.COM today"),
                (2, "plain lowercase joe@ex.org here"),
                (3, "no pii at all"),
            ],
            "id long, text string",
        )
        out = {r["id"]: r for r in redact_pii(df).collect()}
        assert out[1]["n_emails"] == 1
        assert "<EMAIL>" in out[1]["clean_text"]
        assert "Example.COM" not in out[1]["clean_text"]
        assert out[2]["n_emails"] == 1 and "<EMAIL>" in out[2]["clean_text"]
        assert out[3]["n_emails"] == 0

    def test_lang_id_picks_stopword_majority(self, spark):
        df = spark.createDataFrame(
            [
                (1, "the cat is in the house and it is warm"),
                (2, "el perro y la casa de los amigos en que se ve"),
                (3, "der Hund und die Katze ist in den Garten zu"),
            ],
            "id long, text string",
        )
        out = {r["id"]: r["lang_pred"] for r in with_lang_id(df).collect()}
        assert out == {1: "en", 2: "es", 3: "de"}


class TestApproxPercentiles:
    def test_tdigest_tracks_exact_percentiles(self, spark):
        """percentile_approx at accuracy 10k must sit within 1% of the
        exact continuous percentile on the orders distribution. (The
        registered price_percentiles_approx query emits rank-validation
        booleans for the driver gate, so the value-accuracy claim is
        asserted here on the sketch directly.)"""
        from facebook_ads_bigquery_etl_spark.plans import QUERIES
        from tests.conftest import SF_ORACLE

        exact = {r["o_orderpriority"]: r for r in QUERIES["price_percentiles"](spark, SF_ORACLE).collect()}
        pct = F.percentile_approx(
            "o_totalprice", F.array(*[F.lit(x) for x in (0.25, 0.5, 0.75, 0.9)]), 10000
        )
        approx = {
            r["o_orderpriority"]: r
            for r in spark.read.parquet(f"{SF_ORACLE}/orders.parquet")
            .groupBy("o_orderpriority")
            .agg(
                pct[0].alias("p25"), pct[1].alias("p50"),
                pct[2].alias("p75"), pct[3].alias("p90"),
            )
            .collect()
        }
        assert set(exact) == set(approx)
        for prio in exact:
            for c in ("p25", "p50", "p75", "p90"):
                rel = abs(approx[prio][c] - exact[prio][c]) / exact[prio][c]
                assert rel < 0.01, f"{prio}.{c}: rel err {rel:.4f}"

    def test_approx_query_rank_booleans_hold(self, spark):
        """The registered accuracy-audit query must report every rank
        check TRUE (what the driver hash pins against the oracle)."""
        from facebook_ads_bigquery_etl_spark.plans import QUERIES
        from tests.conftest import SF_ORACLE

        for r in QUERIES["price_percentiles_approx"](spark, SF_ORACLE).collect():
            for c in ("p25_rank_ok", "p50_rank_ok", "p75_rank_ok", "p90_rank_ok"):
                assert r[c] is True, (r["o_orderpriority"], c)


class TestApproxDistinct:
    def test_hll_within_3_sigma_of_exact(self, spark):
        """rsd is a relative STANDARD DEVIATION, not a bound — hold the
        sketch to 3σ at two precision settings (deterministic given the
        data, so this never flakes; it catches gross estimator breaks)."""
        from tests.conftest import SF_ORACLE

        o = spark.read.parquet(f"{SF_ORACLE}/orders.parquet")
        exact = o.select("o_custkey").distinct().count()
        for rsd in (0.05, 0.01):
            approx = o.agg(F.approx_count_distinct("o_custkey", rsd).alias("a")).first()["a"]
            assert abs(approx - exact) / exact < 3 * rsd, f"rsd={rsd}: {approx} vs {exact}"


class TestSnapshotDiff:
    """CDC + SCD2 edge semantics (operators/scd.py) on hand-built
    snapshots — the oracle query only exercises the modular-arithmetic
    churn pattern; these pin the null-attribute and no-change paths."""

    def _frames(self, spark):
        old = spark.createDataFrame(
            [(1, "a", 10.0), (2, "b", None), (3, "c", 30.0), (4, "d", 40.0)],
            "k int, name string, bal double",
        )
        new = spark.createDataFrame(
            # 1 unchanged, 2 unchanged (NULL bal compares equal), 3
            # updated, 4 deleted, 5 inserted
            [(1, "a", 10.0), (2, "b", None), (3, "c2", 30.0), (5, "e", 50.0)],
            "k int, name string, bal double",
        )
        return old, new

    def test_change_classification(self, spark):
        from facebook_ads_bigquery_etl_spark.operators.scd import snapshot_diff

        old, new = self._frames(spark)
        got = {
            r["k"]: r["change_type"]
            for r in snapshot_diff(old, new, "k", ["name", "bal"]).collect()
        }
        assert got == {3: "update", 4: "delete", 5: "insert"}

    def test_delete_rows_carry_null_attrs(self, spark):
        from facebook_ads_bigquery_etl_spark.operators.scd import snapshot_diff

        old, new = self._frames(spark)
        row = snapshot_diff(old, new, "k", ["name", "bal"]).filter("k = 4").first()
        assert row["name"] is None and row["bal"] is None

    def test_scd2_versions_and_validity(self, spark):
        from facebook_ads_bigquery_etl_spark.operators.scd import scd2_merge

        old, new = self._frames(spark)
        hist = scd2_merge(
            old, new, "k", ["name", "bal"], old_date="2024-01-01", new_date="2024-02-01"
        )
        rows = {(r["k"], str(r["valid_from"])): r for r in hist.collect()}
        # unchanged key: single open row
        assert rows[(1, "2024-01-01")]["is_current"] is True
        assert str(rows[(1, "2024-01-01")]["valid_to"]) == "9999-12-31"
        # NULL-attribute key compares equal → unchanged, still open
        assert rows[(2, "2024-01-01")]["is_current"] is True
        # updated key: closed old version + open new version
        assert str(rows[(3, "2024-01-01")]["valid_to"]) == "2024-02-01"
        assert rows[(3, "2024-01-01")]["is_current"] is False
        assert rows[(3, "2024-02-01")]["name"] == "c2"
        assert rows[(3, "2024-02-01")]["is_current"] is True
        # deleted key: closed, no successor
        assert rows[(4, "2024-01-01")]["is_current"] is False
        assert (4, "2024-02-01") not in rows
        # inserted key: open at new date only
        assert rows[(5, "2024-02-01")]["is_current"] is True
        assert (5, "2024-01-01") not in rows
        # version count: 4 old keys + update successor + insert
        assert hist.count() == 6


class TestColumnProfile:
    def test_single_pass_and_values(self, spark):
        from facebook_ads_bigquery_etl_spark.operators.profile import column_profile

        df = spark.createDataFrame(
            [(1.0, "x"), (2.0, "y"), (None, "x"), (4.0, None)],
            "v double, s string",
        )
        out = {
            r["col_name"]: r
            for r in column_profile(df, numeric_cols=["v"], string_cols=["s"]).collect()
        }
        v, s = out["v"], out["s"]
        assert v["n_rows"] == 4 and v["n_nulls"] == 1 and v["n_distinct"] == 3
        assert v["min_num"] == 1.0 and v["max_num"] == 4.0 and v["min_str"] is None
        assert s["n_nulls"] == 1 and s["n_distinct"] == 2
        assert s["min_str"] == "x" and s["max_str"] == "y" and s["min_num"] is None
        assert v["ndv_within_tol"] is True and s["ndv_within_tol"] is True


class TestFillDateGaps:
    def test_locf_and_flags(self, spark):
        from facebook_ads_bigquery_etl_spark.operators.timeseries import fill_date_gaps

        import datetime as dt

        df = spark.createDataFrame(
            [
                ("a", dt.date(2024, 1, 1), 1.0),
                ("a", dt.date(2024, 1, 4), 4.0),
                ("b", dt.date(2024, 1, 3), 9.0),
            ],
            "k string, d date, v double",
        )
        out = {
            (r["k"], str(r["d"])): (r["v"], r["was_observed"])
            for r in fill_date_gaps(df, "k", "d", "v").collect()
        }
        # key a: 4 calendar days, two fills carrying 1.0
        assert out[("a", "2024-01-01")] == (1.0, True)
        assert out[("a", "2024-01-02")] == (1.0, False)
        assert out[("a", "2024-01-03")] == (1.0, False)
        assert out[("a", "2024-01-04")] == (4.0, True)
        # key b: single-day span, no fills, no bleed from key a
        assert out[("b", "2024-01-03")] == (9.0, True)
        assert len(out) == 5


class TestConstraintAudit:
    def _df(self, spark):
        return spark.createDataFrame(
            [
                Row(k=1, v=10.0, s="A"),
                Row(k=2, v=None, s="B"),   # null v
                Row(k=2, v=99.0, s="A"),   # dup key
                Row(k=3, v=-5.0, s="C"),   # below range, s outside set
                Row(k=4, v=200.0, s="A"),  # above range
            ]
        )

    def test_counts_every_violation_class(self, spark):
        from facebook_ads_bigquery_etl_spark.operators.expectations import (
            constraint_audit,
        )

        parent = spark.createDataFrame([Row(pk=1), Row(pk=2)])
        rep = {
            r["constraint_name"]: (r["n_rows"], r["n_violations"], r["passed"])
            for r in constraint_audit(
                self._df(spark),
                not_null=["v"],
                ranges={"v": (0.0, 100.0)},
                in_set={"s": ["A", "B"]},
                unique=[["k"]],
                foreign_keys=[("k", parent, "pk")],
            ).collect()
        }
        assert rep["not_null:v"] == (5, 1, False)
        # NULL and both out-of-range rows violate the range check
        assert rep["range:v"] == (5, 3, False)
        assert rep["in_set:s"] == (5, 1, False)
        assert rep["unique:k"] == (5, 1, False)
        # keys 3 and 4 have no parent
        assert rep["fk:k->pk"] == (5, 2, False)

    def test_clean_table_passes(self, spark):
        from facebook_ads_bigquery_etl_spark.operators.expectations import (
            constraint_audit,
        )

        df = spark.createDataFrame([Row(k=1, v=1.0), Row(k=2, v=2.0)])
        rep = constraint_audit(
            df, not_null=["v"], ranges={"v": (0.0, 10.0)}, unique=[["k"]]
        )
        assert all(r["passed"] for r in rep.collect())

    def test_empty_table_counts_zero(self, spark):
        from facebook_ads_bigquery_etl_spark.operators.expectations import (
            constraint_audit,
        )

        df = spark.createDataFrame([], "k long, v double")
        rep = {
            r["constraint_name"]: (r["n_rows"], r["n_violations"])
            for r in constraint_audit(
                df, not_null=["v"], unique=[["k"]]
            ).collect()
        }
        assert rep == {"not_null:v": (0, 0), "unique:k": (0, 0)}


class TestIncrementalAgg:
    def test_merge_equals_full_recompute(self, spark):
        from facebook_ads_bigquery_etl_spark.operators.incremental import (
            finalize,
            merge_states,
            partial_state,
        )

        full = spark.range(0, 1000).select(
            (F.col("id") % 7).alias("g"),
            (F.col("id") % 13).cast("double").alias("x"),
        )
        slices = [
            full.filter(F.col("id") % 3 == i) for i in range(3)
        ]
        merged = finalize(
            merge_states(*[partial_state(s, ["g"], "x") for s in slices])
        )
        direct = finalize(partial_state(full, ["g"], "x"))
        got = {r["g"]: r.asDict() for r in merged.collect()}
        want = {r["g"]: r.asDict() for r in direct.collect()}
        assert got == want

    def test_empty_delta_is_identity(self, spark):
        from facebook_ads_bigquery_etl_spark.operators.incremental import (
            finalize,
            merge_states,
            partial_state,
        )

        base = spark.range(0, 100).select(
            (F.col("id") % 5).alias("g"), F.col("id").cast("double").alias("x")
        )
        empty = base.filter(F.lit(False))
        merged = finalize(
            merge_states(partial_state(base, ["g"], "x"), partial_state(empty, ["g"], "x"))
        )
        direct = finalize(partial_state(base, ["g"], "x"))
        assert sorted(map(repr, merged.collect())) == sorted(map(repr, direct.collect()))

    def test_negative_decimal_total_floors_on_both_engines(self, spark):
        """A NEGATIVE decimal total (refund-heavy cell) with an
        inexact division: the engine's pmod-subtracted division is a
        FLOOR, and the oracle twin (_INCR_ORACLE) floors explicitly
        via the positive-mod subtraction — DuckDB's bare ``//``
        truncates toward zero and would report a cent more (r12
        advisory). total = -7.23, n = 14: floor form → -0.52 on both
        engines; truncating form → -0.51."""
        import duckdb

        from facebook_ads_bigquery_etl_spark.operators.incremental import (
            finalize,
            partial_state,
        )

        df = spark.createDataFrame(
            [(0, -7.23 / 14)] * 14, "g int, x double"
        ).select("g", F.col("x").cast("decimal(18,6)").alias("x"))
        # force the exact decimal total: overwrite via literal sum
        state = partial_state(df, ["g"], "x").select(
            "g",
            F.lit("-7.23").cast("decimal(18,2)").alias("state_sum"),
            "state_n",
            "state_min",
            "state_max",
        )
        got = finalize(state).collect()[0]
        assert got["avg"] == -0.52, got

        num, den = 2 * (-723) + 14, 2 * 14  # (2·cents + n), (2·n)
        floor_sql, trunc_sql = duckdb.sql(
            f"SELECT ({num} - (({num} % {den} + {den}) % {den})) // {den},"
            f"       {num} // {den}"
        ).fetchone()
        assert floor_sql / 100 * 1.0 == -0.52  # oracle convention
        assert trunc_sql / 100 * 1.0 == -0.51  # the divergence pinned away

    def test_state_scale_wider_than_round_to_raises(self, spark):
        """(sum·10^k).cast(long) TRUNCATES state fraction beyond k
        digits BEFORE the half-up rounding (0.0299 at k=2 would read
        0.02, not 0.03) — a decimal state wider than round_to must
        fail loudly instead of silently mis-rounding (r13 operator
        review)."""
        import pytest as _pytest

        from facebook_ads_bigquery_etl_spark.operators.incremental import (
            finalize,
            partial_state,
        )

        df = spark.createDataFrame([(0, 1.0)], "g int, x double").select(
            "g", F.col("x").cast("decimal(18,4)").alias("x")
        )
        state = partial_state(df, ["g"], "x")
        with _pytest.raises(ValueError, match="scale 4 exceeds"):
            finalize(state, round_to=2)

    def test_reserved_key_name_raises(self, spark):
        """A grouping column named like a state column would be
        silently aggregated away by key inference — reject it."""
        import pytest as _pytest

        from facebook_ads_bigquery_etl_spark.operators.incremental import (
            finalize,
            merge_states,
            partial_state,
        )

        df = spark.range(10).select(
            F.col("id").alias("state_sum"), F.col("id").cast("double").alias("x")
        )
        with _pytest.raises(ValueError, match="state_sum"):
            partial_state(df, ["state_sum"], "x")
        good = partial_state(
            spark.range(10).select(
                (F.col("id") % 2).alias("g"), F.col("id").cast("double").alias("x")
            ),
            ["g"],
            "x",
        )
        with _pytest.raises(ValueError, match="state_n"):
            merge_states(good, good, keys=["g", "state_n"])
        with _pytest.raises(ValueError, match="state_max"):
            finalize(good, keys=["state_max"])
        # explicit keys that are legal behave exactly like inference
        assert sorted(map(repr, finalize(good, keys=["g"]).collect())) == sorted(
            map(repr, finalize(good).collect())
        )


class TestIntegrityManifest:
    def test_diff_detects_dropped_and_modified_rows(self, spark):
        from facebook_ads_bigquery_etl_spark.operators.integrity import (
            manifest_diff,
            partition_manifest,
        )

        base = spark.createDataFrame(
            [Row(p="a", k=i, v=i * 10) for i in range(20)]
            + [Row(p="b", k=i, v=i * 10) for i in range(20)]
        )
        hashed = [F.col("k"), F.col("v")]
        expected = partition_manifest(base, ["p"], hashed)

        # intact copy (different order) → empty diff
        shuffled = base.orderBy(F.col("v").desc())
        assert (
            manifest_diff(expected, partition_manifest(shuffled, ["p"], hashed)).count()
            == 0
        )
        # dropped row → partition 'a' flagged
        dropped = base.filter(~((F.col("p") == "a") & (F.col("k") == 3)))
        d = manifest_diff(expected, partition_manifest(dropped, ["p"], hashed)).collect()
        assert [r["p"] for r in d] == ["a"]
        # modified value, same count → checksum still catches it
        modified = base.withColumn(
            "v", F.when((F.col("p") == "b") & (F.col("k") == 5), 999).otherwise(F.col("v"))
        )
        d = manifest_diff(expected, partition_manifest(modified, ["p"], hashed)).collect()
        assert [r["p"] for r in d] == ["b"]
        # missing partition surfaces via full outer
        half = base.filter(F.col("p") == "a")
        d = manifest_diff(expected, partition_manifest(half, ["p"], hashed)).collect()
        assert [r["p"] for r in d] == ["b"]


class TestKmvSketch:
    def test_estimates_within_bound_where_estimation_engages(self, spark):
        """At sf0.1 each event_type has 1500 distinct users > k=512, so
        the estimator path (not the exact small-set path) is exercised;
        every estimate must sit within the audit's 20% bound, and the
        merged '__all__' sketch must too."""
        from facebook_ads_bigquery_etl_spark.operators.sketches import (
            kmv_group_distinct,
        )
        from facebook_ads_bigquery_etl_spark.plans.registry import load_tables

        ev = load_tables(spark, "/root/testdata/sf0.1", "events")["events"]
        est = {
            r["event_type"]: r["kmv_estimate"]
            for r in kmv_group_distinct(ev, "event_type", "user_id", k=512).collect()
        }
        exact = {
            r["event_type"]: r["n"]
            for r in ev.groupBy("event_type")
            .agg(F.count_distinct("user_id").alias("n"))
            .collect()
        }
        exact["__all__"] = ev.select("user_id").distinct().count()
        assert set(est) == set(exact)
        for g, n in exact.items():
            assert n > 512 or g == "__all__"
            assert abs(est[g] - n) / n <= 0.20, (g, est[g], n)

    def test_null_group_rows_are_not_dropped(self, spark):
        """pandas groupby drops null keys by default; the map-side
        k-min stage must keep them (dropna=False) so the null group
        gets its own sketch row and its hashes reach the '__all__'
        merge — Spark-side grouping semantics, not pandas' (r13
        operator review)."""
        from facebook_ads_bigquery_etl_spark.operators.sketches import (
            kmv_group_distinct,
            kmv_sketch_frame,
        )

        df = spark.createDataFrame(
            [("x", 1), ("x", 2), (None, 3), (None, 4), (None, 5)],
            "g string, uid long",
        )
        frame = {r["g"]: len(r["mins"]) for r in
                 kmv_sketch_frame(df, "g", "uid", k=16).collect()}
        assert frame == {"x": 2, None: 3}  # null group sketched, not lost
        est = {r["g"]: r["kmv_estimate"] for r in
               kmv_group_distinct(df, "g", "uid", k=16).collect()}
        # below k the sketch IS the set: exact per group, and the
        # merged row counts the null group's distinct keys too
        assert est["x"] == 2.0 and est[None] == 3.0 and est["__all__"] == 5.0

    def test_merged_sketch_equals_direct_global_sketch(self, spark):
        """Union of per-group k-min sets sliced to k IS the global
        k-min set, so the merged '__all__' estimate must equal the
        estimate from sketching the ungrouped data directly."""
        from facebook_ads_bigquery_etl_spark.operators.sketches import (
            kmv_group_distinct,
        )
        from facebook_ads_bigquery_etl_spark.plans.registry import load_tables

        ev = load_tables(spark, "/root/testdata/sf0.1", "events")["events"]
        merged = {
            r["event_type"]: r["kmv_estimate"]
            for r in kmv_group_distinct(ev, "event_type", "user_id", k=512).collect()
        }["__all__"]
        direct = {
            r["g"]: r["kmv_estimate"]
            for r in kmv_group_distinct(
                ev.withColumn("g", F.lit("one")), "g", "user_id", k=512
            ).collect()
        }["one"]
        assert merged == direct

    def test_pair_set_estimates_track_exact_overlap(self, spark):
        """Jaccard/intersection/union estimates from two sketches must
        track the exact values on real overlap structure (sf0.1 click
        vs purchase users)."""
        from facebook_ads_bigquery_etl_spark.operators.sketches import (
            kmv_pair_stats,
            kmv_sketch_frame,
        )
        from facebook_ads_bigquery_etl_spark.plans.registry import load_tables

        ev = load_tables(spark, "/root/testdata/sf0.1", "events")["events"]
        sk = kmv_sketch_frame(ev, "event_type", "user_id", k=512)
        got = kmv_pair_stats(sk, "click", "purchase", k=512).collect()[0]
        users = {
            g: {r["user_id"] for r in ev.filter(F.col("event_type") == g)
                .select("user_id").distinct().collect()}
            for g in ("click", "purchase")
        }
        inter = len(users["click"] & users["purchase"])
        union = len(users["click"] | users["purchase"])
        assert abs(got["jaccard_est"] - inter / union) <= 0.05
        assert abs(got["union_est"] - union) / union <= 0.20
        assert abs(got["intersection_est"] - inter) / max(inter, 1) <= 0.25

    def test_pair_stats_missing_group_raises(self, spark):
        """A typo'd segment name must fail loudly, not yield an empty
        audit (the filter would produce 0 rows and the crossJoin an
        empty frame)."""
        import pytest as _pytest

        from facebook_ads_bigquery_etl_spark.operators.sketches import (
            kmv_pair_stats,
            kmv_sketch_frame,
        )
        from facebook_ads_bigquery_etl_spark.plans.registry import load_tables

        ev = load_tables(spark, "/root/testdata/sf0.001", "events")["events"]
        sk = kmv_sketch_frame(ev, "event_type", "user_id", k=64)
        with _pytest.raises(ValueError, match="clikc"):
            kmv_pair_stats(sk, "clikc", "purchase", k=64)


class TestBlockedFuzzyJoin:
    def test_pairs_distances_and_blocking_contract(self, spark):
        from facebook_ads_bigquery_etl_spark.operators.fuzzy import (
            blocked_fuzzy_pairs,
        )

        rows = [
            (1, "alpha beta gamma"),
            (2, "alpha beta gamme"),   # dist 1 to id 1, same block
            (3, "alpha delta"),        # same block, far from 1/2
            (4, "aleph beta gamma"),   # dist 3 to id 1 BUT different block
            (5, "zeta one"),
            (6, "zeta one"),           # exact dup pair with 5
        ]
        df = spark.createDataFrame(rows, ["pid", "name"])
        got = {
            (r["a_id"], r["b_id"]): r["dist"]
            for r in blocked_fuzzy_pairs(df, "pid", "name", max_dist=3).collect()
        }
        # within-block matches with exact distances
        assert got[(1, 2)] == 1
        assert got[(5, 6)] == 0
        # blocking contract: id 4 is within max_dist of id 1 but in
        # another block -> deliberately NOT a candidate
        assert (1, 4) not in got and (4, 1) not in got
        # threshold: (1,3)/(2,3) share the block but exceed max_dist
        assert all(d <= 3 for d in got.values())
        assert (1, 3) not in got
        # ordered pairs only, no self-pairs
        assert all(a < b for a, b in got)

    def test_extra_block_cols_partition_candidates(self, spark):
        from facebook_ads_bigquery_etl_spark.operators.fuzzy import (
            blocked_fuzzy_pairs,
        )

        rows = [
            (1, "acme corp", "US"),
            (2, "acme corp", "EU"),  # identical name, different region
            (3, "acme co", "US"),
        ]
        df = spark.createDataFrame(rows, ["pid", "name", "region"])
        got = {
            (r["a_id"], r["b_id"])
            for r in blocked_fuzzy_pairs(
                df, "pid", "name", max_dist=3, extra_block_cols=["region"]
            ).collect()
        }
        assert got == {(1, 3)}


class TestPrioritySample:
    def test_deterministic_weighted_topk(self, spark):
        from facebook_ads_bigquery_etl_spark.operators.mixing import (
            priority_sample,
        )

        df = spark.range(1, 1001).select(
            F.col("id").alias("rid"), (F.col("id") % 50 + 1).alias("w")
        )
        s1 = priority_sample(df, "rid", "w", k=20).collect()
        s2 = priority_sample(df, "rid", "w", k=20).collect()
        # deterministic: identical sample across runs, exactly k rows
        assert [r["rid"] for r in s1] == [r["rid"] for r in s2]
        assert len(s1) == 20
        # priorities are the k largest and sorted descending
        ps = [r["priority"] for r in s1]
        assert ps == sorted(ps, reverse=True)
        # weight-monotone inclusion: the sampled mean weight must sit
        # well above the population mean (~25.5) for priority q = w/u
        mean_w = sum(r["weight"] for r in s1) / len(s1)
        assert mean_w > 30


class TestArrayValuedAggregation:
    def test_customer_order_years_nested(self, spark):
        """The N45 nested-output shape itself: collect_set → array_sort
        yields a deterministic ARRAY column (the driver-facing query
        projects it to CSV only because the driver's pandas value-hash
        cannot factorize list cells — CORRECTNESS_r04)."""
        from facebook_ads_bigquery_etl_spark.plans import QUERIES
        from facebook_ads_bigquery_etl_spark.plans.analytics import load_tables

        sf = "/root/testdata/sf0.001"
        orders = load_tables(spark, sf, "orders")["orders"]
        yr = F.year("o_orderdate").cast("bigint")
        nested = orders.groupBy("o_custkey").agg(
            F.array_sort(F.collect_set(yr)).alias("active_years")
        )
        assert isinstance(
            nested.schema["active_years"].dataType, T.ArrayType
        )
        rows = {r["o_custkey"]: r["active_years"] for r in nested.collect()}
        assert rows and all(
            ys == sorted(set(ys)) and all(1990 <= y <= 2005 for y in ys)
            for ys in rows.values()
        )
        # the driver-facing CSV projection is exactly the joined array
        csv = {
            r["o_custkey"]: (r["active_years_csv"], r["n_active_years"])
            for r in QUERIES["customer_order_years"](spark, sf).collect()
        }
        assert set(csv) == set(rows)
        for k, ys in rows.items():
            assert csv[k] == (",".join(str(y) for y in ys), len(ys))


class TestMergeApply:
    def test_merge_update_insert_keep_delete(self, spark):
        from facebook_ads_bigquery_etl_spark.operators.incremental import (
            merge_apply,
        )

        target = spark.createDataFrame(
            [("a", 10, 1), ("b", 20, 2), ("c", 30, 3)], "k string, v long, n long"
        )
        source = spark.createDataFrame(
            [("b", 5, 1), ("c", -999, 0), ("d", 7, 1)], "k string, v long, n long"
        )
        out = merge_apply(
            target,
            source,
            keys=["k"],
            update_set={
                "v": F.col("t.v") + F.col("s.v"),
                "n": F.col("t.n") + F.col("s.n"),
            },
            delete_condition=F.col("s.v") < 0,
        ).collect()
        got = {r["k"]: (r["v"], r["n"], r["op"]) for r in out}
        assert got == {
            "a": (10, 1, "keep"),        # target-only
            "b": (25, 3, "update"),      # matched -> update exprs
            "d": (7, 1, "insert"),       # source-only
        }  # 'c' matched the delete predicate and is gone

    def test_merge_null_keys_match_nullsafe(self, spark):
        from facebook_ads_bigquery_etl_spark.operators.incremental import (
            merge_apply,
        )

        target = spark.createDataFrame([(None, 1)], "k string, v long")
        source = spark.createDataFrame([(None, 2)], "k string, v long")
        out = merge_apply(
            target, source, keys=["k"],
            update_set={"v": F.col("t.v") + F.col("s.v")},
        ).collect()
        assert len(out) == 1 and out[0]["v"] == 3 and out[0]["op"] == "update"


class TestMergeDuplicateSource:
    """on_duplicate_source contract (round-6 hardening, tests added
    round 7): SQL MERGE requires each target row to match at most one
    source row — 'error' raises at runtime like BigQuery/Delta,
    'allow' opts into the documented fan-out."""

    def _merge(self, spark, mode="error", source_rows=None):
        from facebook_ads_bigquery_etl_spark.operators.incremental import (
            merge_apply,
        )

        target = spark.createDataFrame(
            [("a", 10), ("b", 20)], "k string, v long"
        )
        source = spark.createDataFrame(
            source_rows or [("a", 1), ("a", 2), ("c", 3)],
            "k string, v long",
        )
        return merge_apply(
            target, source, keys=["k"],
            update_set={"v": F.col("s.v")},
            on_duplicate_source=mode,
        )

    def test_error_mode_raises_even_when_keys_are_pruned(self, spark):
        # The round-6 guard rode the first key column; Spark column
        # pruning dropped it for consumers that never materialize the
        # key (round-6 advice). The guard now lives in the `op`
        # expression behind the op filter, which EVERY consumer must
        # evaluate — all three consumer shapes raise.
        out = self._merge(spark)
        for consume in (
            lambda df: df.select("v").collect(),  # key pruned
            lambda df: df.count(),                # everything pruned
            lambda df: df.collect(),
        ):
            with pytest.raises(Exception, match="multiple source rows"):
                consume(out)

    def test_error_mode_clean_source_is_unaffected(self, spark):
        out = self._merge(spark, source_rows=[("a", 1), ("c", 3)])
        got = {r["k"]: (r["v"], r["op"]) for r in out.collect()}
        assert got == {
            "a": (1, "update"), "b": (20, "keep"), "c": (3, "insert")
        }

    def test_allow_mode_fans_out_matched_duplicates(self, spark):
        out = self._merge(spark, mode="allow")
        got = sorted((r["k"], r["v"], r["op"]) for r in out.collect())
        assert got == [
            ("a", 1, "update"), ("a", 2, "update"),
            ("b", 20, "keep"), ("c", 3, "insert"),
        ]

    def test_error_mode_unmatched_duplicates_each_insert(self, spark):
        out = self._merge(spark, source_rows=[("c", 3), ("c", 4)])
        got = sorted((r["k"], r["v"], r["op"]) for r in out.collect())
        assert got == [
            ("a", 10, "keep"), ("b", 20, "keep"),
            ("c", 3, "insert"), ("c", 4, "insert"),
        ]

    def test_guard_window_adds_no_extra_exchange(self, spark):
        # The duplicate-count window partitions by the merge keys, so
        # it rides the join's own key shuffle: same shuffle count in
        # both guard modes.
        def n_exchanges(df):
            plan = df._jdf.queryExecution().executedPlan().toString()
            return plan.count("Exchange hashpartitioning")

        clean = [("a", 1), ("c", 3)]
        assert n_exchanges(
            self._merge(spark, mode="error", source_rows=clean)
        ) == n_exchanges(
            self._merge(spark, mode="allow", source_rows=clean)
        )

    def test_bad_mode_rejected(self, spark):
        with pytest.raises(ValueError, match="on_duplicate_source"):
            self._merge(spark, mode="upsert")


class TestKnuthBucket:
    """The portable multiplicative key hash shared by the bloom
    partition indexes and the hash TABLESAMPLE (operators/exprs.
    knuth_bucket). The 10x stress probe caught the raw form
    (key * 2654435761) hard-erroring under ANSI once keys pass
    ~3.5e9 — this pins the pre-mod form's two contracts: it never
    overflows, and it equals the mathematical (key*c % p) % m that
    the DuckDB oracles compute in wide integers."""

    P, C = 1000000007, 2654435761

    def test_matches_wide_integer_math_including_huge_keys(self, spark):
        from facebook_ads_bigquery_etl_spark.operators.exprs import (
            knuth_bucket,
        )

        keys = [0, 1, 7, 9999991, 3_500_000_001, 9_000_000_190,
                2**62, 2**63 - 1]
        df = spark.createDataFrame([(k,) for k in keys], "k long")
        got = {
            r["k"]: r["b"]
            for r in df.select(
                "k", knuth_bucket("k", 1024).alias("b")
            ).collect()
        }
        for k in keys:
            assert got[k] == (k * self.C % self.P) % 1024, k

    def test_bucket_range_and_determinism(self, spark):
        from facebook_ads_bigquery_etl_spark.operators.exprs import (
            knuth_bucket,
        )

        # large-key spread — multiplier deliberately NOT the hash's own
        # modulus p (id·p would alias every key to bucket 0)
        df = spark.range(0, 5000).select(
            knuth_bucket(F.col("id") * 999_999_937, 100).alias("b")
        )
        stats = df.agg(
            F.min("b").alias("lo"), F.max("b").alias("hi"),
            F.countDistinct("b").alias("n"),
        ).first()
        assert stats["lo"] >= 0 and stats["hi"] < 100
        assert stats["n"] > 50  # spreads, not constant


class TestGlobalRankWithoutSinglePartition:
    """operators/rank.py: the parallel global-rank/ntile forms must be
    VALUE-IDENTICAL to the single-partition window they replace, and
    their plans must not contain an Exchange SinglePartition. A
    descending order is ranked as the ascending order of negated
    columns, the way the registered callers express it."""

    def _orders(self, spark, sf="/root/testdata/sf0.01"):
        return spark.read.parquet(f"{sf}/orders.parquet").select(
            "o_orderkey", "o_totalprice"
        )

    @pytest.mark.parametrize("k,ascending", [(4, True), (7, False)])
    def test_ntile_matches_window_form(self, spark, k, ascending):
        from pyspark.sql import Window as W

        from facebook_ads_bigquery_etl_spark.operators import rank

        df = self._orders(spark)
        direction = F.asc if ascending else F.desc
        w = W.orderBy(direction("o_totalprice"), direction("o_orderkey"))
        want = {
            r["o_orderkey"]: r["t"]
            for r in df.withColumn("t", F.ntile(k).over(w)).collect()
        }
        sign = 1 if ascending else -1
        keyed = df.withColumn("__v", sign * F.col("o_totalprice")).withColumn(
            "__key", sign * F.col("o_orderkey")
        )
        got_df = rank.with_global_ntile(keyed, "__v", ["__key"], k)
        got = {r["o_orderkey"]: r["tile"] for r in got_df.collect()}
        assert got == want
        assert "SinglePartition" not in got_df._jdf.queryExecution().toString()

    def test_heavy_ties_and_tiny_inputs(self, spark):
        from pyspark.sql import Window as W

        from facebook_ads_bigquery_etl_spark.operators import rank

        rows = [(i, float(i % 3)) for i in range(100)]  # 3 giant tie groups
        df = spark.createDataFrame(rows, "id long, v double")
        w = W.orderBy(F.asc("v"), F.asc("id"))
        want = {
            r["id"]: r["t"]
            for r in df.withColumn("t", F.ntile(4).over(w)).collect()
        }
        got = {
            r["id"]: r["tile"]
            for r in rank.with_global_ntile(df, "v", ["id"], 4).collect()
        }
        assert got == want
        # fewer rows than tiles: rank IS the tile (Spark semantics)
        tiny = spark.createDataFrame([(1, 5.0), (2, 1.0)], "id long, v double")
        got_tiny = {
            r["id"]: r["tile"]
            for r in rank.with_global_ntile(tiny, "v", ["id"], 4).collect()
        }
        assert got_tiny == {2: 1, 1: 2}

    @pytest.mark.parametrize(
        "rows",
        [[], [(1, 2.0)], [(i, 7.0) for i in range(9)]],
        ids=["empty", "one_row", "all_tied"],
    )
    def test_small_inputs_match_window_form(self, spark, rows):
        """Inputs far below any parallelism threshold take the same
        bucketed path as corpus-sized ones and still equal F.ntile
        (heavy ties and k > rows: test_heavy_ties_and_tiny_inputs)."""
        from pyspark.sql import Window as W

        from facebook_ads_bigquery_etl_spark.operators import rank

        df = spark.createDataFrame(rows, "id long, v double")
        w = W.orderBy(F.asc("v"), F.asc("id"))
        want = {
            r["id"]: r["t"]
            for r in df.withColumn("t", F.ntile(4).over(w)).collect()
        }
        got_df = rank.with_global_ntile(df, "v", ["id"], 4)
        got = {r["id"]: r["tile"] for r in got_df.collect()}
        assert got == want
        assert "tile" in got_df.columns

    def test_global_rank_is_exact_and_total(self, spark):
        from facebook_ads_bigquery_etl_spark.operators import rank

        df = self._orders(spark)
        n = df.count()
        ranked = rank._global_rank(
            df, "o_totalprice", ["o_orderkey"], "global_rank"
        )[0]
        rs = ranked.select("global_rank").collect()
        assert sorted(r["global_rank"] for r in rs) == list(range(1, n + 1))

    def test_global_cumsum_matches_window_form_decimal_exact(self, spark):
        """with_global_cumsum over a DECIMAL column must be
        bit-identical to the sequential single-partition window
        (decimal addition is associative, so bucket-order combination
        cannot drift), and its plan free of SinglePartition."""
        from pyspark.sql import Window as W

        from facebook_ads_bigquery_etl_spark.operators import rank

        df = (
            spark.read.parquet("/root/testdata/sf0.01/orders.parquet")
            .groupBy("o_custkey")
            .agg(
                F.round(F.sum("o_totalprice"), 2)
                .cast("decimal(18,2)")
                .alias("rev")
            )
        )
        w = (
            W.orderBy(F.desc("rev"), F.desc("o_custkey"))
            .rowsBetween(W.unboundedPreceding, 0)
        )
        want = {
            r["o_custkey"]: r["cum"]
            for r in df.withColumn("cum", F.sum("rev").over(w)).collect()
        }
        got_df = rank.with_global_cumsum(
            df.withColumn("__neg_rev", -F.col("rev")).withColumn(
                "__neg_key", -F.col("o_custkey")
            ),
            "rev", "__neg_rev", ["__neg_key"], out_col="cum",
        )
        got = {r["o_custkey"]: r["cum"] for r in got_df.collect()}
        assert got == want
        assert "SinglePartition" not in (
            got_df._jdf.queryExecution().toString()
        )

    def test_global_cumsum_long_and_heavy_ties(self, spark):
        from pyspark.sql import Window as W

        from facebook_ads_bigquery_etl_spark.operators import rank

        rows = [(i, float(i % 3), (i * 7) % 11) for i in range(200)]
        df = spark.createDataFrame(rows, "id long, v double, x long")
        w = W.orderBy(F.asc("v"), F.asc("id")).rowsBetween(
            W.unboundedPreceding, 0
        )
        want = {
            r["id"]: r["cum"]
            for r in df.withColumn("cum", F.sum("x").over(w)).collect()
        }
        got = {
            r["id"]: r["cum"]
            for r in rank.with_global_cumsum(
                df, "x", "v", ["id"], out_col="cum"
            ).collect()
        }
        assert got == want  # long sums: exact on any combination order

    def test_global_cumsum_empty_and_single_row(self, spark):
        from facebook_ads_bigquery_etl_spark.operators import rank

        empty = spark.createDataFrame([], "id long, v double, x long")
        out = rank.with_global_cumsum(empty, "x", "v", ["id"], out_col="cum")
        assert out.count() == 0 and "cum" in out.columns
        one = spark.createDataFrame([(1, 2.0, 5)], "id long, v double, x long")
        rows = rank.with_global_cumsum(
            one, "x", "v", ["id"], out_col="cum"
        ).collect()
        assert [(r["id"], r["cum"]) for r in rows] == [(1, 5)]

    def test_missing_bucket_offset_raises_not_null(self, spark):
        """The broadcast offset map covers every bucket seen at count
        time; a bucket the map lacks must RAISE at runtime (advisor r8:
        never silently emit null ranks). Exercised by evaluating the
        operators' guarded offset expression against an out-of-range
        bucket id."""
        from facebook_ads_bigquery_etl_spark.operators import rank

        df = spark.createDataFrame(
            [(1, 1.0), (2, 2.0)], "id long, v double"
        )
        omap = F.create_map(F.lit(0), F.lit(0))
        guarded = rank._bucket_offset(omap, "long")
        bad = df.withColumn("__bucket", F.lit(7)).withColumn("o", guarded)
        with pytest.raises(Exception) as ei:
            bad.collect()
        assert "bucket absent" in str(ei.value)
        ok = df.withColumn("__bucket", F.lit(0)).withColumn("o", guarded)
        assert [r["o"] for r in ok.collect()] == [0, 0]
