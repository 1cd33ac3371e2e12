"""The shared comparator's rules, pinned without Spark: every oracle gate
(tests/test_oracle.py, the input-class gates, scripts/drive_verify.py,
scripts/sweep.py) judges through `oracle_check.normalize` and reports a
mismatch through `oracle_check.diff`, so a rule that drifts here
changes every verdict at once."""

from __future__ import annotations

import datetime as dt
from decimal import Decimal

from tests.oracle_check import diff, normalize

NAN, INF = float("nan"), float("inf")


def _one(v, digits=9):
    return normalize([(v,)], ["c"], digits)


def test_time_of_day_is_compared():
    assert _one(dt.datetime(2024, 3, 1, 10)) != _one(dt.datetime(2024, 3, 1, 11))
    assert _one(dt.datetime(2024, 3, 1, 10)) != _one(dt.date(2024, 3, 1))
    assert _one(dt.datetime(2024, 3, 1, 0, 0, 0, 1)) != _one(dt.date(2024, 3, 1))


def test_midnight_datetime_is_its_date():
    assert _one(dt.datetime(2024, 3, 1)) == _one(dt.date(2024, 3, 1))


def test_null_nan_and_infinities_are_distinct_and_sort_together():
    specials = [None, NAN, INF, -INF]
    tagged = [_one(v)[0] for v in specials]
    assert len(set(tagged)) == 4
    for v in specials:
        assert _one(v) == _one(v), v
    # one column mixing them with real values still sorts (no TypeError)
    rows = normalize([(v,) for v in [1.5, *specials, 0.0]], ["c"])
    assert rows == [_one(v)[0] for v in [None, NAN, -INF, INF, 0.0, 1.5]]


def test_float_digits():
    assert _one(0.1234567891) == _one(0.1234567894)
    assert _one(0.123456789) != _one(0.123456788)
    assert _one(0.1234561, digits=6) == _one(0.1234564, digits=6)
    assert _one(0.123456, digits=6) != _one(0.123457, digits=6)


def test_column_order_does_not_matter():
    a = normalize([(1, "x", 2.0), (0, "y", None)], ["k", "s", "v"])
    b = normalize([("y", None, 0), ("x", 2.0, 1)], ["s", "v", "k"])
    assert a == b


def test_lists_and_decimals_compare_as_they_come():
    assert _one([1.0, 2.0]) == _one([1.0, 2.0])
    assert _one([1.0, 2.0]) != _one([2.0, 1.0])
    assert _one(Decimal("1.50")) == _one(Decimal("1.5"))


def test_diff_names_the_one_sided_rows():
    cols = ["k", "v"]
    a = (cols, normalize([(k, 1.0) for k in range(10)], cols))
    b = (cols, normalize([(k, 1.0) for k in range(10) if k != 7] + [(7, 2.0)], cols))
    assert diff(a, a) == {}
    d = diff(a, b)
    assert d == {"rows": (10, 10),
                 "spark_only": normalize([(7, 1.0)], cols),
                 "oracle_only": normalize([(7, 2.0)], cols)}
    # columns are named when they differ; the side labels are the caller's
    d = diff((["k"], []), (["v"], []), sides=("conf_a", "conf_b"))
    assert d == {"rows": (0, 0), "columns": (["k"], ["v"]), "conf_a_only": [], "conf_b_only": []}
