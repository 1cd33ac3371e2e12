"""ROUND-tie recon (round 12): cross-engine divergence census for
``round(double, k)`` on tie-adjacent values.

The class (first seen organically in the r11 nulls sweep as ONE
incremental-avg cent, fixed there with exact integer arithmetic):

* Spark ``round(x, k)`` routes the double through
  ``BigDecimal.valueOf`` — the SHORTEST DECIMAL STRING — then
  HALF_UP. ``round(1.005, 2)`` reads the string "1.005" → **1.01**.
* DuckDB ``round(x, k)`` computes in binary (x·10^k, rint, /10^k).
  1.005 is stored as 1.00499999999999989…, and 1.005·100 =
  100.49999999999999 → **1.00**.

Both are defensible; they disagree exactly when the shortest repr
ends in '5' at digit k+1 AND the binary multiply lands on the other
side (2.675 agrees — 2.675·100 re-rounds UP to 267.50000000000006 —
while 1.005 diverges). A query emitting ROUND over a DERIVED double
(ratio, EWMA, stddev, weighted mix) diverges from its oracle the
moment hostile data forces such a value; the sf0.01 driver fixture
simply never does.

This probe does three things, NO fixes (r13 triage input):

1. **Pair census**: enumerate every shortest-repr tie value with
   1–4 digits before the tie digit at k ∈ {0, 1, 2, 6}, compare
   Spark vs DuckDB round, report the disagreement rate and examples.
2. **Exposure census**: count ROUND sites over non-DECIMAL
   expressions in the registered oracles (textual) and report which
   queries carry them.
3. **Repro pin**: assert the 1.005 divergence reproduces (so the
   probe itself fails loudly if an engine upgrade changes the class).

Usage: python scripts/round_ties_probe.py
Writes /tmp/round_ties_probe.json.
"""
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb


def tie_values(k: int, n_digits: int = 3) -> list[float]:
    """Doubles whose SHORTEST repr is d.d…5 with the 5 at digit k+1
    (the rounding position for round(x, k)). Only values whose
    shortest repr really has that form survive the filter — Python's
    repr IS the shortest repr, same as BigDecimal.valueOf."""
    out = []
    lo, hi = 10 ** (n_digits - 1), 10**n_digits
    for m in range(lo, hi):
        s = f"{m}e-{k + 1}" if k >= 0 else None
        if not str(m).endswith("5"):
            continue
        x = float(s)
        want = f"{m / 10 ** (k + 1):.{k + 1}f}".rstrip("0")
        if repr(x).rstrip("0") != want.rstrip("0") and repr(x) != want:
            continue  # shortest repr moved off the tie — not in class
        out.append(x)
    return out


def spark_round(spark, vals: list[float], k: int) -> list[float]:
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(v,) for v in vals], "x double")
    return [
        r["y"] for r in df.select(F.round("x", k).alias("y"))
        .toLocalIterator()
    ]


def duck_round(vals: list[float], k: int) -> list[float]:
    con = duckdb.connect()
    rel = con.execute(
        "SELECT round(x, ?) FROM (SELECT unnest(?::DOUBLE[]) AS x)",
        [k, vals],
    ).fetchall()
    return [r[0] for r in rel]


def main() -> None:
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    report = {"pair_census": {}, "exposure": {}, "repro_1_005": None}

    # 3. repro pin first — if this stops diverging the class is gone
    s = spark_round(spark, [1.005], 2)[0]
    d = duck_round([1.005], 2)[0]
    report["repro_1_005"] = {"spark": s, "duckdb": d, "diverges": s != d}
    assert s == 1.01 and d == 1.0, (s, d)

    # 1. pair census
    for k in (0, 1, 2, 6):
        vals = tie_values(k, 3) + tie_values(k, 4)
        if not vals:
            continue
        sv = spark_round(spark, vals, k)
        dv = duck_round(vals, k)
        diffs = [
            (v, a, b) for v, a, b in zip(vals, sv, dv) if a != b
        ]
        report["pair_census"][f"k={k}"] = {
            "n_tie_values": len(vals),
            "n_diverging": len(diffs),
            "rate_pct": round(100 * len(diffs) / len(vals), 1),
            "examples": [
                {"x": v, "spark": a, "duckdb": b} for v, a, b in diffs[:8]
            ],
        }

    # 2. exposure census over registered oracles: ROUND( ... , k)
    # sites whose argument is not an explicit DECIMAL cast. Textual —
    # an over-approximation (some args are money that rides DECIMAL
    # upstream), good enough to size the triage.
    import __spark_entry__ as e

    pat = re.compile(r"ROUND\s*\(", re.I)
    dec = re.compile(r"ROUND\s*\(\s*CAST\s*\([^()]*AS\s+DECIMAL", re.I)
    exposed = {}
    for name, sql in e.oracle_sql().items():
        n_all = len(pat.findall(sql))
        n_dec = len(dec.findall(sql))
        if n_all - n_dec > 0:
            exposed[name] = n_all - n_dec
    report["exposure"] = {
        "queries_with_double_round_sites": len(exposed),
        "total_sites": sum(exposed.values()),
        "by_query": dict(
            sorted(exposed.items(), key=lambda kv: -kv[1])[:250]
        ),
    }

    with open("/tmp/round_ties_probe.json", "w") as f:
        json.dump(report, f, indent=1)
    print(json.dumps({k: v for k, v in report.items() if k != "exposure"},
                     indent=1)[:2000])
    print("exposed queries:", report["exposure"]["queries_with_double_round_sites"],
          "sites:", report["exposure"]["total_sites"])


if __name__ == "__main__":
    main()
