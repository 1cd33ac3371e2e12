"""Degenerate-input sweep: every oracle-backed query on one mutated
fixture, Spark vs DuckDB, through the shared comparator in
tests/oracle_check.py (each mutator's docstring says what it injects
and which fix classes it found).

The sf0.01 oracle gate never sees an empty slice, a NULL payload, a
corrupt timestamp, a NaN, a replayed key or a layout-dependent result;
each sweep is the full board for one such input class, and the
tests/test_*_inputs.py gates pin its fast fixed subset.

Usage:
    python scripts/sweep.py --mutator {nulls,empty,one_row,dates,extremes,duplicates,layout} [name ...]

No names means every oracle-backed query; unknown names are rejected.
`layout` runs each query on the clean source tables under the two
LAYOUT_CONFS and compares Spark with Spark. The fixture and a JSON
report go into a fresh temporary directory, whose path is printed; a
report entry is the comparator's diff (empty for a match: row counts,
columns and the rows found on one side only otherwise) or the error.
Exit status is 1 when any query is a finding.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tests import oracle_check as oc  # noqa: E402


def _check(spark, name: str, sf_dir: str, mutator: str) -> dict:
    """`oc.diff` of one query (empty = match), or its error."""
    try:
        if mutator == "layout":
            return oc.compare_layout(spark, name, sf_dir)
        return oc.compare(spark, name, sf_dir)
    except Exception as ex:
        return {"err": f"{type(ex).__name__}: {str(ex)[:160]}"}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--mutator", required=True, choices=[*oc.MUTATORS, "layout"])
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    import __spark_entry__ as entry

    oracles = entry.oracle_sql()
    unknown = [n for n in args.names if n not in oracles]
    if unknown:
        ap.error(f"unknown or oracle-less queries: {unknown}")
    names = args.names or sorted(oracles)

    out_dir = tempfile.mkdtemp(prefix=f"sweep_{args.mutator}_")
    sf_dir = oc.SF_SMOKE
    if args.mutator != "layout":
        sf_dir = oc.write_fixture(oc.MUTATORS[args.mutator], oc.SF_SMOKE, out_dir)

    from facebook_ads_bigquery_etl_spark.session import get_spark

    spark = get_spark("sweep", shuffle_partitions=8,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    exempt = oc.EXEMPT.get(args.mutator, frozenset())
    board = {}
    for name in names:
        if name in exempt:
            board[name] = {"exempt": True}
            print(name, "EXEMPT", flush=True)
            continue
        row = board[name] = _check(spark, name, sf_dir, args.mutator)
        print(name, "ERR" if "err" in row else "MISMATCH" if row else "MATCH", flush=True)

    bad = sorted(k for k, v in board.items() if v and not v.get("exempt"))
    n_exempt = sum(1 for v in board.values() if v.get("exempt"))
    print(f"\n{args.mutator}: TOTAL {len(board)}, clean {len(board) - len(bad) - n_exempt}, "
          f"exempt {n_exempt}, findings {len(bad)}")
    for k in bad:
        print(" ", k, board[k])
    report = os.path.join(out_dir, "report.json")
    with open(report, "w") as f:
        json.dump(board, f, indent=1, default=str)
    print("report:", report)
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
