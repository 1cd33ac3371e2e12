"""The /verify drive (see .claude/skills/verify/SKILL.md): replicates
the driver's flow in a fresh process — vanilla hostile-timezone
session, entry() smoke, Spark-vs-DuckDB oracle compare through the
shared comparator (tests/oracle_check.py), and the ETL write-path probe
(two daily loads through etl.runner.handle_event: exactly-once +
quarantine + day partitions).

Run from anywhere:  python scripts/drive_verify.py [name ...]
No names runs every oracle-backed query; names run exactly those.
"""
import os, sys, tempfile, shutil

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession

from tests import oracle_check as oc

spark = (
    SparkSession.builder.master("local[8]")
    .config("spark.sql.session.timeZone", "America/New_York")
    .config("spark.sql.shuffle.partitions", "8")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

import __spark_entry__ as e

# 1. entry smoke
rows = e.entry(spark).collect()
assert len(rows) >= 0 and len(e.entry(spark).schema) > 0
print(f"entry smoke: {len(rows)} rows OK")

# 2. every oracle-backed query (or the named ones) against DuckDB
SF = "/root/testdata/sf0.01"
O = e.oracle_sql()
unknown = [n for n in sys.argv[1:] if n not in O]
if unknown:
    sys.exit(f"unknown or oracle-less queries: {unknown}")

fails = []
for name in sys.argv[1:] or list(O):
    mismatch = oc.compare(spark, name, SF)
    print(f"{name:28s} {'FAIL' if mismatch else 'OK'}")
    if mismatch:
        fails.append(name)
        print("  ", mismatch)

# 3. ETL write-path probe: both fixture days through the runner and
# the fixture connector, twice (exactly-once + quarantine + day
# partitions); the Observation counts must match the landed rows, and
# the quarantine side table the rejected rows, after each pass
from facebook_ads_bigquery_etl_spark.etl.runner import handle_event

wh = tempfile.mkdtemp()
try:
    def load():
        res = [
            handle_event(spark, {"data": "Z2V0X2ZhY2Vib29r", "attributes": {"date": d}}, wh)
            for d in ("2025-01-01", "2025-01-02")
        ]
        landed = spark.read.parquet(res[0].warehouse_path).count()
        written = sum(r.rows_written for r in res)
        assert written == landed, f"observed {written} != landed {landed}"
        return landed, sum(r.rows_quarantined for r in res)

    def side_rows():
        return spark.read.parquet(os.path.join(wh, "quarantine", "facebook_stat")).count()

    n1, nq = load()
    assert side_rows() == nq, f"quarantine table {side_rows()} != observed {nq}"
    n2, nq2 = load()
    # the side table holds each run date once, like the main table
    assert side_rows() == nq2, f"quarantine table after rerun {side_rows()} != {nq2}"
    parts = [d for d in os.listdir(os.path.join(wh, "facebook_stat")) if d.startswith("date=")]
    assert n1 == n2, f"exactly-once broken: {n1} != {n2}"
    assert nq == nq2 == 1, f"quarantine: {nq}, rerun {nq2}"
    assert parts, "no date= partition dirs"
    print(f"etl probe: rows={n1} rerun={n2} quarantined={nq} "
          f"partitions={len(parts)} OK")
finally:
    shutil.rmtree(wh, ignore_errors=True)

print("RESULT:", "FAIL " + str(fails) if fails else "ALL GREEN")
sys.exit(1 if fails else 0)
