"""Hostile-timestamp sweep (round-11 recon): the dirty-data class
after NaN/Inf — corrupt dates/timestamps — on every oracle-backed
query, Spark vs DuckDB.

At 100 TB corrupt timestamps are routine (zeroed epoch fields, two-
digit-year parses landing in 19xx, sentinel 9999s, unit confusion
landing decades away). They stress a different surface than nulls or
special floats: ISO week/year functions, date_format vs strftime,
month arithmetic, sessionization and watermark logic across century
gaps, and the pandas nanosecond range (1677–2262) that every Arrow-
batched UDF silently lives inside.

Injection plan (deterministic by key, ~7.5% of rows hostile, three
disjoint residues; values chosen inside the pandas ns range so a
crash is a FINDING about engine semantics, not a fixture artifact —
beyond-range probing is a separate concern):

- orders.o_orderdate, lineitem.l_shipdate, events.ts:
  key % 40 == 3  -> 1970-01-01 00:00:00 (zeroed epoch),
  key % 40 == 17 -> 1899-07-05 12:00:00 (negative epoch, pre-1900),
  key % 40 == 31 -> 2250-01-01 00:00:00 (sentinel far-future).

Engine-vs-oracle agreement is the bar, same as the other sweeps.

Usage: python scripts/dates_sweep.py [name ...]
       (writes /tmp/dates_sweep_r11.json)
"""
import sys, os, math, json, datetime
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pyarrow.compute as pc

FIX = "/tmp/dates_fixture_r11"
SRC = "/root/testdata/sf0.001"
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

TS_PLAN = {
    "orders": ("o_orderkey", ["o_orderdate"]),
    "lineitem": ("l_orderkey", ["l_shipdate"]),
    "events": ("event_id", ["ts"]),
}
EPOCH = datetime.datetime(1970, 1, 1)
PAST = datetime.datetime(1899, 7, 5, 12, 0, 0)
FUTURE = datetime.datetime(2250, 1, 1)

os.makedirs(FIX, exist_ok=True)
for t in TABLES:
    tab = pq.read_table(f"{SRC}/{t}.parquet")
    if t in TS_PLAN:
        key, cols = TS_PLAN[t]
        keys = tab[key].to_numpy(zero_copy_only=False)
        m3 = pa.array(keys % 40 == 3)
        m17 = pa.array(keys % 40 == 17)
        m31 = pa.array(keys % 40 == 31)
        for c in cols:
            arr = tab[c]
            arr = pc.if_else(m3, pa.scalar(EPOCH, arr.type), arr)
            arr = pc.if_else(m17, pa.scalar(PAST, arr.type), arr)
            arr = pc.if_else(m31, pa.scalar(FUTURE, arr.type), arr)
            tab = tab.set_column(tab.column_names.index(c), c, arr)
    pq.write_table(tab, f"{FIX}/{t}.parquet")

from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[8]")
         .config("spark.sql.shuffle.partitions", "8")
         .config("spark.sql.session.timeZone", "UTC").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
import __spark_entry__ as e
Q, O = e.queries(), e.oracle_sql()

def norm(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    def nv(v):
        if v is None: return (2,)
        if isinstance(v, float):
            if math.isnan(v): return (1,)
            if math.isinf(v): return (3, v > 0)
            return (0, round(v, 9))
        if hasattr(v, "isoformat"):
            iso = v.isoformat(); return (0, iso[:10] if iso.endswith("T00:00:00") else iso)
        return (0, v)
    return sorted(tuple(nv(r[i]) for i in order) for r in rows)

names = sys.argv[1:] or sorted(O)
out = {}
for name in names:
    row = {}
    srows = drows = None
    try:
        sdf = Q[name](spark, FIX)
        srows = norm([tuple(r) for r in sdf.collect()], sdf.columns)
    except Exception as ex:
        row["spark_err"] = f"{type(ex).__name__}: {str(ex)[:150]}"
    try:
        con = duckdb.connect()
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{FIX}/{t}.parquet'")
        res = con.sql(O[name])
        drows = norm(res.fetchall(), list(res.columns))
        con.close()
    except Exception as ex:
        row["duck_err"] = f"{type(ex).__name__}: {str(ex)[:150]}"
    if not row:
        row["match"] = srows == drows
        if not row["match"]:
            row["spark_rows"] = srows[:2]; row["duck_rows"] = drows[:2]
            row["n"] = (len(srows), len(drows))
    status = "MATCH" if row.get("match") else ("MISMATCH" if "match" in row else "ERR")
    print(name, status, flush=True)
    out[name] = row
bad = {k: v for k, v in out.items() if not v.get("match")}
print(f"\nTOTAL {len(out)}, clean {len(out)-len(bad)}, needs-triage {len(bad)}")
for k in sorted(bad):
    print(" ", k, bad[k].get("spark_err") or bad[k].get("duck_err") or "mismatch")
json.dump(out, open("/tmp/dates_sweep_r11.json", "w"), indent=1, default=str)
