"""Run a subset of oracle-backed queries against the nulls fixture
(same compare as scripts/nulls_sweep.py). Usage:

    python scripts/nulls_subset.py name1 name2 ...

Rebuilds the /tmp fixture every run (tiny at sf0.001; importing the
builder block from the full sweep would run the whole sweep, so the
fixture build is duplicated small here).
"""
import sys, os, math, json

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pyarrow.compute as pc

FIX = "/tmp/nulls_fixture_r10"
SRC = "/root/testdata/sf0.001"
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()
NULL_PLAN = {
    "documents": ("doc_id", ["text", "lang", "source"]),
    "events": ("event_id", ["value", "props", "event_type"]),
    "customer": ("c_custkey", ["c_acctbal", "c_mktsegment", "c_name"]),
    "orders": ("o_orderkey", ["o_totalprice", "o_orderpriority"]),
    "lineitem": ("l_orderkey", ["l_discount", "l_returnflag", "l_shipdate"]),
    "part": ("p_partkey", ["p_retailprice", "p_type"]),
}
os.makedirs(FIX, exist_ok=True)
# Always rewrite (tiny at sf0.001) — same staleness rationale as the
# full sweep; see scripts/nulls_sweep.py.
for t in TABLES:
    dst = f"{FIX}/{t}.parquet"
    tab = pq.read_table(f"{SRC}/{t}.parquet")
    if t in NULL_PLAN:
        key, cols = NULL_PLAN[t]
        import numpy as np
        keys = tab[key].to_numpy(zero_copy_only=False)
        for i, c in enumerate(cols):
            if c not in tab.column_names:
                continue
            # disjoint residue per column — see scripts/nulls_sweep.py
            mask = pa.array(keys % 10 == i)
            arr = tab[c]
            nulled = pc.if_else(mask, pa.nulls(len(tab), arr.type), arr)
            tab = tab.set_column(tab.column_names.index(c), c, nulled)
    pq.write_table(tab, dst)

from pyspark.sql import SparkSession

spark = (
    SparkSession.builder.master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")
import __spark_entry__ as e

Q, O = e.queries(), e.oracle_sql()


def norm(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def nv(v):
        if v is None:
            return (2,)
        if isinstance(v, float):
            return (1,) if math.isnan(v) else (0, round(v, 9))
        if hasattr(v, "isoformat"):
            iso = v.isoformat()
            return (0, iso[:10] if iso.endswith("T00:00:00") else iso)
        return (0, v)

    return sorted(tuple(nv(r[i]) for i in order) for r in rows)


names = sys.argv[1:]
fails = 0
for name in names:
    row = {}
    srows = drows = None
    try:
        sdf = Q[name](spark, FIX)
        srows = norm([tuple(r) for r in sdf.collect()], sdf.columns)
    except Exception as ex:
        row["spark_err"] = f"{type(ex).__name__}: {str(ex)[:300]}"
    try:
        con = duckdb.connect()
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{FIX}/{t}.parquet'")
        res = con.sql(O[name])
        drows = norm(res.fetchall(), list(res.columns))
        con.close()
    except Exception as ex:
        row["duck_err"] = f"{type(ex).__name__}: {str(ex)[:300]}"
    if not row:
        row["match"] = srows == drows
    ok = row.get("match", False)
    fails += 0 if ok else 1
    print(name, "MATCH" if ok else "FAIL", flush=True)
    if not ok:
        print("  ", json.dumps(row, default=str)[:600])
        if srows is not None and drows is not None:
            sset = [r for r in srows if r not in drows][:3]
            dset = [r for r in drows if r not in srows][:3]
            print("   spark-only:", sset)
            print("   duck-only :", dset)
print(f"\n{len(names) - fails}/{len(names)} clean")
sys.exit(1 if fails else 0)
