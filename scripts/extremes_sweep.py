"""Extreme-value sweep (round-11 recon): the dirty-data class AFTER
nulls — special floats and hostile text — on every oracle-backed query,
Spark vs DuckDB.

At 100 TB these are routine, not hypothetical: a NaN/Inf produced by an
upstream division, a corrupt embedding (zero vector, NaN element), an
empty or whitespace-only document, a malformed JSON props blob. The
empty/one-row/nulls sweeps (rounds 10-11) each found real divergences
the sf0.01 driver gate could never see; this is the same playbook on
the next class.

Injection plan (deterministic by key, ~7.5% of rows hostile, three
disjoint residues so each row carries exactly one corruption kind):

- double columns (c_acctbal, s_acctbal, p_retailprice, o_totalprice,
  l_quantity/l_extendedprice/l_discount/l_tax, events.value):
  key % 40 == 3 -> NaN, == 17 -> +Inf, == 31 -> -Inf.
- embeddings.embedding: vec_id % 40 == 3 -> NaN element at position 0,
  == 17 -> all-zero vector (breaks naive cosine normalization),
  == 31 -> +Inf element at position 1.
- documents.text: doc_id % 40 == 3 -> "" (empty), == 17 ->
  whitespace-only, == 31 -> heavy unicode (emoji + CJK + combining +
  RTL) -- documents.lang additionally "" at doc_id % 40 == 9.
- events.props: event_id % 40 == 3 -> "{broken" (malformed JSON),
  == 17 -> "" (empty string, not NULL), == 31 -> "[1,2" (truncated).

Engine-vs-oracle agreement is the bar, same as nulls_sweep: a MISMATCH
means the two engines disagree on the same hostile input; an ERR means
one of them crashed. Both are findings.

Usage: python scripts/extremes_sweep.py [name ...]
       (writes /tmp/extremes_sweep_r11.json)
"""
import sys, os, math, json
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pyarrow.compute as pc

FIX = "/tmp/extremes_fixture_r11"
SRC = "/root/testdata/sf0.001"
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

FLOAT_PLAN = {
    "customer": ("c_custkey", ["c_acctbal"]),
    "supplier": ("s_suppkey", ["s_acctbal"]),
    "part": ("p_partkey", ["p_retailprice"]),
    "orders": ("o_orderkey", ["o_totalprice"]),
    "lineitem": ("l_orderkey", ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]),
    "events": ("event_id", ["value"]),
}
UNICODE_BLOB = (
    "éèê café \U0001F600\U0001F680 你好世界 "
    "السلام שלום "
    "Á̂̃ naïve  line sep \x00?"
)

os.makedirs(FIX, exist_ok=True)
for t in TABLES:
    tab = pq.read_table(f"{SRC}/{t}.parquet")
    if t in FLOAT_PLAN:
        key, cols = FLOAT_PLAN[t]
        keys = tab[key].to_numpy(zero_copy_only=False)
        m_nan = pa.array(keys % 40 == 3)
        m_pinf = pa.array(keys % 40 == 17)
        m_ninf = pa.array(keys % 40 == 31)
        for c in cols:
            arr = tab[c]
            arr = pc.if_else(m_nan, pa.scalar(float("nan"), arr.type), arr)
            arr = pc.if_else(m_pinf, pa.scalar(float("inf"), arr.type), arr)
            arr = pc.if_else(m_ninf, pa.scalar(float("-inf"), arr.type), arr)
            tab = tab.set_column(tab.column_names.index(c), c, arr)
    if t == "documents":
        keys = tab["doc_id"].to_numpy(zero_copy_only=False)
        txt = tab["text"].to_pylist()
        lang = tab["lang"].to_pylist()
        for i, k in enumerate(keys):
            r = k % 40
            if r == 3:
                txt[i] = ""
            elif r == 17:
                txt[i] = " \t\n  \r "
            elif r == 31:
                txt[i] = UNICODE_BLOB
            if r == 9:
                lang[i] = ""
        tab = tab.set_column(tab.column_names.index("text"), "text", pa.array(txt, pa.string()))
        tab = tab.set_column(tab.column_names.index("lang"), "lang", pa.array(lang, pa.string()))
        # keep n_chars consistent with the rewritten text (it is derived)
        nch = [len(s) if s is not None else None for s in txt]
        tab = tab.set_column(tab.column_names.index("n_chars"), "n_chars", pa.array(nch, pa.int64()))
    if t == "events":
        keys = tab["event_id"].to_numpy(zero_copy_only=False)
        props = tab["props"].to_pylist()
        for i, k in enumerate(keys):
            r = k % 40
            if r == 3:
                props[i] = "{broken"
            elif r == 17:
                props[i] = ""
            elif r == 31:
                props[i] = "[1,2"
        tab = tab.set_column(tab.column_names.index("props"), "props", pa.array(props, pa.string()))
    if t == "embeddings":
        keys = tab["vec_id"].to_numpy(zero_copy_only=False)
        vecs = tab["embedding"].to_pylist()
        for i, k in enumerate(keys):
            r = k % 40
            if vecs[i] is None or len(vecs[i]) == 0:
                continue
            if r == 3:
                vecs[i] = [float("nan")] + list(vecs[i][1:])
            elif r == 17:
                vecs[i] = [0.0] * len(vecs[i])
            elif r == 31 and len(vecs[i]) > 1:
                v = list(vecs[i]); v[1] = float("inf"); vecs[i] = v
        tab = tab.set_column(tab.column_names.index("embedding"), "embedding",
                             pa.array(vecs, pa.list_(pa.float32())))
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
json.dump(out, open("/tmp/extremes_sweep_r11.json", "w"), indent=1, default=str)
