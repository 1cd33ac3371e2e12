"""Primary-key-violation sweep (round-11 recon): upstream REPLAY rows
— same primary key, drifted payload — injected into every keyed
table, every oracle-backed query Spark vs DuckDB.

Why: at-least-once delivery (the reference's own ingest mode — no
insertId, so redelivery duplicates) routinely re-emits a record whose
payload drifted between attempts (a late-updated metric, a re-encoded
body). Every query that implicitly assumes key-ness — 1:1 joins,
row_number tie-broken only by the key, max_by with the key as the
tie-break, dedup BY the key — now has genuinely tied rows whose
winner is engine- or layout-arbitrary.

Injection plan (deterministic): for key % 20 == 7 (~5% of rows),
append a REPLAY copy with the same key and a drifted payload:

- orders:   o_totalprice + 0.01, o_orderpriority unchanged
- lineitem: (l_orderkey, l_linenumber) replayed, l_discount + 0.001
- events:   same event_id, value + 0.5
- documents: same doc_id, text || ' replay'
- customer: same c_custkey, c_acctbal + 0.01
- embeddings: same vec_id, first element + 0.001

A MISMATCH means the two engines resolved a tie differently (a
non-total order) or a key-ness assumption broke; an ERR means a
crash. Both are findings. Note some queries will LEGITIMATELY differ
from their pre-duplicate results — that is not what this sweep
measures; it measures whether the two engines AGREE on the same
duplicated input.

Status (round 11): recon found 21 findings; 20 fixed via the
conventions in SURVEY §7h-quater (identity-grain operators, UNION
shingle algebra, resolve_replays at keyed-query ingest with
ROW_NUMBER oracle twins, COUNT(DISTINCT key) exactly-once counts).
ONE DOCUMENTED EXEMPTION remains: stream_dedup_then_rollup — its
dropDuplicatesWithinWatermark keeps the ARRIVAL-ORDER copy of a
replayed key, so a payload-drifted replay makes the kept VALUE
engine-arbitrary; deterministic resolution of drifted replays needs a
version column (a MERGE-style upsert contract), which the
exactly-once repair deliberately does not assume. Its counts are
deterministic (covered by stream_dedup_ingest); only the value sum is
not. Expected sweep result: 249/250 clean + this exemption.

Usage: python scripts/duplicates_sweep.py [name ...]
       (writes /tmp/duplicates_sweep_r11.json)
"""
import sys, os, math, json
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

FIX = "/tmp/duplicates_fixture_r11"
SRC = "/root/testdata/sf0.001"
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

os.makedirs(FIX, exist_ok=True)
for t in TABLES:
    tab = pq.read_table(f"{SRC}/{t}.parquet")
    df = tab.to_pydict()
    n = len(tab)
    extra = {c: [] for c in tab.column_names}

    def replay(i):
        for c in tab.column_names:
            extra[c].append(df[c][i])

    if t == "orders":
        for i in range(n):
            if df["o_orderkey"][i] % 20 == 7:
                replay(i)
                if extra["o_totalprice"][-1] is not None:
                    extra["o_totalprice"][-1] += 0.01
    elif t == "lineitem":
        for i in range(n):
            if df["l_orderkey"][i] % 20 == 7:
                replay(i)
                if extra["l_discount"][-1] is not None:
                    extra["l_discount"][-1] += 0.001
    elif t == "events":
        for i in range(n):
            if df["event_id"][i] % 20 == 7:
                replay(i)
                if extra["value"][-1] is not None:
                    extra["value"][-1] += 0.5
    elif t == "documents":
        for i in range(n):
            if df["doc_id"][i] % 20 == 7:
                replay(i)
                if extra["text"][-1] is not None:
                    extra["text"][-1] += " replay"
                    extra["n_chars"][-1] = len(extra["text"][-1])
    elif t == "customer":
        for i in range(n):
            if df["c_custkey"][i] % 20 == 7:
                replay(i)
                if extra["c_acctbal"][-1] is not None:
                    extra["c_acctbal"][-1] += 0.01
    elif t == "embeddings":
        for i in range(n):
            if df["vec_id"][i] % 20 == 7:
                replay(i)
                v = extra["embedding"][-1]
                if v:
                    v = list(v)
                    v[0] = (v[0] or 0.0) + 0.001
                    extra["embedding"][-1] = v
    if extra[tab.column_names[0]]:
        add = pa.table(
            {c: pa.array(extra[c], tab.schema.field(c).type) for c in tab.column_names}
        )
        tab = pa.concat_tables([tab, add])
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
json.dump(out, open("/tmp/duplicates_sweep_r11.json", "w"), indent=1, default=str)
