"""Physical-layout determinism sweep (round-11 recon): every
oracle-backed query run TWICE in one session under contrasting
physical configurations — different shuffle parallelism and input
split sizes — and the two result sets compared exactly.

Why: a query whose RESULT depends on physical layout is broken at
100 TB even if every fixture check passes — partition counts change
with cluster size, file layout changes with compaction, and AQE
re-plans at runtime. This round's zorder audit flake was exactly this
class (reservoir-sampled range boundaries seeded by RDD id); the
r11-nulls decimal-sum work was another (double partial-merge order
flipping a rounded cent). This sweep hunts the class systematically:

  run A: spark.sql.shuffle.partitions=8,  maxPartitionBytes=128MB
  run B: spark.sql.shuffle.partitions=13, maxPartitionBytes=64KB
         (every parquet file splits into many tiny scan partitions)

Both runs execute in ONE session (runtime-settable confs), at
sf0.001. A mismatch means the query's output is partition-layout-
dependent — a real defect, not test noise; floats are compared at
the query's own output rounding (we normalize at 6dp, looser than
the 9dp oracle-compare norm, so sub-rounding ulp drift inside a
query's declared rounding does NOT count as a finding, while a
flipped rounded boundary does).

Usage: python scripts/determinism_sweep.py [name ...]
       (writes /tmp/determinism_sweep_r11.json)
"""
import sys, os, math, json
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SRC = os.environ.get("SPARK_GRAFT_DET_SF", "/root/testdata/sf0.001")

from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[8]")
         .config("spark.sql.shuffle.partitions", "8")
         .config("spark.sql.session.timeZone", "UTC").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
import __spark_entry__ as e
Q, O = e.queries(), e.oracle_sql()

CONF_A = {
    "spark.sql.shuffle.partitions": "8",
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
}
CONF_B = {
    "spark.sql.shuffle.partitions": "13",
    "spark.sql.files.maxPartitionBytes": str(64 * 1024),
}


def norm(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    def nv(v):
        if v is None: return (2,)
        if isinstance(v, float):
            if math.isnan(v): return (1,)
            if math.isinf(v): return (3, v > 0)
            return (0, round(v, 6))
        if hasattr(v, "isoformat"):
            iso = v.isoformat(); return (0, iso[:10] if iso.endswith("T00:00:00") else iso)
        return (0, v)
    return sorted(tuple(nv(r[i]) for i in order) for r in rows)


def run_with(conf: dict, name: str):
    for k, v in conf.items():
        spark.conf.set(k, v)
    sdf = Q[name](spark, SRC)
    return norm([tuple(r) for r in sdf.collect()], sdf.columns)


names = sys.argv[1:] or sorted(O)
out = {}
for name in names:
    row = {}
    try:
        a = run_with(CONF_A, name)
        b = run_with(CONF_B, name)
        row["match"] = a == b
        if not row["match"]:
            row["a"] = a[:2]; row["b"] = b[:2]; row["n"] = (len(a), len(b))
    except Exception as ex:
        row["err"] = f"{type(ex).__name__}: {str(ex)[:150]}"
    status = "MATCH" if row.get("match") else ("MISMATCH" if "match" in row else "ERR")
    print(name, status, flush=True)
    out[name] = row
bad = {k: v for k, v in out.items() if not v.get("match")}
print(f"\nTOTAL {len(out)}, deterministic {len(out)-len(bad)}, needs-triage {len(bad)}")
for k in sorted(bad):
    print(" ", k, bad[k].get("err") or "layout-dependent result")
json.dump(out, open("/tmp/determinism_sweep_r11.json", "w"), indent=1, default=str)
