"""Null-injection sweep: sf0.001 tables with ~10% NULLs in non-key
value/text columns (deterministic by key: column i of a table nulls
residue class key % 10 == i), every oracle-backed query Spark vs
DuckDB.

DISJOINT residues per column (r13): the original plan nulled every
listed column on the SAME rows (key % 10 == 0), which structurally
masks cross-column hazards — a purchase row with NULL value but a
live event_type could never exist, so the asof_join row-mixing bug
(per-column ignorenulls carry fabricating a row from two purchases)
was invisible to this gate for three rounds. With per-column residue
classes every "one field NULL, the rest live" shape exists in the
fixture.

History: round-10 RECON found 22 findings in four classes (228/250
clean); the 6 class-4 CRASHES (zlib/decoders/float(None) on NULL
payloads) were fixed at the end of r10, and round 11 fixed the rest —
250/250 clean. The fix classes, now conventions for new queries:

1. NULL ORDERING in windows/rank: Spark sorts NULLS FIRST ascending,
   DuckDB NULLS LAST. Either make placement EXPLICIT on both sides
   (order_rank_in_customer_history) or filter NULL metrics out of the
   rank input where the semantics say "rank priced rows"
   (order_value_quartiles). max_by/arg_max differ too: Spark max_by
   returns a NULL payload, DuckDB arg_max SKIPS NULL args — pick the
   row by key and join back for the payload in the oracle
   (latest_order_per_customer).
2. NULL GROUPS are not segments: filter the NULL group key on BOTH
   sides — the engine's join-back-on-group-key shape drops it
   silently anyway (feature_hash_audit, lang_quality_geomean,
   price_percentiles_approx, kmv_distinct_users,
   manifest_repair_diff, source_priority_dedup — where a NULL
   blocking key would have COLLAPSED all unreadable docs into one).
3. Audit booleans and value drift: NULL payload → NULL feature, and
   audits assert over REAL payloads only (doc_fingerprints,
   csv_quarantine_audit serializes NULL as an explicit empty field);
   money sums ride DECIMAL so partial-merge order cannot flip a cent
   (incremental_monthly_revenue, stream_fx_enrich); plan-shape /
   layout booleans are scale-gated where the fixture sits below the
   physical floor (stats_staleness_audit, zorder_skip_audit — both
   were scale floors surfaced by this fixture, not nulls effects).
4. CRASHES: every Python UDF/readout yields NULL features for NULL
   payloads, map-only (compression_ratio_signal, audio_level_stats,
   multimodal_features, video_frame_sample, stream_dimension_merge,
   stream_rocksdb_changelog_restart).

Fast regression subset: tests/test_nulls_inputs.py (permanent gate).

Usage: python scripts/nulls_sweep.py  (writes /tmp/nulls_sweep_r10.json)
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
# (table, key_col, cols_to_null)
NULL_PLAN = {
    "documents": ("doc_id", ["text", "lang", "source"]),
    "events": ("event_id", ["value", "props", "event_type"]),
    "customer": ("c_custkey", ["c_acctbal", "c_mktsegment", "c_name"]),
    "orders": ("o_orderkey", ["o_totalprice", "o_orderpriority"]),
    "lineitem": ("l_orderkey", ["l_discount", "l_returnflag", "l_shipdate"]),
    "part": ("p_partkey", ["p_retailprice", "p_type"]),
}
os.makedirs(FIX, exist_ok=True)
# Always rewrite (tiny at sf0.001): a fixture left by an earlier run
# against a since-changed source schema must not be silently reused.
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
            # residue class i: 10% of rows per column, DISJOINT
            # across columns (see module docstring)
            mask = pa.array(keys % 10 == i)
            arr = tab[c]
            nulled = pc.if_else(mask, pa.nulls(len(tab), arr.type), arr)
            tab = tab.set_column(tab.column_names.index(c), c, nulled)
    pq.write_table(tab, dst)

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
        if isinstance(v, float): return (1,) if math.isnan(v) else (0, round(v, 9))
        if hasattr(v, "isoformat"):
            iso = v.isoformat(); return (0, iso[:10] if iso.endswith("T00:00:00") else iso)
        return (0, v)
    return sorted(tuple(nv(r[i]) for i in order) for r in rows)

out = {}
for name in sorted(O):
    row = {}
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
json.dump(out, open("/tmp/nulls_sweep_r10.json", "w"), indent=1, default=str)
