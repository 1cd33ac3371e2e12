"""The one Spark-vs-DuckDB oracle comparator, its DuckDB view helper and
the degenerate-input mutators.

Every correctness gate in this repo makes the same judgement: a
registered query, run by Spark, returns the same rows as its DuckDB
oracle over the same parquet tables. `tests/test_oracle.py`, the
`tests/test_*_inputs.py` gates, `scripts/drive_verify.py` and
`scripts/sweep.py` all make it through `compare` (column names and
normalized rows, with one diff format for a mismatch), so they cannot
silently disagree about what "the same rows" means.

A mutator is a function `(pa.Table, table_name) -> pa.Table` that turns
one clean source table into its degenerate twin; `write_fixture` applies
one to every table. The per-class injection plans are data (`NULL_PLAN`,
`TS_PLAN`, `FLOAT_PLAN`, `TEXT_PLAN`, `REPLAY_PLAN`), keyed by a
deterministic residue of each table's key so a fixture is reproducible
and every corruption kind lands on its own rows. `layout` is not a
fixture: it is the pair of physical confs (`LAYOUT_CONFS`) under which
one query must return the same rows twice, Spark against Spark.
"""

from __future__ import annotations

import datetime
import math
from itertools import islice

import duckdb
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# The small source tables every fixture is derived from.
SF_SMOKE = "/root/testdata/sf0.001"

TABLES = (
    "region nation customer supplier part orders lineitem events"
    " documents embeddings"
).split()


def normalize(rows, columns, digits: int = 9) -> list[tuple]:
    """Rows as a sorted list of tuples, comparable across engines.

    Columns are ordered by name. Every value gets a tag so that one
    column mixing NULL, NaN, ±inf and real values still sorts totally
    (NULL < NaN < -inf < +inf < values; unequal tags never compare
    payloads). Floats round to `digits` places. A datetime at exactly
    midnight compares as its date: DuckDB hands a DATE column back as a
    midnight timestamp in some paths where Spark returns a date. Any
    other instant compares in full, to the microsecond. Lists, structs
    and Decimals compare as they come.
    """
    order = sorted(range(len(columns)), key=lambda i: columns[i])

    def tag(v):
        if v is None:
            return (0,)
        if isinstance(v, float):
            if math.isnan(v):
                return (1,)
            if math.isinf(v):
                return (2, v > 0)
            return (3, round(v, digits))
        if isinstance(v, (datetime.date, datetime.time)):
            iso = v.isoformat()
            return (3, iso[:10] if iso.endswith("T00:00:00") else iso)
        return (3, v)

    return sorted(tuple(tag(r[i]) for i in order) for r in rows)


def duck(sf_dir: str, tables=TABLES) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per table over `sf_dir`."""
    con = duckdb.connect()
    for t in tables:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def spark_result(sdf, digits: int = 9) -> tuple[list[str], list[tuple]]:
    """(sorted column names, normalized rows) of a Spark DataFrame."""
    return sorted(sdf.columns), normalize([tuple(r) for r in sdf.collect()], sdf.columns, digits)


def oracle_result(sf_dir: str, sql: str, tables=TABLES) -> tuple[list[str], list[tuple]]:
    """(sorted column names, normalized rows) of DuckDB `sql` over `sf_dir`."""
    con = duck(sf_dir, tables)
    try:
        res = con.sql(sql)
        return sorted(res.columns), normalize(res.fetchall(), res.columns)
    finally:
        con.close()


def diff(a, b, sides=("spark", "oracle")) -> dict:
    """What separates two results; empty when they are the same.

    Gives the row counts, both column lists when they differ, and up to
    three rows found on one side only: the sorted heads of two differing
    results are usually identical, the one-sided rows are the lead.
    """
    if a == b:
        return {}
    (acols, arows), (bcols, brows) = a, b
    out = {"rows": (len(arows), len(brows))}
    if acols != bcols:
        out["columns"] = (acols, bcols)
    out[f"{sides[0]}_only"] = list(islice((r for r in arows if r not in brows), 3))
    out[f"{sides[1]}_only"] = list(islice((r for r in brows if r not in arows), 3))
    return out


def compare(spark, name: str, sf_dir: str, tables=TABLES) -> dict:
    """`diff` of registered query `name` on `sf_dir`, Spark vs its
    DuckDB oracle; empty when they agree."""
    import __spark_entry__ as entry

    a = spark_result(entry.queries()[name](spark, sf_dir))
    return diff(a, oracle_result(sf_dir, entry.oracle_sql()[name], tables))


def write_fixture(mutator, src_dir: str, dst_dir: str) -> str:
    """Write `mutator(table, name)` of every source table into `dst_dir`.

    Always rewritten: a fixture left by an earlier run against a
    since-changed source schema must not be silently reused.
    """
    for t in TABLES:
        tab = pq.read_table(f"{src_dir}/{t}.parquet")
        pq.write_table(mutator(tab, t), f"{dst_dir}/{t}.parquet")
    return dst_dir


def _keys(tab: pa.Table, key: str):
    return tab[key].to_numpy(zero_copy_only=False)


def _set(tab: pa.Table, col: str, arr) -> pa.Table:
    return tab.set_column(tab.column_names.index(col), col, arr)


def empty(tab: pa.Table, t: str) -> pa.Table:
    """Schema-preserving zero-row copy.

    At 100 TB an empty day partition or filtered-out slice is routine,
    and the sf0.01 oracle gate never sees one. The first all-empty run
    found 41 divergences: silent NULL-vs-0 readouts,
    UNABLE_TO_INFER_SCHEMA on empty write read-backs, ANSI
    divide-by-zero, k-means fit on zero rows, CUBE/ROLLUP grouping-set
    semantics. Conventions now baked into the oracles: Spark emits NO
    grouping-set rows over an empty relation (`HAVING COUNT(*) > 0`
    mirrors it), and AQE empty-relation propagation removes joins, so
    plan-shape booleans are data-conditioned.
    """
    return tab.slice(0, 0)


def one_row(tab: pa.Table, t: str) -> pa.Table:
    """The first row of each table.

    The first one-row run found 8 more: k-means k > n, PCA zero-trace,
    a histogram dividing by a zero-width range, a recall frame dropping
    zero-neighbour queries, a rebuild ledger charging dataless slices —
    all fixed — and the SCALE_FLOOR_EXEMPT class, exempt by design.
    """
    return tab.slice(0, 1)


# Booleans that pin engine heuristics which cannot show below a minimum
# input scale: AQE's non-empty-partition ratio demotes every 1-row dim,
# a 1-row table is 1 file in 1 dir (no fragmentation), parquet skips
# dictionaries and blooms on tiny pages, and a 1-file layout cannot
# show selective file skipping. Modelling those per-version heuristics
# in SQL would be brittle; every real scale sits far above the floor.
SCALE_FLOOR_EXEMPT = frozenset({
    "aqe_broadcast_demotion_audit",
    "aqe_skew_split_audit",
    "compaction_file_audit",
    "parquet_bloom_filter_audit",
    "zorder_skip_audit",
    "zstd_encoding_audit",
})

# table -> (key column, columns to NULL); column i of a table is NULL on
# residue key % 10 == i.
NULL_PLAN = {
    "documents": ("doc_id", ["text", "lang", "source"]),
    "events": ("event_id", ["value", "props", "event_type"]),
    "customer": ("c_custkey", ["c_acctbal", "c_mktsegment", "c_name"]),
    "orders": ("o_orderkey", ["o_totalprice", "o_orderpriority"]),
    "lineitem": ("l_orderkey", ["l_discount", "l_returnflag", "l_shipdate"]),
    "part": ("p_partkey", ["p_retailprice", "p_type"]),
}


def nulls(tab: pa.Table, t: str) -> pa.Table:
    """~10% NULLs per listed non-key column, on DISJOINT residues.

    Disjoint per column because NULLing every column on the same rows
    masks cross-column hazards: a purchase row with a NULL value but a
    live event_type could never exist, which hid the asof_join
    row-mixing bug (a per-column ignorenulls carry fabricating a row
    from two purchases) for three rounds. Fix classes, now conventions:

    1. NULL ordering in windows/rank: Spark sorts NULLS FIRST
       ascending, DuckDB NULLS LAST — make placement explicit on both
       sides, or filter NULL metrics out of the rank input. Spark max_by
       returns a NULL payload where DuckDB arg_max skips NULL args: pick
       the row by key and join back for the payload in the oracle.
    2. NULL groups are not segments: filter the NULL group key on BOTH
       sides (a NULL blocking key would collapse all unreadable docs
       into one).
    3. NULL payload → NULL feature, and audits assert over real
       payloads only; money sums ride DECIMAL so partial-merge order
       cannot flip a cent.
    4. Every Python UDF/readout yields NULL features for NULL
       payloads instead of crashing.
    """
    if t not in NULL_PLAN:
        return tab
    key, cols = NULL_PLAN[t]
    keys = _keys(tab, key)
    for i, c in enumerate(cols):
        if c in tab.column_names:
            arr = tab[c]
            tab = _set(tab, c, pc.if_else(pa.array(keys % 10 == i), pa.nulls(len(tab), arr.type), arr))
    return tab


def _residues(tab: pa.Table, plan: dict, t: str, values: dict) -> pa.Table:
    """Set each planned column to `values[r]` where key % 40 == r."""
    if t not in plan:
        return tab
    key, cols = plan[t]
    keys = _keys(tab, key)
    for c in cols:
        arr = tab[c]
        for r, v in values.items():
            arr = pc.if_else(pa.array(keys % 40 == r), pa.scalar(v, arr.type), arr)
        tab = _set(tab, c, arr)
    return tab


# table -> (key column, timestamp columns)
TS_PLAN = {
    "orders": ("o_orderkey", ["o_orderdate"]),
    "lineitem": ("l_orderkey", ["l_shipdate"]),
    "events": ("event_id", ["ts"]),
}
HOSTILE_TS = {
    3: datetime.datetime(1970, 1, 1),  # zeroed epoch
    17: datetime.datetime(1899, 7, 5, 12, 0, 0),  # negative epoch, pre-1900
    31: datetime.datetime(2250, 1, 1),  # sentinel far future
}


def dates(tab: pa.Table, t: str) -> pa.Table:
    """~7.5% corrupt timestamps on three disjoint residues.

    Zeroed epoch fields, two-digit-year parses landing in 19xx and
    sentinel far-future dates are routine at scale. They stress ISO
    week/year functions, date_format vs strftime, month arithmetic,
    sessionization and watermarks across century gaps, and the pandas
    nanosecond range (1677–2262) every Arrow-batched UDF lives inside;
    the values stay inside it, so a crash is a finding about the
    engine, not the fixture. Conventions: every watermarked pipeline
    bounds event time at the source (`bound_event_time`, [1990, 2100)),
    since one far-future event advances the watermark past the live
    corpus and pre-epoch events are late even against the initial
    watermark; newest-wins keys ride DECIMAL(38,0) / HUGEINT because
    epoch-µs arithmetic overflows int64 on corrupt instants.
    """
    return _residues(tab, TS_PLAN, t, HOSTILE_TS)


# table -> (key column, double columns)
FLOAT_PLAN = {
    "customer": ("c_custkey", ["c_acctbal"]),
    "supplier": ("s_suppkey", ["s_acctbal"]),
    "part": ("p_partkey", ["p_retailprice"]),
    "orders": ("o_orderkey", ["o_totalprice"]),
    "lineitem": ("l_orderkey", ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]),
    "events": ("event_id", ["value"]),
}
UNICODE_BLOB = (  # combining marks, line/paragraph separators and a NUL
    "éèê café \U0001F600\U0001F680 你好世界 "
    "السلام שלום "
    "A\u0301\u0302\u0303 naïve \u2028line\u2029sep \x00?"
)
# table -> (key column, text column, {residue: value})
TEXT_PLAN = {
    "documents": ("doc_id", "text", {3: "", 17: " \t\n  \r ", 31: UNICODE_BLOB}),
    "events": ("event_id", "props", {3: "{broken", 17: "", 31: "[1,2"}),
}


def _text(tab: pa.Table, key: str, col: str, values: dict) -> pa.Table:
    vals = tab[col].to_pylist()
    for i, k in enumerate(_keys(tab, key)):
        vals[i] = values.get(k % 40, vals[i])
    return _set(tab, col, pa.array(vals, pa.string()))


def _hostile_vector(v, r):
    if v is None or len(v) == 0:
        return v
    if r == 3:
        return [float("nan")] + list(v[1:])
    if r == 17:
        return [0.0] * len(v)
    if r == 31 and len(v) > 1:
        return [v[0], float("inf"), *v[2:]]
    return v


def extremes(tab: pa.Table, t: str) -> pa.Table:
    """Special floats and hostile text, ~7.5% of rows, one kind per row.

    - doubles (FLOAT_PLAN): key % 40 == 3 → NaN, 17 → +Inf, 31 → -Inf;
    - embeddings: 3 → NaN at element 0, 17 → all-zero vector (breaks
      naive cosine normalization), 31 → +Inf at element 1;
    - documents.text (TEXT_PLAN): empty, whitespace-only, heavy unicode;
      documents.lang is "" at 9, and n_chars follows the new text;
    - events.props: malformed JSON, empty string, truncated array.

    Fix classes: similarity/ANN/moment operators quarantine non-finite
    (and, for cosine, zero-norm) vectors at entry; zero-token text gets
    NULL ratios and a definite 0.0 quality; non-finite measurements are
    NULLed at the query input (`finite_or_null` + DuckDB isfinite()
    twins); integrity checksums render non-finite money as its IEEE
    class token; audit comparisons are NaN-safe; malformed JSON gives
    NULL fields, oracles gated on json_valid.
    """
    tab = _residues(tab, FLOAT_PLAN, t, {3: float("nan"), 17: float("inf"), 31: float("-inf")})
    if t in TEXT_PLAN:
        tab = _text(tab, *TEXT_PLAN[t])
    if t == "documents":
        tab = _text(tab, "doc_id", "lang", {9: ""})
        nch = [None if s is None else len(s) for s in tab["text"].to_pylist()]
        tab = _set(tab, "n_chars", pa.array(nch, pa.int64()))
    if t == "embeddings":
        vecs = [_hostile_vector(v, k % 40)
                for v, k in zip(tab["embedding"].to_pylist(), _keys(tab, "vec_id"))]
        tab = _set(tab, "embedding", pa.array(vecs, pa.list_(pa.float32())))
    return tab


# table -> (key column, drifted column, drift); a replayed copy keeps
# every other column of its original.
REPLAY_PLAN = {
    "orders": ("o_orderkey", "o_totalprice", lambda v: v + 0.01),
    "lineitem": ("l_orderkey", "l_discount", lambda v: v + 0.001),
    "events": ("event_id", "value", lambda v: v + 0.5),
    "documents": ("doc_id", "text", lambda v: v + " replay"),
    "customer": ("c_custkey", "c_acctbal", lambda v: v + 0.01),
    "embeddings": ("vec_id", "embedding", lambda v: [(v[0] or 0.0) + 0.001, *v[1:]] if v else v),
}


def duplicates(tab: pa.Table, t: str) -> pa.Table:
    """Upstream replays: for key % 20 == 7 (~5% of rows) append a copy
    with the same key and a drifted payload (REPLAY_PLAN).

    At-least-once delivery (the reference's own ingest mode: no
    insertId, so redelivery duplicates) re-emits records whose payload
    drifted between attempts. Every query that assumes key-ness — 1:1
    joins, row_number tie-broken only by the key, max_by with the key
    as tie-break, dedup by the key — then has genuinely tied rows. A
    mismatch means the engines resolved a tie differently or a
    key-ness assumption broke. Conventions: identity operators take
    identity-grain input, jaccard postings take the UNION of a replayed
    doc's shingles, `resolve_replays` picks one row per key by the
    content-total order (ROW_NUMBER oracle twins), exactly-once counts
    are COUNT(DISTINCT key).

    Exempt: stream_dedup_then_rollup. dropDuplicatesWithinWatermark
    keeps the ARRIVAL-order copy of a replayed key, so a drifted
    replay makes the kept value engine-arbitrary; resolving it needs a
    version column (a MERGE-style contract) the exactly-once repair
    deliberately does not assume. Its counts stay deterministic.
    """
    if t not in REPLAY_PLAN:
        return tab
    key, col, drift = REPLAY_PLAN[t]
    add = tab.filter(pa.array(_keys(tab, key) % 20 == 7))
    if len(add) == 0:
        return tab
    vals = [None if v is None else drift(v) for v in add[col].to_pylist()]
    add = _set(add, col, pa.array(vals, add.schema.field(col).type))
    if t == "documents":
        nch = [n if s is None else len(s) for s, n in zip(vals, add["n_chars"].to_pylist())]
        add = _set(add, "n_chars", pa.array(nch, add.schema.field("n_chars").type))
    return pa.concat_tables([tab, add])


MUTATORS = {
    "nulls": nulls,
    "empty": empty,
    "one_row": one_row,
    "dates": dates,
    "extremes": extremes,
    "duplicates": duplicates,
}

# Queries a mutator's board skips by design (see each mutator).
EXEMPT = {
    "one_row": SCALE_FLOOR_EXEMPT,
    "duplicates": frozenset({"stream_dedup_then_rollup"}),
}

# Physical-layout determinism: one query run under each conf in one
# session must return the same rows. A result that depends on
# partition counts or split sizes is broken at scale even when every
# fixture check passes (partition counts follow the cluster, file
# layout follows compaction, AQE re-plans at runtime); the zorder
# audit's RDD-id-seeded range boundaries and double partial-merge
# order flipping a rounded cent were both this class. Conf B splits
# every parquet file into many tiny scan partitions.
LAYOUT_CONFS = (
    {"spark.sql.shuffle.partitions": "8",
     "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024)},
    {"spark.sql.shuffle.partitions": "13",
     "spark.sql.files.maxPartitionBytes": str(64 * 1024)},
)
# Floats compare at 6 places Spark-vs-Spark: ulp drift below a query's
# own output rounding is not a finding, a flipped rounded boundary is.
LAYOUT_DIGITS = 6


def compare_layout(spark, name: str, sf_dir: str) -> dict:
    """`diff` of registered query `name` run under each of LAYOUT_CONFS."""
    import __spark_entry__ as entry

    runs = []
    for conf in LAYOUT_CONFS:
        for k, v in conf.items():
            spark.conf.set(k, v)
        runs.append(spark_result(entry.queries()[name](spark, sf_dir), LAYOUT_DIGITS))
    return diff(*runs, sides=("conf_a", "conf_b"))
