"""Property-based tests (SURVEY §5.4, hypothesis): totality of the
cast layer, round-trip write→read fidelity, and re-run idempotence
under arbitrary batch interleavings.

Spark-backed properties run few examples (a Spark job per example);
pure-Python properties run the default budget.
"""

from __future__ import annotations

import datetime as dt

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from facebook_ads_bigquery_etl_spark.etl.dispatch import resolve_run_date
from facebook_ads_bigquery_etl_spark.etl.runner import handle_event
from facebook_ads_bigquery_etl_spark.operators.casting import apply_schema
from facebook_ads_bigquery_etl_spark.fixtures import FB_FIXTURE
from pyspark.sql import types as T

SPARK_SETTINGS = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

TARGET = T.StructType(
    [
        T.StructField("d", T.DateType(), True),
        T.StructField("n", T.LongType(), True),
        T.StructField("x", T.DoubleType(), True),
    ]
)


# -- pure-python properties -------------------------------------------------

@given(st.dates(min_value=dt.date(2000, 1, 2), max_value=dt.date(2099, 12, 31)))
def test_resolve_run_date_backfill_roundtrip(d):
    """Any ISO backfill date survives the attributes round-trip (the
    reference's broken path, main.py:99-100)."""
    assert resolve_run_date({"date": d.isoformat()}) == d


@given(
    st.dates(min_value=dt.date(2000, 1, 2), max_value=dt.date(2099, 12, 31)),
)
def test_resolve_run_date_default_is_yesterday(today):
    assert resolve_run_date({}, today=today) == today - dt.timedelta(days=1)


# -- spark-backed properties ------------------------------------------------

@SPARK_SETTINGS
@given(
    st.lists(
        st.tuples(
            st.one_of(st.none(), st.text(max_size=12)),        # arbitrary junk for DATE
            st.one_of(st.none(), st.integers(), st.text(max_size=8)),  # junk for LONG
            st.one_of(st.none(), st.floats(allow_nan=False), st.text(max_size=8)),
        ),
        min_size=1,
        max_size=5,
    )
)
def test_cast_layer_is_total(spark, rows):
    """try_cast never throws on ANY input string — bad values become
    NULL (ANSI mode would abort; BigQuery-parity rejects rows, not
    jobs). Valid ISO dates and integer strings survive exactly."""
    as_str = [(a, str(b) if b is not None else None, str(c) if c is not None else None) for a, b, c in rows]
    df = spark.createDataFrame(as_str, "d string, n string, x string")
    out = apply_schema(df, TARGET).collect()  # must not raise
    assert len(out) == len(rows)
    import re

    for (d_in, n_in, _), r in zip(as_str, out):
        # strict ASCII integer form: isdigit() alone admits strings
        # int() rejects ('²' is "a digit"), and lstrip("+-") admits
        # multi-sign strings — hypothesis found both
        if n_in is not None and re.fullmatch(r"[+-]?[0-9]{1,18}", n_in):
            assert r["n"] == int(n_in)


@SPARK_SETTINGS
@given(
    st.lists(
        st.tuples(
            st.dates(min_value=dt.date(2025, 1, 1), max_value=dt.date(2025, 1, 10)),
            st.integers(min_value=0, max_value=10**6),
            st.floats(min_value=0, max_value=10**6, allow_nan=False).map(lambda f: round(f, 2)),
        ),
        min_size=1,
        max_size=8,
    )
)
def test_write_read_roundtrip(spark, tmp_path_factory, batch):
    """Day-partitioned write → read preserves every (date, metrics) row
    (partitioning a column out and back is lossless)."""
    out = str(tmp_path_factory.mktemp("rt"))
    df = spark.createDataFrame(batch, "d date, n long, x double")
    from facebook_ads_bigquery_etl_spark.sinks import write_day_partitioned

    write_day_partitioned(df, out, partition_field="d")
    back = spark.read.parquet(out)
    assert sorted((str(r["d"]), r["n"], r["x"]) for r in back.collect()) == sorted(
        (str(d), n, x) for d, n, x in batch
    )


_FB_DAYS = sorted({r["date_start"] for r in FB_FIXTURE})


@SPARK_SETTINGS
@given(st.lists(st.sampled_from(_FB_DAYS), min_size=1, max_size=4))
def test_pipeline_rerun_idempotence_under_interleavings(spark, tmp_path_factory, replays):
    """Re-running daily loads in ANY order/multiplicity converges to
    the last-write state per day — never duplicates (the reference's
    at-least-once gap, main.py:86-89)."""
    wh = str(tmp_path_factory.mktemp("wh"))

    def load(day):
        event = {"data": "Z2V0X2ZhY2Vib29r", "attributes": {"date": day}}
        return handle_event(spark, event, wh, transport="fixture")

    def per_day(path):
        return sorted(tuple(r) for r in spark.read.parquet(path).groupBy("date").count().collect())

    path = [load(d) for d in _FB_DAYS][-1].warehouse_path
    baseline = per_day(path)
    for day in replays:
        load(day)  # a daily re-pull of that day
    assert per_day(path) == baseline


# -- connected components vs a pure-python union-find reference -------------

_edge_lists = st.lists(
    st.tuples(st.integers(0, 30), st.integers(0, 30)),
    min_size=1,
    max_size=40,
)


def _union_find_components(edges):
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


@SPARK_SETTINGS
@given(_edge_lists)
def test_connected_components_match_union_find(spark, edges):
    """Iterative min-label propagation must agree with a classic
    union-find on arbitrary random graphs (self-loops, duplicate
    edges, multi-component, chains)."""
    from facebook_ads_bigquery_etl_spark.operators.components import (
        connected_components,
    )

    df = spark.createDataFrame(edges, "a_id long, b_id long")
    got = {r["node"]: r["comp"] for r in connected_components(df).collect()}
    assert got == _union_find_components(edges)


# -- connector grain aggregation conserves totals ---------------------------

@given(
    st.integers(1, 9),   # ads per day
    st.integers(1, 10),  # days
    st.sampled_from(["adset", "campaign", "account"]),
    st.sampled_from(["1", "3", "all_days"]),
)
@settings(max_examples=25, deadline=None)
def test_grain_aggregation_conserves_metrics(ads, days, level, inc):
    """Server-side pre-aggregation at ANY grain must conserve summed
    clicks/impressions and the number of underlying (account, day)
    cells — pure-python over the synthetic transport."""
    import datetime as _dt

    from facebook_ads_bigquery_etl_spark.sources.transport import (
        SyntheticTransport,
    )

    t = SyntheticTransport(ads_per_day=ads)
    since = "2025-06-01"
    until = (_dt.date(2025, 6, 1) + _dt.timedelta(days=days - 1)).isoformat()
    fields = ["date_start", "adset_id", "campaign_id", "clicks", "impressions", "spend"]
    fine = t.insights("acct", fields, since, until)
    coarse = t.insights("acct", fields, since, until, level=level, time_increment=inc)
    assert len(coarse) <= len(fine)
    for metric in ("clicks", "impressions"):
        assert sum(int(r[metric]) for r in coarse) == sum(int(r[metric]) for r in fine)
    assert abs(
        sum(float(r["spend"]) for r in coarse) - sum(float(r["spend"]) for r in fine)
    ) < 1e-6 * max(1.0, sum(float(r["spend"]) for r in fine))


# -- hash-bucket mixing: disjoint, exhaustive, deterministic ----------------

@given(st.lists(st.integers(0, 10**9), min_size=1, max_size=300, unique=True))
@settings(max_examples=25, deadline=None)
def test_hash_split_partitions_any_id_set(ids):
    """Pure-python twin of operators/mixing.with_split: every id lands
    in exactly one split, and the assignment is a pure function of the
    id (order/set-membership independent)."""
    import hashlib

    def split_of(i, salt="split_v1"):
        b = int(hashlib.sha256(f"{i}{salt}".encode()).hexdigest()[:4], 16)
        return "train" if b < 58982 else ("val" if b < 62259 else "test")

    whole = {i: split_of(i) for i in ids}
    assert set(whole.values()) <= {"train", "val", "test"}
    # subset invariance: membership of others never changes an id's fate
    for i in ids[:10]:
        assert split_of(i) == whole[i]


# --- integrity manifest: checksum is order/layout-invariant and
# --- collision-sensitive to any single-row change -------------------
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "c"]),
            st.integers(min_value=0, max_value=10**6),
        ),
        min_size=1,
        max_size=40,
        unique=True,
    ),
    st.integers(min_value=2, max_value=8),
)
@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_manifest_invariant_under_layout_and_sensitive_to_edits(spark, rows, nparts):
    from pyspark.sql import functions as F

    from facebook_ads_bigquery_etl_spark.operators.integrity import (
        manifest_diff,
        partition_manifest,
    )

    df = spark.createDataFrame(rows, "p string, k long")
    hashed = [F.col("k")]
    base = partition_manifest(df, ["p"], hashed)
    # any repartitioning / ordering produces the identical manifest
    reshuffled = df.repartition(nparts).sortWithinPartitions(F.col("k").desc())
    assert (
        manifest_diff(base, partition_manifest(reshuffled, ["p"], hashed)).count() == 0
    )
    # flipping one row's value flags exactly that partition
    p0, k0 = rows[0]
    edited = df.withColumn(
        "k",
        F.when((F.col("p") == p0) & (F.col("k") == k0), F.lit(k0 + 1)).otherwise(
            F.col("k")
        ),
    )
    flagged = manifest_diff(base, partition_manifest(edited, ["p"], hashed)).collect()
    # the edit may collide with an existing (p, k+1) row only if that
    # row exists — uniqueness of input rows doesn't forbid it, so allow
    # either "flagged p0" or (collision) "checksum moved elsewhere too"
    assert any(r["p"] == p0 for r in flagged) or (p0, k0 + 1) in rows


# --- multiset diff: the exceptAll counts both ways, in one action ----
_DIFF_ROW = st.tuples(
    st.sampled_from([None, 0, 1]),
    st.sampled_from([None, float("nan"), -0.0, 0.0, 1.5]),
    st.sampled_from([None, [], [1], [1, None]]),
)


@given(
    st.lists(_DIFF_ROW, max_size=12),
    st.lists(_DIFF_ROW, max_size=12),
)
@example(a=[], b=[(1, -0.0, [1])])
@example(a=[(None, float("nan"), None)] * 2, b=[])
@SPARK_SETTINGS
def test_multiset_diff_equals_except_all_both_ways(spark, a, b):
    """Duplicates keep their multiplicity, NULLs match NULLs, NaN
    matches NaN and -0.0 matches 0.0 (scalars and array elements
    alike), and either side may be empty."""
    from facebook_ads_bigquery_etl_spark.operators.integrity import multiset_diff

    schema = "k long, x double, arr array<long>"
    da, db = spark.createDataFrame(a, schema), spark.createDataFrame(b, schema)
    assert multiset_diff(da, db) == (
        da.exceptAll(db).count(),
        db.exceptAll(da).count(),
    )


# --- constraint audit: violation counts equal the injected counts ----
@given(
    st.integers(min_value=0, max_value=10),
    st.integers(min_value=0, max_value=10),
    st.integers(min_value=1, max_value=10),
)
@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_constraint_audit_counts_match_injection(spark, n_nulls, n_dups, n_clean):
    from pyspark.sql import Row

    from facebook_ads_bigquery_etl_spark.operators.expectations import (
        constraint_audit,
    )

    rows = [Row(k=i, v=float(i)) for i in range(n_clean)]
    rows += [Row(k=1000 + i, v=None) for i in range(n_nulls)]
    rows += [Row(k=0, v=0.0) for _ in range(n_dups)]  # duplicate key 0
    df = spark.createDataFrame(rows, "k long, v double")
    rep = {
        r["constraint_name"]: r["n_violations"]
        for r in constraint_audit(df, not_null=["v"], unique=[["k"]]).collect()
    }
    assert rep["not_null:v"] == n_nulls
    # every copy of key 0 beyond the first is a violation
    assert rep["unique:k"] == n_dups if n_clean > 0 else max(n_dups - 1, 0)


# -- context-window chunking matches a pure-python reference ----------------

def _py_chunks(words, size, overlap):
    # sequence(0, n-1, step) semantics: starts strictly below n
    step = size - overlap
    return [(s, words[s : s + size]) for s in range(0, len(words), step)]


@SPARK_SETTINGS
@given(
    st.lists(
        st.lists(st.text(alphabet="abcxyz", min_size=1, max_size=4),
                 min_size=0, max_size=90),
        min_size=1, max_size=6,
    ),
    st.integers(2, 40),
    st.integers(0, 30),
)
def test_chunking_matches_python_reference(spark, docs, size, overlap):
    """Every (start, length, body-hash) the operator emits must equal
    the obvious python slicing, for arbitrary token counts and any
    valid (size, overlap) pair — including docs shorter than one
    chunk and empty docs (which must vanish)."""
    import hashlib

    from hypothesis import assume

    from facebook_ads_bigquery_etl_spark.operators.text import chunk_documents

    assume(overlap < size)
    df = spark.createDataFrame(
        [(i, " ".join(w)) for i, w in enumerate(docs)], "doc_id long, text string"
    )
    got = {
        (r.doc_id, r.start_token): (r.chunk_tokens, r.chunk_sha)
        for r in chunk_documents(df, size=size, overlap=overlap).collect()
    }
    want = {}
    for i, w in enumerate(docs):
        for start, chunk in _py_chunks(w, size, overlap):
            want[(i, start)] = (
                len(chunk),
                hashlib.sha256(" ".join(chunk).encode()).hexdigest(),
            )
    assert got == want


# -- round-3 late-wave operator properties (pure python + one Spark) --------

@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=50),
            st.floats(min_value=1.0, max_value=1e5, allow_nan=False),
        ),
        min_size=1,
        max_size=200,
    )
)
def test_skyline_dominance_invariants(points):
    """quantity_price_skyline's reduction form: a point survives iff no
    other point has strictly higher quantity at an equal-or-lower
    (per-quantity-min) price. Pure-python replica of the operator's
    reduce-then-running-min plan; checks both directions of the
    dominance contract on arbitrary point sets."""
    best = {}
    for q, p in points:
        best[q] = min(p, best.get(q, float("inf")))
    kept = {
        q: p
        for q, p in best.items()
        if not any(q2 > q and p2 <= p for q2, p2 in best.items())
    }
    # 1) nothing kept is dominated
    for q, p in kept.items():
        assert not any(q2 > q and p2 <= p for q2, p2 in best.items())
    # 2) everything dropped IS dominated
    for q, p in best.items():
        if q not in kept:
            assert any(q2 > q and p2 <= p for q2, p2 in best.items())
    # 3) on a (max-quantity, min-price) frontier, surviving a LOWER
    # quantity requires a strictly LOWER price — so price strictly
    # increases along the kept frontier as quantity rises
    ordered = [kept[q] for q in sorted(kept)]
    assert all(a < b for a, b in zip(ordered, ordered[1:]))


@given(
    st.lists(
        st.floats(min_value=-1e6, max_value=1e6, allow_nan=False),
        min_size=1,
        max_size=300,
    ),
    st.floats(min_value=0.01, max_value=0.99),
)
def test_ewma_fold_matches_closed_form(xs, alpha):
    """revenue_ewma_by_nation's fold: y_t = (1−α)y_{t−1} + αx_t equals
    the closed-form weighted sum α·Σ(1−α)^(t−s)·x_s + (1−α)^(t-1)·x_1
    for any sequence — the recurrence the applyInPandas worker and the
    DuckDB list_reduce both implement."""
    acc = None
    for x in xs:
        acc = x if acc is None else (1 - alpha) * acc + alpha * x
    n = len(xs)
    closed = xs[0] * (1 - alpha) ** (n - 1) + sum(
        alpha * ((1 - alpha) ** (n - 1 - i)) * xs[i] for i in range(1, n)
    )
    assert abs(acc - closed) <= 1e-6 * max(1.0, abs(closed))


@given(st.text(min_size=0, max_size=40))
def test_portable_feature_hash_is_stable_and_in_range(s):
    """feature_hash_audit's polynomial hash: the pure-python replica of
    the Spark `aggregate` HOF / DuckDB `list_reduce` expression is
    total, deterministic, and always lands in [0, 1021)."""
    acc = 0
    for ch in s:
        acc = (acc * 31 + ord(ch)) % 1021
    acc2 = 0
    for ch in s:
        acc2 = (acc2 * 31 + ord(ch)) % 1021
    assert acc == acc2
    assert 0 <= acc < 1021


@given(
    st.lists(st.integers(min_value=0, max_value=5000), min_size=1, max_size=120),
    st.integers(min_value=1, max_value=200),
)
def test_selfjoin_cardinality_estimator_is_exact(user_ids, _seed):
    """events_selfjoin_cardinality: Σc² over per-key counts equals the
    brute-force self-join size for any key multiset."""
    from collections import Counter

    c = Counter(user_ids)
    predicted = sum(v * v for v in c.values())
    actual = sum(1 for a in user_ids for b in user_ids if a == b)
    assert predicted == actual


@given(
    st.lists(st.integers(min_value=1, max_value=10**9), min_size=1, max_size=30),
    st.floats(min_value=0.1, max_value=1.0),
)
def test_temperature_mix_weights_properties(tokens, alpha):
    """temperature_mix_weights: weights are a distribution, order is
    preserved (more tokens → no smaller weight), and α=1 reproduces
    the natural proportions exactly."""
    total = sum(tokens)
    p = [t / total for t in tokens]
    pa = [x**alpha for x in p]
    z = sum(pa)
    w = [x / z for x in pa]
    assert abs(sum(w) - 1.0) < 1e-9
    for i in range(len(tokens)):
        for j in range(len(tokens)):
            if tokens[i] > tokens[j]:
                assert w[i] >= w[j] - 1e-12
    w1 = [x / sum(p) for x in p]
    if abs(alpha - 1.0) < 1e-12:
        assert all(abs(a - b) < 1e-9 for a, b in zip(w, w1))


@given(st.lists(st.text(alphabet="abcd", min_size=1, max_size=3), min_size=2, max_size=40))
def test_bpe_pair_counts_match_naive(words):
    """bpe_merge_step's map-side pair generation == the naive scan."""
    from collections import Counter

    # operator form: pairs (w[i], w[i+1]) for i in 0..n-2
    gen = Counter((words[i], words[i + 1]) for i in range(len(words) - 1))
    naive = Counter(zip(words, words[1:]))
    assert gen == naive


@given(
    st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "c"]),          # source
            st.integers(min_value=1, max_value=200),   # n_words
            st.booleans(),                             # passes quality
            st.integers(min_value=0, max_value=5),     # content id (dups)
        ),
        min_size=1,
        max_size=60,
    )
)
def test_curation_funnel_stage_counts_are_monotone(docs):
    """curation_pipeline_report: per source, n_raw ≥ n_after_quality ≥
    n_after_dedup, and final tokens ≤ the quality-stage tokens."""
    from collections import defaultdict

    raw = defaultdict(int)
    qual = defaultdict(int)
    dedup = defaultdict(int)
    toks = defaultdict(int)
    seen_content = set()
    for i, (src, n_words, ok, content) in enumerate(docs):
        raw[src] += 1
        if ok:
            qual[src] += 1
            if content not in seen_content:
                seen_content.add(content)
                dedup[src] += 1
                toks[src] += n_words
    for s in raw:
        assert raw[s] >= qual[s] >= dedup[s]
        assert toks[s] <= sum(n for (sc, n, ok, _) in docs if sc == s and ok)


@given(
    st.lists(
        st.tuples(st.integers(0, 8), st.integers(0, 8)),
        min_size=1,
        max_size=40,
    ).filter(lambda es: any(a != b for a, b in es))
)
def test_pagerank_replica_invariants(edges):
    """nation_trade_pagerank's driver-side iteration: ranks are
    strictly positive, and total mass ≤ 1 + ulp (equality when no
    dangling nodes lose mass)."""
    edges = [(a, b) for a, b in edges if a != b]
    w = {}
    for a, b in edges:
        w[(a, b)] = w.get((a, b), 0) + 1
    nodes = sorted({a for a, _ in w} | {b for _, b in w})
    n = len(nodes)
    out = {}
    for (a, _), c in w.items():
        out[a] = out.get(a, 0) + c
    pr = {v: 1.0 / n for v in nodes}
    for _ in range(3):
        mass = {}
        for (a, b), c in w.items():
            mass[b] = mass.get(b, 0.0) + pr[a] * (c / out[a])
        pr = {v: 0.15 / n + 0.85 * mass.get(v, 0.0) for v in nodes}
    assert all(p > 0 for p in pr.values())
    assert sum(pr.values()) <= 1.0 + 1e-9
    dangling = [v for v in nodes if v not in out]
    if not dangling:
        assert abs(sum(pr.values()) - 1.0) < 1e-9


@SPARK_SETTINGS
@given(
    st.lists(
        st.text(alphabet="ab xyz\t", min_size=0, max_size=60),
        min_size=1, max_size=8,
    ),
    st.integers(1, 6),
)
def test_word_shingles_match_python_reference(spark, texts, n):
    """The let-bound shingle expression (operators/exprs.let rewrite)
    must emit exactly the distinct n-word shingles the obvious Python
    slicing produces, for arbitrary whitespace runs, empty strings and
    docs shorter than one shingle — guarding the O(L) rewrite against
    semantic drift from the original O(L²) form."""
    import re

    from pyspark.sql import functions as F

    from facebook_ads_bigquery_etl_spark.operators.dedup import word_shingles

    def py_shingles(text):
        toks = [t for t in re.split(r"\s+", text) if t]
        if n == 1:
            return sorted(set(toks))
        if len(toks) < n:
            return []
        return sorted({" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)})

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: sorted(r["sh"])
        for r in df.select("doc_id", word_shingles("text", n).alias("sh")).collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == py_shingles(t), (i, t, n)


# -- bench output contract (r14, VERDICT r13 item 2) -------------------------

def test_bench_line_tail_recoverable():
    """The driver's BENCH artifact keeps only a 2000-char tail of
    stdout. The 83-family queries map alone exceeds 2000 chars, so the
    full line cannot fit (renaming/dropping registered families is
    forbidden); what MUST hold instead is that the tail alone carries
    the headline total, the SF, and the expensive families — i.e. the
    scalar fields come last and the queries map is sorted cheapest
    first. Feeds the committed r13 per-family history through
    bench.py's own line shaping (``bench_output``, which ``main()``
    prints) and asserts tail-recoverability."""
    import json
    import os
    import re

    import bench

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "bench_full_r13.json")) as fh:
        hist = json.load(fh)["queries"]
    # every headline family present, mirroring main()'s `times` map
    times = {name: float(hist[name]) for name in bench.HEADLINE}
    out, line = bench.bench_output(times, "/data/sf0.1")
    tail = line[-2000:]
    # scalars always inside the tail, regex-recoverable
    assert re.search(r'"value":\d+(\.\d+)?,"sf":0\.1\}$', tail)
    # the tail retains the MOST EXPENSIVE families (cheapest-first
    # ordering): every family in the top half by cost must be there
    by_cost = sorted(times.items(), key=lambda kv: kv[1])
    expensive = by_cost[len(by_cost) // 2 :]
    recovered = dict(
        re.findall(r'"([a-z0-9_]+)":(\d+(?:\.\d+)?)[,}]', tail)
    )
    for name, _ in expensive:
        assert name in recovered, f"{name} lost from the 2000-char tail"
    # and the full line is itself valid JSON with the driver's keys
    parsed = json.loads(line)
    assert parsed == out
    assert set(parsed) == {"metric", "unit", "queries", "value", "sf"}
    assert parsed["unit"] == "sec" and len(parsed["queries"]) == len(times)


def test_local_checkpoint_lives_only_in_materialize():
    """A destructive checkpoint free is safe only under the invocation
    lifecycle of operators/materialize, so no other library module may
    call ``localCheckpoint(`` directly (scoped persist()/unpersist()
    pairs elsewhere are non-destructive and allowed)."""
    import pathlib

    import facebook_ads_bigquery_etl_spark as lib

    root = pathlib.Path(lib.__file__).parent
    allowed = root / "operators" / "materialize.py"
    offenders = [
        f"{path.relative_to(root)}:{n}"
        for path in sorted(root.rglob("*.py"))
        if path != allowed
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if "localCheckpoint(" in line
    ]
    assert not offenders, offenders


def test_one_width_rule_in_operators():
    """A stage runs at its input's width, and a table is widened only
    by ``dedup.spread``: no operator module may ask a frame for its
    partition count (``.getNumPartitions()`` runs the AQE shuffle-map
    stages as Spark jobs while the query is being built), and
    ``inputFiles()`` is read only inside ``spread``."""
    import ast
    import pathlib

    import facebook_ads_bigquery_etl_spark as lib

    root = pathlib.Path(lib.__file__).parent / "operators"
    offenders = []
    for path in sorted(root.rglob("*.py")):
        text = path.read_text()
        spread_lines = set()
        for node in ast.walk(ast.parse(text)):
            if isinstance(node, ast.FunctionDef) and node.name == "spread":
                spread_lines |= set(range(node.lineno, node.end_lineno + 1))
        offenders += [
            f"{path.name}:{n}"
            for n, line in enumerate(text.splitlines(), 1)
            if ".getNumPartitions()" in line
            or ("inputFiles()" in line and n not in spread_lines)
        ]
    assert not offenders, offenders


def test_library_stages_only_under_the_temp_dir():
    """Scratch paths come from ``tempfile`` (``gettempdir()``,
    ``mkdtemp``), so a run can move them with ``TMPDIR``: no library
    module may hold a ``"/tmp/`` string literal."""
    import pathlib

    import facebook_ads_bigquery_etl_spark as lib

    root = pathlib.Path(lib.__file__).parent
    offenders = [
        f"{path.relative_to(root)}:{n}"
        for path in sorted(root.rglob("*.py"))
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if "\"/tmp" in line or "'/tmp" in line
    ]
    assert not offenders, offenders


def test_query_scratch_comes_only_from_materialize():
    """Every directory a query writes is an entry of its invocation
    (``materialize.scratch``) or the one process-lived stage
    (``materialize.stage``), both under the per-process root: no
    module under plans/ or streaming/ imports ``tempfile``."""
    import ast
    import pathlib

    import facebook_ads_bigquery_etl_spark as lib

    root = pathlib.Path(lib.__file__).parent
    offenders = []
    paths = [*root.glob("plans/**/*.py"), *root.glob("streaming/**/*.py")]
    for path in sorted(paths):
        for node in ast.walk(ast.parse(path.read_text())):
            names = (
                [a.name for a in node.names] if isinstance(node, ast.Import)
                else [node.module] if isinstance(node, ast.ImportFrom) else []
            )
            if "tempfile" in names:
                offenders.append(f"{path.relative_to(root)}:{node.lineno}")
    assert not offenders, offenders


def test_caches_come_only_from_materialize():
    """Every cache and checkpoint in the library is an invocation entry
    of ``operators/materialize.py``, so a query that raises between
    building a cache and freeing it leaks nothing past the next
    invocation: no other module calls ``persist``, ``unpersist``,
    ``cache`` or ``localCheckpoint``."""
    import ast
    import pathlib

    import facebook_ads_bigquery_etl_spark as lib

    root = pathlib.Path(lib.__file__).parent
    offenders = [
        f"{path.relative_to(root)}:{node.lineno}"
        for path in sorted(root.rglob("*.py"))
        if path != root / "operators" / "materialize.py"
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in ("persist", "unpersist", "cache", "localCheckpoint")
        and not (
            isinstance(node.func.value, ast.Name)
            and node.func.value.id == "materialize"
        )
    ]
    assert not offenders, offenders


def test_plans_read_parquet_tables_only_through_the_footer_helper():
    """A bare ``spark.read.parquet(path)`` infers the schema in a Spark
    job; every table read in plans/ goes through
    ``registry.read_parquet``, which reads the footer on the driver and
    holds the one inferring fallback."""
    import ast
    import pathlib

    import facebook_ads_bigquery_etl_spark.plans as plans

    root = pathlib.Path(plans.__file__).parent
    offenders = [
        f"{path.name}:{node.lineno}"
        for path in sorted(root.glob("*.py"))
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "parquet"
        and isinstance(node.func.value, ast.Attribute)
        and node.func.value.attr == "read"
    ]
    assert not offenders, offenders


def test_etl_loads_only_through_the_connectors():
    """Every daily load reads its day through a connector
    (``etl.runner``); no module under etl/ builds a DataFrame from a
    record list with ``createDataFrame``."""
    import ast
    import pathlib

    import facebook_ads_bigquery_etl_spark.etl as etl

    root = pathlib.Path(etl.__file__).parent
    offenders = [
        f"{path.name}:{node.lineno}"
        for path in sorted(root.glob("*.py"))
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "createDataFrame"
    ]
    assert not offenders, offenders


def test_one_oracle_comparator():
    """Spark-vs-DuckDB judgements go through tests/oracle_check.py
    only, so the gates cannot silently disagree about what "the same
    rows" means. No other file in scripts/ or tests/ may carry the
    marks of a row normalizer or of a per-table view loop: a function
    named ``norm``/``normalize`` (with or without ``_``), a fold of a
    datetime into its date (an ISO ``T00:00:00`` suffix test, or
    ``date()`` then ``isoformat()``), a NaN tag next to float rounding
    on one line, or a ``CREATE VIEW`` over a formatted table name."""
    import pathlib
    import re

    repo = pathlib.Path(__file__).resolve().parent.parent
    shared = repo / "tests" / "oracle_check.py"
    pattern = re.compile(
        r"^\s*def _?norm(alize)?\("
        r"|endswith\(\s*[\"']T00:00:00"
        r"|\.date\(\)\.isoformat\(\)"
        r"|isnan\(.*round\(|round\(.*isnan\("
        r"|CREATE (OR REPLACE )?VIEW \{"
    )
    offenders = [
        f"{path.relative_to(repo)}:{n}"
        for d in ("scripts", "tests")
        for path in sorted((repo / d).rglob("*.py"))
        if path != shared
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if pattern.search(line)
    ]
    assert not offenders, offenders


def test_every_public_operator_has_a_caller():
    """Every public top-level ``def`` in operators/ is referenced (a
    name, an attribute or an import — not a string or a docstring)
    from code outside tests/: the library, bench.py, perfbench/ or
    scripts/. An entry point only tests reach is a second copy of
    behaviour nothing ships; a helper only a test needs lives in that
    test."""
    import ast
    import pathlib

    import facebook_ads_bigquery_etl_spark as lib

    repo = pathlib.Path(__file__).resolve().parent.parent
    lib_root = pathlib.Path(lib.__file__).parent
    sources = [
        *lib_root.rglob("*.py"),
        repo / "bench.py",
        *(repo / "perfbench").rglob("*.py"),
        *(repo / "scripts").rglob("*.py"),
    ]
    used = set()
    for path in sources:
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Name):
                used.add(node.id)
            elif isinstance(node, ast.Attribute):
                used.add(node.attr)
            elif isinstance(node, ast.alias):
                used.add(node.name.rsplit(".", 1)[-1])
    offenders = [
        f"{path.name}:{node.name}"
        for path in sorted((lib_root / "operators").glob("*.py"))
        for node in ast.parse(path.read_text()).body
        if isinstance(node, ast.FunctionDef)
        and not node.name.startswith("_")
        and node.name not in used
    ]
    assert not offenders, offenders


def _library_lines_outside(allowed_file: str, allowed_def: str, needle: str) -> list[str]:
    """``file:line`` of every library line holding ``needle``, except
    inside the top-level ``def allowed_def`` of ``allowed_file``."""
    import ast
    import pathlib

    import facebook_ads_bigquery_etl_spark as lib

    root = pathlib.Path(lib.__file__).parent
    offenders = []
    for path in sorted(root.rglob("*.py")):
        text = path.read_text()
        allowed = set()
        if path == root / allowed_file:
            for node in ast.parse(text).body:
                if isinstance(node, ast.FunctionDef) and node.name == allowed_def:
                    allowed = set(range(node.lineno, node.end_lineno + 1))
        offenders += [
            f"{path.relative_to(root)}:{n}"
            for n, line in enumerate(text.splitlines(), 1)
            if needle in line and n not in allowed
        ]
    return offenders


def test_one_stream_start():
    """Every stream starts through ``streaming/pipeline._start``, which
    sizes its state partitions and drains with ``availableNow``; no
    other library line may open a ``.writeStream``."""
    offenders = _library_lines_outside("streaming/pipeline.py", "_start", ".writeStream")
    assert not offenders, offenders


def test_one_conf_scope():
    """Temporary session confs are held through ``session.scoped_conf``,
    which restores a caller's value instead of erasing it; no other
    library line may ``conf.unset(`` a key."""
    offenders = _library_lines_outside("session.py", "scoped_conf", "conf.unset(")
    assert not offenders, offenders


def test_every_option_is_passed():
    """Every parameter default of a library ``def`` (methods included)
    is passed by some call in the library, bench.py,
    __spark_entry__.py, perfbench/, scripts/ or tests/: by keyword, by
    position (``self``/``cls`` not counted; a class's ``__init__`` is
    called by the class name) or through ``*args``/``**kwargs``. A call
    matches every def sharing its callee's last name. An option that no
    call passes has one value in use, and that value is a constant."""
    import ast
    import collections
    import pathlib

    import facebook_ads_bigquery_etl_spark as lib

    repo = pathlib.Path(__file__).resolve().parent.parent
    lib_root = pathlib.Path(lib.__file__).parent
    sources = [
        *lib_root.rglob("*.py"),
        repo / "bench.py",
        repo / "__spark_entry__.py",
        *(repo / "perfbench").rglob("*.py"),
        *(repo / "scripts").rglob("*.py"),
        *(repo / "tests").rglob("*.py"),
    ]
    calls = collections.defaultdict(list)
    for path in sources:
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Call):
                f = node.func
                calls[f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)].append(node)

    def passes(call: ast.Call, name: str, index: int | None) -> bool:
        return (
            any(k.arg in (None, name) for k in call.keywords)
            or any(isinstance(a, ast.Starred) for a in call.args)
            or (index is not None and index < len(call.args))
        )

    offenders = []
    for path in sorted(lib_root.rglob("*.py")):
        tree = ast.parse(path.read_text())
        owner = {c: n for n in ast.walk(tree) for c in ast.iter_child_nodes(n)}
        for node in ast.walk(tree):
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            cls = owner.get(node)
            cls = cls if isinstance(cls, ast.ClassDef) else None
            args = node.args
            positional = [a.arg for a in args.posonlyargs + args.args]
            if cls and positional[:1] in (["self"], ["cls"]):
                positional = positional[1:]
            callers = calls[node.name] + (
                calls[cls.name] if cls and node.name == "__init__" else []
            )
            options = [
                (name, i)
                for i, name in enumerate(positional)
                if i >= len(positional) - len(args.defaults)
            ] + [
                (a.arg, None)
                for a, d in zip(args.kwonlyargs, args.kw_defaults)
                if d is not None
            ]
            offenders += [
                f"{path.relative_to(lib_root)}:{node.lineno} {node.name}({name})"
                for name, i in options
                if not any(passes(c, name, i) for c in callers)
            ]
    assert not offenders, f"{len(offenders)} options no call passes: {offenders}"
