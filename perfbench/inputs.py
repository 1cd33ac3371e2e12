"""Seeded input generation for the benchmark.

Writes the tables the benchmark's queries read (``orders`` with its
customer/nation/region dimensions, ``events`` and ``documents``) as
one parquet file each, with the column names, types and value domains
the query library expects. Everything derives from
``numpy.random.default_rng(seed)``, so the same seed and scale factor
give byte-identical inputs.

``sf`` scales the row counts linearly (sf0.1 = 150k orders rows);
small tables keep a floor so smoke-scale runs still join and group.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = "region nation customer orders events documents".split()

_WORDS = np.array(
    (
        "a agg batch big column customer data fast filter group hash join key "
        "line merge order part query row scan slow small sort spark stream "
        "table the value vector window"
    ).split()
)
_LANGS = np.array(["en", "de", "es", "fr", "zh"])
_LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")
_DAY_US = 86_400_000_000


def _rows(sf: float, per_sf: int, floor: int) -> int:
    return max(floor, int(round(per_sf * sf)))


def _days(rng, lo: int, hi: int, n: int) -> np.ndarray:
    """``n`` midnight timestamps ``lo``..``hi`` days after 1995-01-01."""
    return _EPOCH_1995 + rng.integers(lo, hi, n).astype("timedelta64[D]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100), n) / 100.0


def _pick(rng, values, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values)[rng.choice(len(values), n, p=p)])


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def build_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust = _rows(sf, 150_000, 150)
    n_ord = _rows(sf, 1_500_000, 1_500)
    n_ev = _rows(sf, 1_000_000, 1_000)
    n_doc = _rows(sf, 50_000, 500)
    i32, i64 = pa.int32(), pa.int64()

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), i32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), i64),
            "c_name": _names("Customer", n_cust),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(
                rng, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
            ),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), i64),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": pa.array(_days(rng, 0, 2404, n_ord)),
            "o_orderpriority": _pick(
                rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
            ),
        }
    )
    ts = np.sort(rng.integers(0, 30 * _DAY_US, n_ev))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), i64),
            "ts": pa.array(_EPOCH_2024 + ts.astype("timedelta64[us]")),
            "user_id": pa.array(rng.integers(0, max(15, n_ev // 66), n_ev), i64),
            "event_type": _pick(rng, ["click", "error", "purchase", "signup", "view"], n_ev),
            "value": np.round(rng.exponential(45.0, n_ev), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
        }
    )
    t["documents"] = _documents(rng, n_doc)
    return t


def _documents(rng, n: int) -> pa.Table:
    """Bag-of-words documents; one in twenty is an earlier document
    plus a trailing ``dup`` token, so near-duplicate detection has
    work to find."""
    texts: list[str] = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(_WORDS[rng.integers(0, len(_WORDS), rng.integers(10, 101))]))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": _pick(rng, _LANGS, n, p=_LANG_P),
            "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n)]),
            "n_chars": pa.array([len(x) for x in texts], pa.int64()),
        }
    )


def write_tables(out_dir: str, seed: int, sf: float) -> str:
    """Write every table under ``out_dir`` and return it."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in build_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


def row_counts(out_dir: str) -> dict[str, int]:
    """Row count of every table written under ``out_dir``."""
    return {
        t: pq.ParquetFile(os.path.join(out_dir, f"{t}.parquet")).metadata.num_rows
        for t in TABLES
    }
