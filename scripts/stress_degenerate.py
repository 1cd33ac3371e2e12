"""Degenerate-bucket stress probe for the bucketed near-dup algebras
(round-8: the round-7 verdict's watch item on the bucketed candidate tail,
now `operators/similarity._bucket_candidates`).

The adversarial input a dedup operator MUST survive at 100 TB is a
corpus dominated by ONE giant near-dup cluster: every member lands in
the same LSH cell in every table (identical vectors cannot be
separated by any hyperplane), so one bucket holds the majority of the
corpus. Before the round-8 hardening that meant a k×k similarity
matrix per bucket per table (k = cluster size — 800 MB per task at
k = 10 000, unbounded beyond) and an unconditional broadcast of a
candidate set that is quadratic in k. Both OOM an executor.

After the hardening:
  * buckets above `_DUP_BUCKET_CAP` (4096) split pair-preservingly
    into chunk-pair task groups — matmul sides stay ≤ cap;
  * the matmul is row-block-tiled (`_DUP_TILE_ROWS` = 1024) — peak
    allocation per task is one TILE×CAP float block (32 MB), FLAT in
    cluster size;
  * the candidate rejoin carries no broadcast hint — AQE keeps a
    shuffle join when the pair set is too large to broadcast.

The probe synthesizes a corpus with 75% of vectors in one near-dup
cluster (cluster pairwise cosine ≈ 1.0; random-vs-random cosine at
d=64 is ~N(0, 1/64), so threshold 0.9 admits NOTHING else) and checks
the operator's output pair count equals C(cluster, 2) EXACTLY — a
single pair lost to the split, or a single false admit, breaks the
equality. The quadratic OUTPUT (~18 M pairs) is inherent to the
operator's semantics; the point is that no single task ever holds
more than one tile of it.

Run from the repo root:  python scripts/stress_degenerate.py
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np  # noqa: E402

N_CLUSTER = int(os.environ.get("STRESS_DEGEN_CLUSTER", "6000"))
N_NOISE = int(os.environ.get("STRESS_DEGEN_NOISE", "2000"))
DIM = 64


def synthesize(spark):
    rng = np.random.default_rng(7)
    center = rng.normal(size=DIM)
    cluster = center[None, :] + rng.normal(scale=1e-4, size=(N_CLUSTER, DIM))
    noise = rng.normal(size=(N_NOISE, DIM))
    rows = [
        (int(i), v.tolist())
        for i, v in enumerate(np.concatenate([cluster, noise]))
    ]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).repartition(32)


def main() -> None:
    from facebook_ads_bigquery_etl_spark.operators import similarity as sim
    from facebook_ads_bigquery_etl_spark.session import get_spark

    spark = get_spark("stress-degenerate")
    spark.sparkContext.setLogLevel("ERROR")
    df = synthesize(spark)
    df.count()  # materialize input before timing

    expected = N_CLUSTER * (N_CLUSTER - 1) // 2
    results = {}
    for label, cap in (
        ("default_cap", sim._DUP_BUCKET_CAP),
        ("punitive_cap_512", 512),
    ):
        t0 = time.perf_counter()
        got = sim.embedding_dup_pairs(
            df, 0.9, exact=False, bucket_cap=cap
        ).count()
        wall = time.perf_counter() - t0
        results[label] = {
            "bucket_cap": cap,
            "pairs_expected": expected,
            "pairs_emitted": int(got),
            "exact_match": bool(got == expected),
            "wall_sec": round(wall, 2),
        }
        print(label, results[label], flush=True)
        assert got == expected, (label, got, expected)
    print(
        json.dumps(
            {
                "n_cluster": N_CLUSTER,
                "n_noise": N_NOISE,
                "dim": DIM,
                "cluster_share": round(N_CLUSTER / (N_CLUSTER + N_NOISE), 3),
                "tile_rows": sim._DUP_TILE_ROWS,
                "peak_tile_mb_per_task": round(
                    sim._DUP_TILE_ROWS * sim._DUP_BUCKET_CAP * 8 / 2**20, 1
                ),
                "unhardened_matrix_mb_per_task": round(
                    N_CLUSTER * N_CLUSTER * 8 / 2**20, 1
                ),
                "results": results,
            }
        )
    )


if __name__ == "__main__":
    main()
