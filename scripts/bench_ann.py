"""ANN top-k at corpus scale: exact cosine vs IVF vs IVF-PQ over N synthetic
64-dim vectors (native xxhash synthesis — zero Python in the corpus build).

Shape under test: all three are single-scan, shuffle-free plans ending in a
TakeOrdered tree-reduce; IVF prunes WORK (scores only probed lists), IVF-PQ
additionally prunes MEMORY (8 uint8 codes replace 64 floats at ADC time —
at 100 TB of embeddings that is the difference between an index that fits
executor memory and one that doesn't). Codebooks train driver-side on a
bounded corpus sample (one .limit() job), like a real offline index build.

Run: python bench.py --suite ann [--scale 1000000]
"""

from __future__ import annotations

import time

import numpy as np
from pyspark.sql import functions as F

SCALE = 1_000_000
DIM = 64
K = 10
NPROBE = 4
N_CENTROIDS = 16


def synth_emb(spark, n: int):
    v = F.transform(
        F.sequence(F.lit(0), F.lit(DIM - 1)),
        lambda j: (F.pmod(F.xxhash64(F.col("id"), j), F.lit(2001)) - 1000).cast(
            "double"
        )
        / 1000.0,
    )
    return spark.range(n).select(F.col("id").alias("vec_id"), v.alias("embedding"))


def run(n: int, cpus: int) -> dict:
    from ocr_spark.operators.similarity import (
        cosine_topk,
        ivf_topk,
        ivfpq_topk,
        pq_train_residual,
    )
    from ocr_spark.session import get_spark

    spark = get_spark("bench_ann", cpus=cpus)
    base = synth_emb(spark, n)

    sample = np.array(
        [r.embedding for r in base.limit(N_CENTROIDS * 256 + 1).collect()]
    )
    qv_np = sample[0]
    qv = [float(x) for x in qv_np]
    centroids = sample[1 : N_CENTROIDS + 1].round(6)
    books = pq_train_residual(sample, centroids, m_sub=8, n_codes=16)

    # plant k-1 separable near-neighbors of the query (uniform noise has
    # only near-tie neighbors, which makes recall@k meaningless)
    rs = np.random.RandomState(9)
    planted = [
        (int(n + i), [float(x) for x in (qv_np + 0.05 * rs.randn(DIM)).round(6)])
        for i in range(K - 1)
    ]
    emb = base.unionByName(
        spark.createDataFrame(planted, "vec_id long, embedding array<double>")
    )

    def timed(fn):
        fn().collect()  # warm-up: Python workers, JIT, shuffle files
        t0 = time.perf_counter()
        rows = fn().collect()
        return round(time.perf_counter() - t0, 2), [r[0] for r in rows]

    exact_s, exact_ids = timed(lambda: cosine_topk(emb, qv, k=K))
    ivf_s, ivf_ids = timed(lambda: ivf_topk(emb, qv, centroids, k=K, nprobe=NPROBE))
    pq_s, pq_ids = timed(
        lambda: ivfpq_topk(emb, qv, centroids, books, k=K, nprobe=NPROBE)
    )
    return {
        "dim": DIM,
        "k": K,
        "nprobe": NPROBE,
        "exact_sec": exact_s,
        "ivf_sec": ivf_s,
        "ivfpq_sec": pq_s,
        "ivf_recall_vs_exact": round(len(set(ivf_ids) & set(exact_ids)) / K, 2),
        "ivfpq_recall_vs_exact": round(len(set(pq_ids) & set(exact_ids)) / K, 2),
        "ivfpq_vectors_per_sec": round(n / pq_s, 1),
    }
