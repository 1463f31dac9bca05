"""Near-dup scale-hardening bench: candidate-pair growth at 500k documents.

Demonstrates that the two previously scale-weak parameterizations are fixed:

  * simhash_near_pairs at the default max_hamming=3 (4 × 15-bit chunks,
    32k buckets/chunk) vs the wide max_hamming=6 radius (7 × 8-9-bit chunks)
  * embedding_near_dups with the corpus-derived plane count
    (derived_n_planes: N/2^p ≈ 64) vs the old fixed 8 planes

Signatures/embeddings are synthesized natively (xxhash64 over spark.range —
zero Python, no text pipeline) so the bench isolates the JOIN structure, the
part whose cost explodes quadratically when buckets are too coarse. Candidate
counts are computed exactly from bucket occupancy (Σ n·(n−1)/2 — the join's
output size, without materializing it), and the scale-safe variants also run
the real verified join for wall time.

Run: python bench.py --suite neardup [--scale 500000]
"""

from __future__ import annotations

import time
import warnings

from pyspark.sql import functions as F

SCALE = 500_000


def synth_sigs(spark, n: int):
    """(id, simhash): uniform 60-bit signatures from xxhash64(id)."""
    mask = (1 << 60) - 1
    return spark.range(n).select(
        F.col("id"), F.xxhash64("id").bitwiseAND(F.lit(mask)).alias("simhash")
    )


def synth_embeddings(spark, n: int, dim: int = 64):
    """(vec_id, embedding): deterministic pseudo-random unit-scale vectors,
    built natively (transform over a sequence; one xxhash per component)."""
    comp = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: (
            F.pmod(F.xxhash64(F.col("id"), i), F.lit(2_000_001)) - F.lit(1_000_000)
        )
        / F.lit(1_000_000.0),
    )
    return spark.range(n).select(F.col("id").alias("vec_id"), comp.alias("embedding"))


def pair_count_from_buckets(keyed, *cols) -> int:
    """Exact candidate-pair count: Σ n·(n−1)/2 over bucket occupancies."""
    row = (
        keyed.groupBy(*cols)
        .agg(F.count("*").alias("n"))
        .agg(F.sum(F.col("n") * (F.col("n") - 1) / 2).alias("pairs"))
        .collect()[0]
    )
    return int(row["pairs"] or 0)


def run(n: int, cpus: int) -> dict:
    from ocr_spark.operators.dedup import simhash_chunk_keys, simhash_near_pairs
    from ocr_spark.operators.similarity import (
        derived_n_planes,
        embedding_near_dups,
        hyperplanes,
        lsh_bucket_expr,
    )
    from ocr_spark.session import get_spark

    spark = get_spark("bench_neardup", cpus=cpus)
    brute = n * (n - 1) // 2
    results = []

    # --- simhash pigeonhole chunks: scale-safe vs wide radius ----------------
    sig = synth_sigs(spark, n)
    for max_hamming, run_join in ((3, True), (6, False)):
        with warnings.catch_warnings():
            warnings.simplefilter("ignore", RuntimeWarning)
            keyed = simhash_chunk_keys(sig, max_hamming=max_hamming)
            cand = pair_count_from_buckets(keyed, "chunk", "cv")
            wall = None
            if run_join:
                t0 = time.perf_counter()
                simhash_near_pairs(
                    None, max_hamming=max_hamming, sig=sig
                ).write.format("noop").mode("overwrite").save()
                wall = round(time.perf_counter() - t0, 2)
        results.append(
            {
                "op": "simhash_near_pairs",
                "max_hamming": max_hamming,
                "chunks": max_hamming + 1,
                "chunk_bits": 60 // (max_hamming + 1),
                "brute_pairs": brute,
                "candidate_pairs": cand,
                "reduction_x": round(brute / max(cand, 1), 1),
                "join_wall_sec": wall,
            }
        )

    # --- embedding sign-LSH: derived planes vs fixed 8 -----------------------
    emb = synth_embeddings(spark, n)
    v = F.col("embedding")
    derived = derived_n_planes(n)
    for n_planes, run_join in ((derived, True), (8, False)):
        planes = hyperplanes(n_planes)
        bucketed = emb.select(lsh_bucket_expr(v, planes).alias("bucket"))
        cand = pair_count_from_buckets(bucketed, "bucket")
        wall = None
        if run_join:
            t0 = time.perf_counter()
            embedding_near_dups(emb, threshold=0.95, n_planes=n_planes).write.format(
                "noop"
            ).mode("overwrite").save()
            wall = round(time.perf_counter() - t0, 2)
        results.append(
            {
                "op": "embedding_near_dups",
                "n_planes": n_planes,
                "buckets": 1 << n_planes,
                "brute_pairs": brute,
                "candidate_pairs": cand,
                "reduction_x": round(brute / max(cand, 1), 1),
                "join_wall_sec": wall,
            }
        )

    return {"configs": results}
