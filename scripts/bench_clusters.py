"""Cluster-resolution scale bench: dedup_clusters (pairs → keep/drop labels)
over 1M-doc-scale candidate-pair graphs.

The pair graph is synthesized natively (spark.range arithmetic, zero Python)
with the shape real near-dup output has: a minority of docs sit in small
duplicate groups; the rest never appear in any pair (and correctly never
enter the cluster stage — only the near-dup SUBGRAPH is processed).

Configs:
  * groups of 4, chain-wired  (diameter 3  — typical LSH cluster)
  * groups of 16, chain+skip  (diameter ~8 — stress the fixpoint loop)
  * groups of 64, chain-wired (diameter 63 — star vs label propagation)

The exact cluster-count asserts need DUP_FRAC * n to be a multiple of 64.

Run: python bench.py --suite clusters [--scale 1000000]
"""

from __future__ import annotations

import time
import warnings

from pyspark.sql import functions as F

SCALE = 1_000_000
DUP_FRAC = 0.2
CONFIGS = (
    ("groups4_chain", 4, False, ("label",), 30),
    ("groups16_chain_skip", 16, True, ("label",), 30),
    # adversarial diameter: 64-long chains — label propagation needs 63
    # rounds (capped here to keep the bench bounded); star needs ~log2
    ("groups64_chain", 64, False, ("star", "label"), 16),
)


def chain_pairs(spark, n_dup: int, group: int):
    """(id_a, id_b) chains inside consecutive groups of `group` ids."""
    return (
        spark.range(n_dup - 1)
        .where((F.col("id") + 1) % group != 0)
        .select(F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b"))
    )


def skip_pairs(spark, n_dup: int, group: int, skip: int):
    """Extra (i, i+skip) edges within each group (densifies, cuts diameter)."""
    return (
        spark.range(n_dup - skip)
        .where((F.col("id") % group) < (F.col("id") + skip) % group)
        .select(F.col("id").alias("id_a"), (F.col("id") + skip).alias("id_b"))
    )


def run(n: int, cpus: int) -> dict:
    from ocr_spark.operators.dedup import dedup_clusters
    from ocr_spark.session import get_spark

    spark = get_spark("bench_clusters", cpus=cpus)
    n_dup = int(n * DUP_FRAC)
    results = []
    for name, group, with_skip, algorithms, max_rounds in CONFIGS:
        pairs = chain_pairs(spark, n_dup, group)
        if with_skip:
            pairs = pairs.unionByName(skip_pairs(spark, n_dup, group, 2))
        pairs = pairs.persist()
        n_pairs = pairs.count()
        expected_clusters = n_dup // group
        for algorithm in algorithms:
            stats: dict = {}
            t0 = time.perf_counter()
            with warnings.catch_warnings():
                warnings.simplefilter("ignore", RuntimeWarning)
                labels = dedup_clusters(
                    pairs, stats=stats, algorithm=algorithm, max_rounds=max_rounds
                )
                agg = labels.agg(
                    F.count("*").alias("n_nodes"),
                    F.countDistinct("rep").alias("n_clusters"),
                    F.sum((F.col("id") != F.col("rep")).cast("long")).alias("n_dropped"),
                ).collect()[0]
            wall = round(time.perf_counter() - t0, 2)
            rec = {
                "config": name,
                "algorithm": algorithm,
                "n_pairs": n_pairs,
                "n_nodes": int(agg["n_nodes"]),
                "n_clusters": int(agg["n_clusters"]),
                "n_dropped": int(agg["n_dropped"]),
                "rounds": stats.get("rounds"),
                "converged": stats.get("converged"),
                "wall_sec": wall,
            }
            if rec["converged"]:
                assert rec["n_clusters"] == expected_clusters, (rec, expected_clusters)
                assert rec["n_dropped"] == n_dup - expected_clusters
            results.append(rec)
        pairs.unpersist()
    return {"configs": results}
