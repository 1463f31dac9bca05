"""Semantic-prune scale bench: spherical k-means training + SemDeDup-style
pruning + leakage-safe holdout split, with exactness asserted at scale.

Corpus synthesis is native Spark (zero Python in the data path): n docs in
n_modes well-separated direction modes (base direction from md5(mode, dim),
per-doc jitter 0.3 from md5(doc, dim)), and every (10j, 10j+1) pair planted
as a near-duplicate (member 10j+1 = member 10j's vector + 1e-4 noise,
cosine >= 0.999999 within the pair while same-mode non-pairs sit near 0.92
— a four-nines margin to the eps=0.999 threshold).

Exactness asserted:
  * pruned count == n//10 EXACTLY (one member of every planted pair, no
    false positives from the ~n*per_cluster/2 scored in-cluster pairs);
  * within every planted pair exactly one member survives;
  * holdout_split over the prune cliques: ZERO planted pairs straddle the
    train/eval boundary (the leakage property at scale).

Run: python bench.py --suite semantic [--scale 200000]
"""

from __future__ import annotations

import time

from pyspark.sql import functions as F

SCALE = 200_000
DIM = 64
PER_CLUSTER = 100
KMEANS_ITERS = 2


def _u(seed_cols):
    """md5-derived uniform in [-1, 1] (8 hex chars -> 32-bit -> scale)."""
    h = F.conv(F.substring(F.md5(F.concat_ws("_", *seed_cols)), 1, 8), 16, 10)
    return (h.cast("double") / F.lit(float(2**32))) * 2.0 - 1.0


def synth_embeddings(spark, n: int, dim: int, n_modes: int):
    """(vec_id, embedding) with planted (10j, 10j+1) near-dup pairs."""
    base_id = F.col("id") - (F.col("id") % 10 == 1).cast("long")
    mode = (base_id % n_modes).cast("string")
    is_dup = F.col("id") % 10 == 1
    comp = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: F.round(
            _u([F.lit("m"), mode, i])
            + 0.3 * _u([F.lit("j"), base_id.cast("string"), i])
            + F.when(
                is_dup, 1e-4 * _u([F.lit("d"), F.col("id").cast("string"), i])
            ).otherwise(0.0),
            6,
        ),
    )
    return spark.range(n).select(
        F.col("id").alias("vec_id"), comp.alias("embedding")
    )


def run(n: int, cpus: int) -> dict:
    from ocr_spark.operators.corpus_clean import holdout_split
    from ocr_spark.operators.semantic import kmeans_train, semantic_prune
    from ocr_spark.session import get_spark

    spark = get_spark("bench_semantic", cpus=cpus, shuffle_partitions=cpus)
    n_modes = max(2, n // PER_CLUSTER)  # cluster size ~ PER_CLUSTER
    k = n_modes
    emb = synth_embeddings(spark, n, DIM, n_modes).persist()
    emb.count()

    t0 = time.time()
    st_km: dict = {}
    C = kmeans_train(emb, k=k, iters=KMEANS_ITERS, stats=st_km)
    t_train = time.time() - t0

    t0 = time.time()
    st_pr: dict = {}
    pruned = semantic_prune(emb, C, eps=0.999, stats=st_pr).persist()
    n_pruned = pruned.where(~F.col("is_kept")).count()
    t_prune = time.time() - t0

    # closed-form exactness: SemDeDup by construction misses a pair whose
    # members straddle a cluster boundary (k-means can place two centroids
    # near one mode; the paper's documented recall trade) — so measure the
    # straddle count FROM THE OUTPUT and assert pruned == planted-straddled
    # EXACTLY, plus exactly-one-survivor inside every co-clustered pair.
    n_pairs_planted = n // 10
    a = pruned.where(F.col("id") % 10 == 0).select(
        F.col("id").alias("pa"),
        F.col("is_kept").alias("ka"),
        F.col("ivf_list").alias("la"),
    )
    b = pruned.where(F.col("id") % 10 == 1).select(
        (F.col("id") - 1).alias("pa"),
        F.col("is_kept").alias("kb"),
        F.col("ivf_list").alias("lb"),
    )
    jp = a.join(b, "pa").persist()
    n_straddled = jp.where(F.col("la") != F.col("lb")).count()
    bad = (
        jp.where(F.col("la") == F.col("lb"))
        .where(F.col("ka").cast("int") + F.col("kb").cast("int") != 1)
        .count()
    )
    jp.unpersist()
    assert bad == 0, bad
    assert n_pruned == n_pairs_planted - n_straddled, (
        n_pruned,
        n_pairs_planted,
        n_straddled,
    )
    # the trade must stay marginal: straddles are boundary accidents
    assert n_straddled <= max(5, n_pairs_planted // 1000), n_straddled

    # leakage-safe split routed by the prune cliques
    t0 = time.time()
    docs = emb.select(F.col("vec_id").alias("doc_id"))
    cliques = pruned.where(F.col("rep").isNotNull()).select("id", "rep")
    split = holdout_split(docs, cliques, eval_ppm=100_000).persist()
    n_eval = split.where(F.col("split") == "eval").count()
    t_split = time.time() - t0
    # the leakage property: every clique lands on ONE side (straddled pairs
    # are not in the clique map — exactly the docs the dedup didn't detect)
    leaks = (
        split.join(cliques.withColumnRenamed("id", "doc_id"), "doc_id")
        .groupBy("rep")
        .agg(F.count_distinct("split").alias("ns"))
        .where(F.col("ns") > 1)
        .count()
    )
    assert leaks == 0, leaks

    split.unpersist()
    pruned.unpersist()
    emb.unpersist()

    return {
        "dim": DIM,
        "k": k,
        "kmeans_iters": st_km.get("iters_run"),
        "train_sec": round(t_train, 3),
        "prune_sec": round(t_prune, 3),
        "split_sec": round(t_split, 3),
        "pruned": n_pruned,
        "pairs_planted": n_pairs_planted,
        "pairs_straddled": n_straddled,
        "eval_docs": n_eval,
        "prune_docs_per_sec": round(n / t_prune, 1),
        "cluster_rounds": st_pr.get("rounds"),
        "cluster_algorithm": st_pr.get("algorithm"),
    }
