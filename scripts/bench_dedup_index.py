"""Incremental-dedup scale bench: corpus index build + per-batch keep/drop
vs re-running one-shot near_dedup over corpus ∪ batch (the cost the index
exists to avoid).

Corpus synthesis mirrors bench_neardup_e2e (native plan, zero Python): the
corpus is n unique md5-word docs (an already-deduped kept set, per the
index contract); the batch is n/10 docs mixing exact copies of corpus docs
(10%), 1-word near-variants of corpus docs (10%), in-batch near-dup pairs
(20% → 10% dropped) and unique filler (60%).

Correctness at scale is asserted two ways:
  * EXACT: the incremental kept set equals the batch slice of one-shot
    `near_dedup(corpus ∪ batch)` — both runs share the same deterministic
    md5 minhash family, so even band misses are identical (zero anti-join
    rows both directions).
  * closed-form with a small tolerance for LSH band misses (J≈0.91
    variants miss a band with p≈7.6e-5): kept ≈ 0.7·n_batch.

Run: python bench.py --suite dedup_index [--scale 500000]
"""

from __future__ import annotations

import os
import shutil
import tempfile
import time

from pyspark.sql import functions as F

SCALE = 500_000
WORDS = 24


def synth_corpus(spark, n: int, words: int):
    word = F.transform(
        F.sequence(F.lit(0), F.lit(words - 1)),
        lambda i: F.substring(F.md5(F.concat_ws("_", F.col("id"), i)), 1, 8),
    )
    return spark.range(n).select(
        F.col("id").alias("doc_id"), F.array_join(word, " ").alias("text")
    )


def synth_batch(spark, n_corpus: int, n_batch: int, words: int):
    """Batch ids start at n_corpus. By position p = id % 10:
      p==0 → exact copy of corpus doc id        (exact-stage drop)
      p==1 → corpus doc id, word 0 → 'variantw' (near-corpus drop)
      p==2 → unique pair base                   (kept)
      p==3 → p==2 neighbor, word 0 → 'variantw' (near-batch drop)
      else → unique                             (kept)"""
    base = spark.range(n_batch).withColumn("p", F.col("id") % 10)
    key = (
        F.when(F.col("p") <= 1, F.col("id").cast("string"))
        .when(
            F.col("p").isin(2, 3),
            F.concat(F.lit("b"), (F.col("id") - (F.col("p") - 2)).cast("string")),
        )
        .otherwise(F.concat(F.lit("u"), F.col("id").cast("string")))
    )
    is_variant = F.col("p").isin(1, 3)
    word = F.transform(
        F.sequence(F.lit(0), F.lit(words - 1)),
        lambda i: F.when(is_variant & (i == F.lit(0)), F.lit("variantw")).otherwise(
            F.substring(F.md5(F.concat_ws("_", key, i)), 1, 8)
        ),
    )
    return base.select(
        (F.col("id") + n_corpus).alias("doc_id"),
        F.array_join(word, " ").alias("text"),
    )


def run(n: int, cpus: int) -> dict:
    from ocr_spark.session import get_spark
    from ocr_spark.operators.dedup import near_dedup
    from ocr_spark.operators.dedup_index import (
        incremental_dedup,
        read_dedup_index,
        write_dedup_index,
    )

    spark = get_spark("bench_dedup_index", cpus=cpus, shuffle_partitions=cpus)
    n_batch = n // 10
    corpus = synth_corpus(spark, n, WORDS)
    batch = synth_batch(spark, n, n_batch, WORDS)
    tmp = tempfile.mkdtemp(prefix="dedup_index_bench_")
    path = os.path.join(tmp, "idx")
    try:
        t0 = time.time()
        write_dedup_index(corpus, path, n_buckets=32)
        t_build = time.time() - t0

        idx = read_dedup_index(spark, path)
        t0 = time.time()
        kept = incremental_dedup(batch, idx, threshold=0.7)
        kept = kept.persist()
        n_kept = kept.count()
        t_inc = time.time() - t0

        # LSH band misses keep a few extra near-variants (measured miss rate
        # ~2e-3 per variant with the 2-hash K-M family — higher than the
        # independent-permutation 7.5e-5; the one-shot run misses the SAME
        # docs, which the set-equality assertion below proves)
        expect = n_batch - 3 * (n_batch // 10)
        assert expect <= n_kept <= expect + max(20, n_batch // 100), (
            n_kept,
            expect,
        )

        # the run the index replaces: one-shot over the union
        t0 = time.time()
        union_kept = near_dedup(
            corpus.unionByName(batch), method="minhash", threshold=0.7
        ).persist()
        n_union = union_kept.count()
        t_full = time.time() - t0
        assert n_union == n + n_kept, (n_union, n + n_kept)

        # exact set equality on the batch slice (deterministic family ⇒
        # identical band misses): zero rows in both anti-joins
        batch_slice = union_kept.where(F.col("doc_id") >= n).select("doc_id")
        diff1 = kept.select("doc_id").exceptAll(batch_slice).count()
        diff2 = batch_slice.exceptAll(kept.select("doc_id")).count()
        assert diff1 == 0 and diff2 == 0, (diff1, diff2)
        kept.unpersist()
        union_kept.unpersist()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    return {
        "n_batch": n_batch,
        "kept": n_kept,
        "build_sec": round(t_build, 3),
        "incremental_sec": round(t_inc, 3),
        "oneshot_union_sec": round(t_full, 3),
        "speedup_vs_oneshot": round(t_full / t_inc, 2),
        "batch_docs_per_sec": round(n_batch / t_inc, 1),
    }
