"""END-TO-END near-dedup bench: the complete keep/drop pipeline over real
text at corpus scale — shingle → SimHash signatures → pigeonhole candidate
join → cluster resolution → left_anti keep — one wall-clock number for the
operator a training-data build actually calls (`near_dedup`).

The corpus is synthesized natively (zero Python in the plan): every id with
id % 20 < 4 shares its text with its 4-doc group (text_key = id - id % 20),
the rest are unique — 20% of docs sit in groups of 4, so the exact expected
outcome is drops = 3 per group = 15% of the corpus, pairs = 6 per group.
Words are md5-derived 8-char tokens seeded by (text_key, word index), so
distinct groups get ~independent 60-bit signatures (cross-group hamming ≈ 30,
far above the max_hamming=3 radius — no false merges at any n).

Run: python bench.py --suite neardup_e2e [--scale 500000]
"""

from __future__ import annotations

import time

from pyspark.sql import functions as F

SCALE = 500_000
WORDS = 24


def synth_docs(spark, n: int, words: int, group: int = 20, dup_span: int = 4):
    """(doc_id, text): ids with id%group < dup_span share their group's text."""
    base = spark.range(n).withColumn(
        "text_key",
        F.when(
            F.col("id") % group < dup_span, F.col("id") - F.col("id") % group
        ).otherwise(F.col("id")),
    )
    word = F.transform(
        F.sequence(F.lit(0), F.lit(words - 1)),
        lambda i: F.substring(
            F.md5(F.concat_ws("_", F.col("text_key"), i)), 1, 8
        ),
    )
    return base.select(
        F.col("id").alias("doc_id"),
        F.array_join(word, " ").alias("text"),
    )


def run(n: int, cpus: int) -> dict:
    from ocr_spark.operators.dedup import near_dedup
    from ocr_spark.session import get_spark

    spark = get_spark("bench_neardup_e2e", cpus=cpus)
    docs = synth_docs(spark, n, WORDS).persist()
    docs.count()  # materialize the corpus outside the timed window

    n_groups = n // 20
    expected_kept = n - 3 * n_groups
    stats: dict = {}
    t0 = time.perf_counter()
    kept = near_dedup(docs, method="simhash", max_hamming=3, stats=stats)
    n_kept = kept.count()
    wall = round(time.perf_counter() - t0, 2)
    docs.unpersist()
    rec = {
        "method": "simhash",
        "words_per_doc": WORDS,
        "n_kept": n_kept,
        "expected_kept": expected_kept,
        "cluster_algorithm": stats.get("algorithm"),
        "cluster_rounds": stats.get("rounds"),
        "wall_sec": wall,
        "docs_per_sec": round(n / wall, 1),
    }
    assert n_kept == expected_kept, rec
    return rec
