"""Exact-substring (duplicate n-gram span) removal at corpus scale.

Corpus text is synthesized natively (zero Python): each doc is a 24-word
BLOCK-SHARED prefix (all docs in the same 100-id block repeat it — the
boilerplate the operator must remove) followed by a 24-word id-unique
suffix (which must survive). So the expected outcome is ~half the corpus
words removed, verifiable by construction.

Shape under test: gram+position explode (codegen) -> ONE partial-agg
shuffle of 8-byte gram keys -> broadcast dup set -> narrow covered-position
re-agg -> patch join with the in-row indexed-lambda filter.

Run: python bench.py --suite dupspan [--scale 500000]
"""

from __future__ import annotations

import time

from pyspark.sql import functions as F

SCALE = 500_000
NGRAM = 13


def synth_docs(spark, n: int, shared_words: int = 24, unique_words: int = 24):
    blk = (F.col("id") / 100).cast("long")
    w_shared = lambda i: F.concat(
        F.lit("s"), F.pmod(F.xxhash64(blk, i), F.lit(5000)).cast("string")
    )
    w_unique = lambda i: F.concat(
        F.lit("u"), F.pmod(F.xxhash64(F.col("id"), i), F.lit(50000)).cast("string")
    )
    text = F.concat_ws(
        " ",
        F.concat_ws(" ", F.transform(F.sequence(F.lit(0), F.lit(shared_words - 1)), w_shared)),
        F.concat_ws(" ", F.transform(F.sequence(F.lit(0), F.lit(unique_words - 1)), w_unique)),
    )
    return spark.range(n).select(F.col("id").alias("doc_id"), text.alias("text"))


def run(n: int, cpus: int) -> dict:
    from ocr_spark.operators.corpus_clean import dup_span_removal
    from ocr_spark.session import get_spark

    spark = get_spark("bench_dupspan", cpus=cpus)
    docs = synth_docs(spark, n)

    t0 = time.perf_counter()
    out = dup_span_removal(docs, n=NGRAM, min_count=2)
    agg = out.agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("tokens"),
        F.sum("n_removed").alias("removed"),
        F.sum((F.col("n_removed") > 0).cast("long")).alias("affected"),
    ).collect()[0]
    wall = round(time.perf_counter() - t0, 2)
    return {
        "ngram": NGRAM,
        "affected_docs": int(agg["affected"]),
        "removed_fraction": round(agg["removed"] / agg["tokens"], 4),
        "wall_sec": wall,
        "docs_per_sec": round(n / wall, 1),
    }
