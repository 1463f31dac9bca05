"""Benchmark-contamination sweep at corpus scale: the standard 13-gram
decontamination pass over 1M synthetic docs, in two regimes.

Corpus text is synthesized natively (zero Python): 48 words per doc drawn
so that docs inside the same 100-id block share their word sequence — the
corpus genuinely contains eval-overlapping text, so the join produces real
hits rather than an empty fast path. The corpus side excludes the eval ids
(standard leave-out).

- benchmark eval (`mod`): eval = id % 1000 == 0, a 1k-doc set at 1M. Every
  eval doc's block overlaps, so a prefilter could prune nothing; measured
  with `contamination` alone. Shape: corpus → 8-byte 13-gram hashes
  (explode + distinct) → equi-join against the FORCE-BROADCAST eval hashes
  (the corpus never shuffles for the join) → one groupBy(doc_id).
- big eval (`blocks`): eval = even ids of every 10th 100-id block, a
  100k-doc set at 1M, of which only 1/10 of the corpus blocks overlap — the
  shape where a prefilter kills most corpus shingles map-side. Measured with
  both `contamination` and `contamination_bloom` (bitmap prefilter + exact
  verify), whose outputs must be identical.

Each regime's contaminated-doc and shared-shingle counts are asserted
against the construction.

Run: python bench.py --suite contamination [--scale 1000000]
"""

from __future__ import annotations

import time

from pyspark.sql import functions as F

SCALE = 1_000_000
NGRAM = 13
WORDS = 48
BLOCK = 100
# benchmark eval: id % EVAL_MOD == 0; big eval: even ids of every
# BIG_EVAL_MOD-th block
EVAL_MOD = 1000
BIG_EVAL_MOD = 10


def synth_docs(spark, n: int, words_per_doc: int = WORDS):
    """(doc_id, text): docs in the same 100-id block share the sequence."""
    word = lambda i: F.concat(
        F.lit("w"),
        F.pmod(F.xxhash64((F.col("id") / BLOCK).cast("long"), i), F.lit(5000)).cast("string"),
    )
    text = F.concat_ws(
        " ", F.transform(F.sequence(F.lit(0), F.lit(words_per_doc - 1)), word)
    )
    return spark.range(n).select(F.col("id").alias("doc_id"), text.alias("text"))


def _expected(n: int, is_eval) -> tuple[int, int]:
    """(eval docs, corpus docs that share their block with an eval doc)."""
    n_eval = hit = 0
    for start in range(0, n, BLOCK):
        ids = range(start, min(n, start + BLOCK))
        k = sum(1 for i in ids if is_eval(i))
        n_eval += k
        hit += len(ids) - k if k else 0
    return n_eval, hit


def _sweep(op, docs, is_eval, n: int) -> dict:
    t0 = time.perf_counter()
    hits = op(docs.where(~is_eval), docs.where(is_eval), n=NGRAM)
    agg = hits.agg(
        F.count("*").alias("n_contaminated_docs"),
        F.sum("n_shared_shingles").alias("total_shared"),
    ).collect()[0]
    wall = round(time.perf_counter() - t0, 2)
    return {
        "n_contaminated_docs": int(agg["n_contaminated_docs"]),
        "total_shared_shingles": int(agg["total_shared"] or 0),
        "wall_sec": wall,
        "docs_per_sec": round(n / wall, 1),
    }


def run(n: int, cpus: int) -> dict:
    from ocr_spark.operators.dedup import contamination, contamination_bloom
    from ocr_spark.session import get_spark

    spark = get_spark("bench_contamination", cpus=cpus)
    docs = synth_docs(spark, n)
    doc_id, block = F.col("doc_id"), (F.col("doc_id") / BLOCK).cast("long")
    regimes = {
        "mod": (
            doc_id % EVAL_MOD == 0,
            lambda i: i % EVAL_MOD == 0,
            {"exact": contamination},
        ),
        "blocks": (
            (block % BIG_EVAL_MOD == 0) & (doc_id % 2 == 0),
            lambda i: (i // BLOCK) % BIG_EVAL_MOD == 0 and i % 2 == 0,
            {"exact": contamination, "bloom": contamination_bloom},
        ),
    }
    out = {"ngram": NGRAM}
    for split, (is_eval, is_eval_py, ops) in regimes.items():
        n_eval, want = _expected(n, is_eval_py)
        out[split] = rec = {"n_eval_docs": n_eval}
        for method, op in ops.items():
            rec[method] = r = _sweep(op, docs, is_eval, n)
            assert r["n_contaminated_docs"] == want, (split, method, r, want)
            assert r["total_shared_shingles"] == want * (WORDS - NGRAM + 1), (split, method, r)
    return out
