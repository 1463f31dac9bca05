"""Scale evidence for distributed BPE tokenizer training (functions/bpe.py):
corpus_word_counts over a synthetic 1M-doc corpus (the distributed stage),
bpe_train_from_counts over the resulting 50k-word table (the driver loop),
then the learned merges through token_counts_bpe over the same corpus —
the full train-tokenizer -> count chain a corpus build runs.

Exactness assertions (bench_ngram_lm contract): the corpus is a closed
template family — 90% of docs carry 40 tokens drawn by a (phase, position)
formula over a 500-slot space, 10% carry 40 globally-unique junk tokens —
so the word-count table has a known shape: the template vocabulary is the
closed-form set {(3p + 2i) mod 500 : p<37, 1<=i<=40} and its counts sum to
exactly 40 tokens per template doc (36,000,000 at n=1M).

Run: python bench.py --suite bpe_train [--scale 1000000]
"""

from __future__ import annotations

import time

SCALE = 1_000_000
MERGES = 256
TOP_WORDS = 50_000


def run(n: int, cpus: int) -> dict:
    from pyspark.sql import functions as F

    from ocr_spark.functions.bpe import (
        bpe_train_from_counts,
        corpus_word_counts,
        token_counts_bpe,
    )
    from ocr_spark.session import get_spark

    # all 37 phases appear among non-multiple-of-10 ids for any n >= ~400
    assert n >= 1000, "closed-form assertions assume n >= 1000"
    spark = get_spark("bench_bpe_train", cpus=cpus)

    def spell(num_col):
        return F.translate(
            num_col.cast("string"), "0123456789", "abcdefghij"
        )

    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.when(
            F.col("id") % 10 != 0,
            F.concat_ws(
                " ",
                F.transform(
                    F.sequence(F.lit(1), F.lit(40)),
                    lambda i: F.concat(
                        F.lit("w"),
                        spell(
                            ((F.col("id") % 37) * 3 + i * 2)
                            .cast("int")
                            .__mod__(500)
                        ),
                    ),
                ),
            ),
        )
        .otherwise(
            F.concat_ws(
                " ",
                F.transform(
                    F.sequence(F.lit(1), F.lit(40)),
                    lambda i: F.concat(
                        F.lit("j"), spell(F.col("id") * 40 + i)
                    ),
                ),
            )
        )
        .alias("text"),
    ).persist()
    docs.count()

    results = {"n_merges": MERGES, "top_words": TOP_WORDS}

    t0 = time.time()
    counts = corpus_word_counts(docs, top_words=TOP_WORDS)
    count_wall = round(time.time() - t0, 2)
    tpl = {w: c for w, c in counts.items() if w.startswith("w")}
    n_tpl_docs = n - (n + 9) // 10
    expected_vocab = {
        (3 * p + 2 * i) % 500 for p in range(37) for i in range(1, 41)
    }
    assert len(tpl) == len(expected_vocab), (len(tpl), len(expected_vocab))
    assert sum(tpl.values()) == 40 * n_tpl_docs, sum(tpl.values())
    results["word_counts"] = {
        "wall_s": count_wall,
        "docs_per_sec": round(n / count_wall),
        "vocab": len(counts),
    }

    t0 = time.time()
    merges = bpe_train_from_counts(counts, n_merges=MERGES)
    train_wall = round(time.time() - t0, 2)
    assert len(merges) == MERGES, len(merges)
    results["merge_loop"] = {"wall_s": train_wall}

    t0 = time.time()
    counted = token_counts_bpe(docs, merges=merges)
    agg = counted.agg(
        F.count("*").alias("rows"), F.sum("n_tokens_bpe").alias("tok")
    ).first()
    tok_wall = round(time.time() - t0, 2)
    assert agg["rows"] == n, agg["rows"]
    assert agg["tok"] > 0
    results["tokenize"] = {
        "wall_s": tok_wall,
        "docs_per_sec": round(n / tok_wall),
        "total_tokens": agg["tok"],
    }
    docs.unpersist()
    return results
