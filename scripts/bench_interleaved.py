"""Scale evidence for interleaved multimodal materialization
(operators/interleaved.py): encode a 500k-doc corpus of interleaved
text+media spans (3 text spans x 4 words + 2 media spans per doc), pack
to 64-token budgets, and fill sequences with the grouped (one-exchange)
materializer.

Exactness assertions (bench contract): the template makes every count
closed-form — per-doc ids are exactly 15 tokens (12 word + 2 sentinel +
1 sep), so encode totals are 15·n ids / 2·n sentinels, nothing truncates
at budget 64, every sentinel's ref survives with its position pointing at
a sentinel, and per-sequence token sums conserve exactly.

Run: python bench.py --suite interleaved [--scale 500000]
"""

from __future__ import annotations

import time

SCALE = 500_000
MAX_TOKENS = 64
N_BUCKETS = 256

MERGES = [("h", "e"), ("l", "l"), ("he", "ll"), ("hell", "o")]


def run(n: int, cpus: int) -> dict:
    from pyspark.sql import functions as F

    from ocr_spark.operators.corpus_clean import pack_sequences
    from ocr_spark.operators.interleaved import (
        MEDIA_ID,
        encode_interleaved,
        interleaved_sequences_grouped,
    )
    from ocr_spark.session import get_spark

    spark = get_spark("bench_interleaved", cpus=cpus)
    i = F.col("id").cast("string")

    def text_span(off):
        return F.struct(
            F.lit("text").alias("kind"),
            F.lit("hello hello hello hello").alias("text"),
            F.lit(None).cast("string").alias("media_ref"),
            F.lit(off).cast("int").alias("offset"),
        )

    def media_span(off, k):
        return F.struct(
            F.lit("media").alias("kind"),
            F.lit(None).cast("string").alias("text"),
            F.concat(F.lit("img://"), i, F.lit(f"/{k}")).alias("media_ref"),
            F.lit(off).cast("int").alias("offset"),
        )

    docs = spark.range(n).select(
        i.alias("doc_id"),
        F.array(
            text_span(0),
            media_span(10, 0),
            text_span(20),
            media_span(30, 1),
            text_span(40),
        ).alias("spans"),
    ).persist()
    docs.count()

    per_doc = 15  # 3 spans x 4 'hello' tokens + 2 sentinels + 1 sep
    results = {"max_tokens": MAX_TOKENS, "n_buckets": N_BUCKETS}

    t0 = time.time()
    enc = encode_interleaved(docs, merges=MERGES).persist()
    agg = enc.agg(
        F.count("*").alias("rows"),
        F.sum(F.size("input_ids")).alias("ids"),
        F.sum("n_media").alias("media"),
    ).first()
    e_wall = round(time.time() - t0, 2)
    assert agg["rows"] == n
    assert agg["ids"] == per_doc * n, agg["ids"]
    assert agg["media"] == 2 * n, agg["media"]
    results["encode"] = {"wall_s": e_wall, "docs_per_sec": round(n / e_wall)}

    t0 = time.time()
    counts = enc.select("doc_id", F.size("input_ids").alias("_n"))
    packed = pack_sequences(
        counts,
        max_tokens=MAX_TOKENS,
        n_buckets=N_BUCKETS,
        tokens_col="_n",
    ).persist()
    n_seqs = packed.select("seq_id").distinct().count()
    p_wall = round(time.time() - t0, 2)
    results["pack"] = {
        "wall_s": p_wall,
        "docs_per_sec": round(n / p_wall),
        "n_seqs": n_seqs,
    }

    t0 = time.time()
    seqs = interleaved_sequences_grouped(
        enc, packed, MAX_TOKENS, n_buckets=N_BUCKETS
    )
    sagg = seqs.agg(
        F.count("*").alias("rows"),
        F.sum("n_docs").alias("docs"),
        F.sum("n_tokens").alias("toks"),
        F.sum(F.size("media_refs")).alias("kept"),
        F.sum("n_media_total").alias("media"),
        F.sum(F.when(F.col("truncated"), 1).otherwise(0)).alias("trunc"),
        F.sum(
            F.when(
                F.size(
                    F.filter(
                        F.zip_with(
                            "media_positions",
                            F.transform(
                                "media_positions",
                                lambda p: F.element_at(
                                    F.col("input_ids"), p + 1
                                ),
                            ),
                            lambda p, v: v == F.lit(MEDIA_ID),
                        ),
                        lambda ok: ~ok,
                    )
                )
                > 0,
                1,
            ).otherwise(0)
        ).alias("misaligned"),
    ).first()
    f_wall = round(time.time() - t0, 2)
    assert sagg["rows"] == n_seqs
    assert sagg["docs"] == n
    assert sagg["toks"] == per_doc * n, sagg["toks"]
    assert sagg["media"] == 2 * n and sagg["kept"] == 2 * n
    assert sagg["trunc"] == 0 and sagg["misaligned"] == 0
    results["fill"] = {
        "wall_s": f_wall,
        "docs_per_sec": round(n / f_wall),
        "seqs_per_sec": round(n_seqs / f_wall),
    }
    enc.unpersist()
    packed.unpersist()
    docs.unpersist()

    return results
