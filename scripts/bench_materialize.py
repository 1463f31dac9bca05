"""Scale evidence for training-sequence materialization
(operators/training_data.py): encode_token_ids -> pack_sequences ->
materialize_sequences_grouped -> write_training_shards over the synthetic
1M-doc template/junk corpus (the bench_bpe_train family's closed corpus).

Exactness assertions:
- every doc lands in exactly one sequence (sum n_docs == n);
- token conservation: sum(seq n_tokens) == sum(size(doc input_ids));
- every materialized array is exactly max_tokens long;
- shard manifest totals equal the sequence-level aggregates.

Run: python bench.py --suite materialize [--scale 1000000]
"""

from __future__ import annotations

import shutil
import time

SCALE = 1_000_000
MAX_TOKENS = 2048
SHARDS = 64


def run(n: int, cpus: int) -> dict:
    from pyspark.sql import functions as F

    from ocr_spark.functions.bpe import SEP_ID, encode_token_ids, load_merges
    from ocr_spark.operators.corpus_clean import pack_sequences
    from ocr_spark.operators.training_data import (
        materialize_sequences_grouped,
        read_shard_manifest,
        write_training_shards,
    )
    from ocr_spark.session import get_spark

    spark = get_spark("bench_materialize", cpus=cpus)

    def spell(num_col):
        return F.translate(num_col.cast("string"), "0123456789", "abcdefghij")

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
                    lambda i: F.concat(F.lit("j"), spell(F.col("id") * 40 + i)),
                ),
            )
        )
        .alias("text"),
    ).persist()
    docs.count()

    merges = load_merges()
    results = {"max_tokens": MAX_TOKENS}

    # stage 1: encode (the Arrow stage, no shuffle)
    t0 = time.time()
    ids = encode_token_ids(docs, merges=merges, sep_id=SEP_ID).persist()
    tok = ids.agg(
        F.count("*").alias("rows"),
        F.sum(F.size("input_ids")).alias("total"),
    ).first()
    enc_wall = round(time.time() - t0, 2)
    assert tok["rows"] == n
    total_tokens = int(tok["total"])
    results["encode"] = {
        "wall_s": enc_wall,
        "docs_per_sec": round(n / enc_wall),
        "total_tokens": total_tokens,
    }

    # stage 2+3: pack + grouped materialize + verify aggregate
    t0 = time.time()
    counts = ids.select("doc_id", F.size("input_ids").alias("_n"))
    packed = pack_sequences(
        counts, max_tokens=MAX_TOKENS, n_buckets=64, tokens_col="_n"
    )
    seqs = materialize_sequences_grouped(
        ids, packed, MAX_TOKENS, n_buckets=64
    ).persist()
    agg = seqs.agg(
        F.count("*").alias("n_seqs"),
        F.sum("n_docs").alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        F.min(F.size("input_ids")).alias("min_len"),
        F.max(F.size("input_ids")).alias("max_len"),
        F.sum(F.col("truncated").cast("long")).alias("n_trunc"),
    ).first()
    mat_wall = round(time.time() - t0, 2)
    assert agg["n_docs"] == n, agg["n_docs"]
    assert agg["n_tokens"] == total_tokens, (agg["n_tokens"], total_tokens)
    assert agg["min_len"] == agg["max_len"] == MAX_TOKENS
    assert agg["n_trunc"] == 0  # 40-token docs never exceed the budget
    fill = total_tokens / (agg["n_seqs"] * MAX_TOKENS)
    results["materialize"] = {
        "wall_s": mat_wall,
        "docs_per_sec": round(n / mat_wall),
        "n_seqs": agg["n_seqs"],
        "mean_fill": round(fill, 4),
    }
    # the id payload is consumed once seqs is materialized — release it
    # before the write stage claims heap for its per-shard parquet buffers
    # (at 10M docs the cache is ~6 GB; run with SPARK_DRIVER_MEM sized for
    # the seqs cache + n_shards row-group buffers)
    ids.unpersist()

    # stage 4: deterministic shard write + manifest check
    out = "/tmp/ocr_spark_bench/train_shards"
    shutil.rmtree(out, ignore_errors=True)
    t0 = time.time()
    write_training_shards(seqs, out, n_shards=SHARDS, seed=0)
    wr_wall = round(time.time() - t0, 2)
    man = read_shard_manifest(spark, out).agg(
        F.sum("n_seqs").alias("s"), F.sum("n_tokens").alias("t")
    ).first()
    assert man["s"] == agg["n_seqs"] and man["t"] == total_tokens
    results["shard_write"] = {
        "wall_s": wr_wall,
        "seqs_per_sec": round(agg["n_seqs"] / wr_wall),
        "n_shards": SHARDS,
    }

    end_to_end = round(enc_wall + mat_wall + wr_wall, 2)
    results["end_to_end"] = {
        "wall_s": end_to_end,
        "docs_per_sec": round(n / end_to_end),
    }

    seqs.unpersist()
    docs.unpersist()
    return results
