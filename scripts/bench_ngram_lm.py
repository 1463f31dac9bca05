"""Scale evidence for the trigram Stupid-Backoff LM (ngram_lm.py):
train + persist on a synthetic 1M-doc corpus, then score the corpus
against the cached model — the explicit-lm path that a 100 TB build
uses (train once on a trusted corpus, score every crawl shard).

Exactness assertions (same contract as bench_crawl_ops): the corpus is
built from a closed template family, so in-template docs must score
strictly higher (less surprising) than junk docs on average, every doc
with tokens must emit exactly one row, and the token total is known in
closed form.

Run: python bench.py --suite ngram_lm [--scale 1000000]
"""

from __future__ import annotations

import time

SCALE = 1_000_000


def run(n: int, cpus: int) -> dict:
    from pyspark.sql import functions as F

    from ocr_spark.operators.ngram_lm import ngram_perplexity, train_ngram_lm
    from ocr_spark.session import get_spark

    spark = get_spark("bench_ngram_lm", cpus=cpus)

    # 90% of docs: 40 tokens cycling a 500-word template vocabulary with a
    # doc-dependent phase (rich shared trigram structure); 10%: 40 unique
    # junk tokens (every gram OOV after pruning). Numbers are spelled with
    # letters (translate) because the tokenizer pattern is [a-z']+.
    # Token totals are exact: 40 per doc.
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

    results = {}
    t0 = time.time()
    lm = train_ngram_lm(
        docs,
        top_unigrams=50_000,
        top_bigrams=500_000,
        top_trigrams=500_000,
        min_count=2,
    ).persist()
    # materialize all four tables (training wall = counts + prune + cache)
    sizes = [lm.uni.count(), lm.bi.count(), lm.tri.count()]
    tot = lm.totals.first()
    train_wall = round(time.time() - t0, 2)
    results["train"] = {
        "wall_s": train_wall,
        "docs_per_sec": round(n / train_wall),
        "uni": sizes[0],
        "bi": sizes[1],
        "tri": sizes[2],
        "t_total": tot["t_total"],
    }
    assert tot["t_total"] == 40 * n, tot["t_total"]  # exact token total

    t0 = time.time()
    scored = ngram_perplexity(docs, lm=lm).persist()
    agg = scored.agg(
        F.count("*").alias("rows"),
        F.sum("n_tokens").alias("tok"),
    ).first()
    score_wall = round(time.time() - t0, 2)
    results["score"] = {
        "wall_s": score_wall,
        "docs_per_sec": round(n / score_wall),
        "rows": agg["rows"],
    }
    assert agg["rows"] == n, agg["rows"]  # every doc has tokens -> one row
    assert agg["tok"] == 40 * n, agg["tok"]

    # separation: template docs must average strictly higher logprob
    sep = (
        scored.withColumn("is_tpl", F.col("doc_id") % 10 != 0)
        .groupBy("is_tpl")
        .agg(F.avg("avg_lp_micronat").alias("m"))
    )
    means = {r["is_tpl"]: r["m"] for r in sep.collect()}
    assert means[True] > means[False] + 1_000_000, means  # >1 nat apart
    results["separation_nats"] = round(
        (means[True] - means[False]) / 1e6, 2
    )
    scored.unpersist()
    lm.unpersist()
    docs.unpersist()
    return results
