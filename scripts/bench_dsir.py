"""Scale evidence for DSIR importance resampling (operators/dsir.py):
fit the hashed-n-gram log-ratio model on a 10k-doc target sample + the full
raw corpus, score every raw doc, Gumbel-top-k resample 10% — the
data-selection chain a pretraining build runs over a crawl.

Exactness assertions (bench_ngram_lm contract): the corpus is a closed
template family — 30% of raw docs (id % 10 < 3) draw 30 words from the
50-word target vocabulary by a (id, position) formula, 70% draw 30 words
from a disjoint 5000-word junk vocabulary — so per-doc gram counts are
exactly 59 (30 unigrams + 29 bigrams), the total gram count is 59·n, and
the resampled set has a known planted composition: the importance-weight
separation (~59 grams × several nats) dwarfs the Gumbel noise (≤ ~37
micro-million), so ≥ 99% of the selected docs must be target-like.

Run: python bench.py --suite dsir [--scale 1000000]
"""

from __future__ import annotations

import time

SCALE = 1_000_000
TARGET_DOCS = 10_000
K_FRAC = 0.1
DIM = 8192


def run(n: int, cpus: int) -> dict:
    from pyspark.sql import functions as F

    from ocr_spark.operators.dsir import dsir_fit, dsir_resample, dsir_weights
    from ocr_spark.session import get_spark

    spark = get_spark("bench_dsir", cpus=cpus)

    def spell(num_col):
        return F.translate(num_col.cast("string"), "0123456789", "abcdefghij")

    def words(prefix, formula):
        return F.concat_ws(
            " ",
            F.transform(
                F.sequence(F.lit(1), F.lit(30)),
                lambda i: F.concat(F.lit(prefix), spell(formula(i))),
            ),
        )

    def tgt_formula(i):
        return ((F.col("id") % 41) * 7 + i * 3).cast("int").__mod__(50)

    def junk_formula(i):
        return ((F.col("id") % 997) * 31 + i * 11).cast("int").__mod__(5000)

    raw = (
        spark.range(n)
        .select(
            F.concat(
                F.when(F.col("id") % 10 < 3, F.lit("g")).otherwise(F.lit("j")),
                F.col("id").cast("string"),
            ).alias("doc_id"),
            F.when(F.col("id") % 10 < 3, words("t", tgt_formula))
            .otherwise(words("x", junk_formula))
            .alias("text"),
        )
        .persist()
    )
    raw.count()
    target = spark.range(TARGET_DOCS).select(
        F.concat(F.lit("T"), F.col("id").cast("string")).alias("doc_id"),
        words("t", tgt_formula).alias("text"),
    )

    results = {"target_docs": TARGET_DOCS, "dim": DIM}

    t0 = time.time()
    model = dsir_fit(target, raw, dim=DIM)
    fit_wall = round(time.time() - t0, 2)
    assert model["r_total"] == 59 * n, model["r_total"]  # closed form
    assert model["t_total"] == 59 * TARGET_DOCS, model["t_total"]
    results["fit"] = {
        "wall_s": fit_wall,
        "docs_per_sec": round((n + TARGET_DOCS) / fit_wall),
        "buckets": len(model["buckets"]),
    }

    t0 = time.time()
    wt = dsir_weights(raw, model).persist()
    agg = wt.agg(
        F.count("*").alias("rows"),
        F.sum("n_grams").alias("grams"),
        F.sum(F.when(F.col("lr_micro").isNull(), 1).otherwise(0)).alias(
            "gramless"
        ),
    ).first()
    w_wall = round(time.time() - t0, 2)
    assert agg["rows"] == n, agg["rows"]
    assert agg["grams"] == 59 * n, agg["grams"]  # 30 uni + 29 bi per doc
    assert agg["gramless"] == 0
    results["weights"] = {"wall_s": w_wall, "docs_per_sec": round(n / w_wall)}

    k = round(n * K_FRAC)
    t0 = time.time()
    picked = dsir_resample(wt, k=k, seed="bench").select("doc_id")
    n_good = picked.where(F.col("doc_id").startswith("g")).count()
    r_wall = round(time.time() - t0, 2)
    frac = n_good / k
    assert frac >= 0.99, f"enrichment {frac:.4f} < 0.99 (n_good={n_good}, k={k})"
    results["resample"] = {
        "wall_s": r_wall,
        "k": k,
        "target_like_frac": round(frac, 5),
        "docs_per_sec": round(n / r_wall),
    }
    wt.unpersist()
    raw.unpersist()
    return results
