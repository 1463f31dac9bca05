"""Scale evidence for CCITT fax ingestion: N bilevel fax pages synthesized
executor-side as REAL G3-1D / G3-2D / G4 TIFFs (compression rotating by
did%3), decoded through the Spark image_features stage (sniff -> tiff_decode
-> fax_codec -> feature kernels) in ONE Arrow-batched pass, zero Exchange.

Exactness is closed-form and row-wise: each page is (h,w) = (120+did%32,
160+did%64) with exactly npix = 500+did%1000 black pixels filled row-major,
so the decoded mean intensity must equal 255*(w*h-npix)/(w*h) BIT-EXACTLY
(integer sum then one float64 division on both sides) and (width, height)
must match the did-derived dims — any decode drift on any row fails the run.

Run: python bench.py --suite fax [--scale 100000]
"""

from __future__ import annotations

import time

SCALE = 100_000

COMPS = ["g3", "g3_2d", "g4"]


def run(n: int, cpus: int) -> dict:
    import numpy as np
    from pyspark.sql import functions as F

    from ocr_spark.operators.multimodal import image_features
    from ocr_spark.session import get_spark

    spark = get_spark("bench_fax", cpus=cpus)

    def page_bytes(did: int) -> bytes:
        from ocr_spark.operators.image_codecs import tiff_encode

        h, w = 120 + did % 32, 160 + did % 64
        npix = 500 + did % 1000
        flat = np.full(h * w, 255, np.uint8)
        flat[:npix] = 0  # exactly npix black pixels, row-major
        return tiff_encode(flat.reshape(h, w), compression=COMPS[did % 3])

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            ids = pdf["id"].tolist()
            yield pd.DataFrame(
                {
                    "media_ref": [f"fax{d}" for d in ids],
                    "media_type": ["image"] * len(ids),
                    "content": [page_bytes(d) for d in ids],
                }
            )

    t0 = time.time()
    assets = (
        spark.range(n)
        .repartition(4 * cpus)
        .mapInPandas(
            gen, schema="media_ref string, media_type string, content binary"
        )
        .withColumn(
            "meta",
            F.struct(
                F.lit(None).cast("int").alias("width"),
                F.lit(None).cast("int").alias("height"),
                F.length("content").cast("long").alias("n_bytes"),
                F.lit("tiff").alias("codec"),
            ),
        )
        .persist()
    )
    total_bytes = assets.agg(F.sum(F.length("content"))).first()[0]
    synth_wall = round(time.time() - t0, 2)

    t0 = time.time()
    feats = image_features(assets)
    did = F.regexp_extract("media_ref", r"fax(\d+)", 1).cast("long")
    w_exp = (did % 64 + 160).cast("int")
    h_exp = (did % 32 + 120).cast("int")
    npix = (did % 1000 + 500).cast("double")
    wh = (w_exp * h_exp).cast("double")
    mean_exp = F.lit(255.0) * (wh - npix) / wh
    agg = feats.agg(
        F.count("*").alias("rows"),
        F.sum(F.col("error").isNotNull().cast("long")).alias("errs"),
        F.sum((F.col("width") != w_exp).cast("long")).alias("bad_w"),
        F.sum((F.col("height") != h_exp).cast("long")).alias("bad_h"),
        F.sum(
            (F.abs(F.col("mean_intensity") - mean_exp) > 1e-9).cast("long")
        ).alias("bad_mean"),
    ).first()
    decode_wall = round(time.time() - t0, 2)
    assets.unpersist()

    assert agg["rows"] == n and agg["errs"] == 0, agg
    assert agg["bad_w"] == 0 and agg["bad_h"] == 0 and agg["bad_mean"] == 0, agg
    return {
        "synth_wall_s": synth_wall,
        "decode_wall_s": decode_wall,
        "assets_per_sec": round(n / decode_wall),
        "bytes_in": int(total_bytes),
    }
