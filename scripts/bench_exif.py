"""Scale evidence for EXIF extraction + PII strip (operators/exif):
N JPEG assets synthesized executor-side from one shared coded-pixel body
with per-asset EXIF blocks (metadata varies, pixels shared — EXIF work is
metadata-bound, so this isolates exactly the cost being measured):
  * aid % 2 == 0  -> EXIF present; aid % 4 == 0 -> with a GPS IFD
  * aid % 2 == 1  -> plain JPEG (the no-metadata fast path)

Exactness is closed-form:
  * image_exif: N rows, zero errors, has_gps count == |{aid: aid%4==0}|,
    orientation sum == planted sum, GPS quadrant signs recovered;
  * strip_exif_pii: total n_bytes_removed == Σ planted segment sizes
    (each asset's APP1 length is decided by its build parameters), every
    output either byte-identical (plain) or exactly segment-shorter, and
    re-parsing a stripped payload yields the all-None dict.

Run: python bench.py --suite exif [--scale 500000]
"""

from __future__ import annotations

import time

SCALE = 500_000


def _gps(aid: int) -> tuple[float, float] | None:
    if aid % 4 != 0:
        return None
    # all four quadrants, deterministic per asset
    lat = (10.0 + (aid % 80)) * (1 if aid % 8 == 0 else -1)
    lon = (20.0 + (aid % 150)) * (1 if aid % 16 < 8 else -1)
    return lat, lon


def _orient(aid: int) -> int:
    return 1 + aid % 8


def run(n: int, cpus: int) -> dict:
    import numpy as np
    from pyspark.sql import functions as F

    from ocr_spark.operators.exif import exif_build, image_exif, insert_exif, strip_exif_pii
    from ocr_spark.operators.image_codecs import jpeg_encode
    from ocr_spark.session import get_spark

    spark = get_spark("bench_exif", cpus=cpus)

    base = jpeg_encode(
        (np.arange(64 * 64).reshape(64, 64) % 256).astype(np.uint8), quality=85
    )

    def payload(aid: int) -> bytes:
        if aid % 2:
            return base
        return insert_exif(
            base,
            exif_build(
                model=f"SC-{aid % 97}", orientation=_orient(aid), gps=_gps(aid)
            ),
        )

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            ids = pdf["id"].tolist()
            yield pd.DataFrame(
                {
                    "media_ref": [f"i{a}.jpg" for a in ids],
                    "content": [payload(a) for a in ids],
                    "aid": ids,
                }
            )

    t0 = time.time()
    assets = (
        spark.range(n)
        .repartition(4 * cpus)
        .mapInPandas(gen, schema="media_ref string, content binary, aid long")
        .persist()
    )
    total_bytes = assets.agg(
        F.count("*").alias("rows"), F.sum(F.length("content")).alias("b")
    ).first()
    assert total_bytes["rows"] == n
    synth_wall = round(time.time() - t0, 2)
    planted_meta_bytes = int(total_bytes["b"]) - n * len(base)

    # --- parse ---
    t0 = time.time()
    ex = image_exif(assets)
    agg = ex.agg(
        F.count("*").alias("rows"),
        F.sum(F.col("error").isNotNull().cast("long")).alias("errs"),
        F.sum(F.col("has_gps").cast("long")).alias("gps"),
        F.sum(F.coalesce(F.col("orientation"), F.lit(0))).alias("orient"),
        F.sum(
            (
                F.col("has_gps")
                & (F.signum("gps_lat") != F.when(
                    F.regexp_extract("media_ref", r"i(\d+)\.jpg", 1).cast("long") % 8 == 0,
                    F.lit(1.0),
                ).otherwise(F.lit(-1.0)))
            ).cast("long")
        ).alias("bad_lat_sign"),
    ).first()
    parse_wall = round(time.time() - t0, 2)
    exp_gps = sum(1 for a in range(n) if a % 4 == 0)
    exp_orient = sum(_orient(a) for a in range(n) if a % 2 == 0)
    assert agg["rows"] == n and agg["errs"] == 0
    assert agg["gps"] == exp_gps, (agg["gps"], exp_gps)
    assert int(agg["orient"]) == exp_orient
    assert agg["bad_lat_sign"] == 0

    # --- strip ---
    t0 = time.time()
    st = strip_exif_pii(assets)
    sagg = st.agg(
        F.count("*").alias("rows"),
        F.sum(F.col("error").isNotNull().cast("long")).alias("errs"),
        F.sum("n_bytes_removed").alias("removed"),
        F.sum(F.col("had_metadata").cast("long")).alias("had"),
        F.sum((F.length("content") != len(base)).cast("long")).alias("bad_len"),
    ).first()
    strip_wall = round(time.time() - t0, 2)
    assets.unpersist()
    assert sagg["rows"] == n and sagg["errs"] == 0
    # every stripped payload collapses to the shared base body exactly
    assert sagg["bad_len"] == 0
    assert int(sagg["removed"]) == planted_meta_bytes
    assert sagg["had"] == (n + 1) // 2
    return {
        "meta_mb": round(planted_meta_bytes / 1e6, 1),
        "synth_wall_s": synth_wall,
        "parse_wall_s": parse_wall,
        "parse_assets_per_sec": round(n / parse_wall),
        "strip_wall_s": strip_wall,
        "strip_assets_per_sec": round(n / strip_wall),
    }
