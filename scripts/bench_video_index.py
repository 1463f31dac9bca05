"""Scale evidence for decode-free MP4 frame sampling
(operators/multimodal.video_frame_index over media_probe.mp4_sample_index):
N synthetic ISO-BMFF assets are synthesized executor-side (real ftyp/mdat/
moov trees with full stts/stsz/stsc/stco/stss tables via synth_mp4), then
the sampler expands the sample tables and slices keyframe payloads out of
mdat in ONE Arrow stage — no shuffle, no codec.

Exactness is closed-form (every quantity below is decided by the synth
parameters, so the assertions are exact, not statistical):
- full index: N × FRAMES rows, zero errors;
- keyframe sampling: N × ceil(FRAMES / KEY_EVERY) rows, all is_keyframe;
- byte accounting: sum(n_bytes) == N × Σ planted sizes, and every sliced
  payload length equals its index row's n_bytes.

Run: python bench.py --suite video_index [--scale 200000]
"""

from __future__ import annotations

import time

SCALE = 200_000

FRAMES = 24
KEY_EVERY = 6


def _sizes(aid: int) -> list[int]:
    # deterministic per-asset frame sizes (different per frame and asset)
    return [40 + ((aid * 7 + i * 13) % 50) for i in range(FRAMES)]


def run(n: int, cpus: int) -> dict:
    from pyspark.sql import functions as F

    from ocr_spark.operators.multimodal import video_frame_index
    from ocr_spark.session import get_spark

    spark = get_spark("bench_video_index", cpus=cpus)

    def gen(batches):
        import pandas as pd

        from ocr_spark.operators.media_probe import synth_mp4

        for pdf in batches:
            ids = pdf["id"].tolist()
            payloads = [
                synth_mp4(
                    video_samples=[
                        bytes([(i + aid) % 256]) * s
                        for i, s in enumerate(_sizes(aid))
                    ],
                    samples_per_chunk=5,
                    keyframe_every=KEY_EVERY,
                )
                for aid in ids
            ]
            yield pd.DataFrame(
                {"media_ref": [f"v{a}.mp4" for a in ids], "content": payloads}
            )

    t0 = time.time()
    assets = (
        spark.range(n)
        .repartition(4 * cpus)
        .mapInPandas(gen, schema="media_ref string, content binary")
        .persist()
    )
    assert assets.count() == n
    synth_wall = round(time.time() - t0, 2)
    total_payload = sum(sum(_sizes(a)) for a in range(n))

    # full index with payload slicing
    t0 = time.time()
    full = video_frame_index(assets, with_payload=True)
    agg = full.agg(
        F.count("*").alias("rows"),
        F.sum(F.col("error").isNotNull().cast("long")).alias("errs"),
        F.sum("n_bytes").alias("bytes"),
        F.sum(
            (F.length("payload") != F.col("n_bytes")).cast("long")
        ).alias("bad_payload"),
        F.sum(F.col("is_keyframe").cast("long")).alias("keys"),
    ).first()
    full_wall = round(time.time() - t0, 2)
    assert agg["rows"] == n * FRAMES, agg["rows"]
    assert agg["errs"] == 0 and agg["bad_payload"] == 0
    assert int(agg["bytes"]) == total_payload, (agg["bytes"], total_payload)
    assert agg["keys"] == n * -(-FRAMES // KEY_EVERY)

    # keyframe-only sampling (the crawl-filter shape: ~1/KEY_EVERY of rows)
    t0 = time.time()
    kf = video_frame_index(assets, keyframes_only=True, with_payload=False)
    kagg = kf.agg(
        F.count("*").alias("rows"),
        F.sum((~F.col("is_keyframe")).cast("long")).alias("nonkey"),
    ).first()
    kf_wall = round(time.time() - t0, 2)
    assets.unpersist()
    assert kagg["rows"] == n * -(-FRAMES // KEY_EVERY) and kagg["nonkey"] == 0
    return {
        "frames_per_asset": FRAMES,
        "synth_wall_s": synth_wall,
        "full_index": {
            "wall_s": full_wall,
            "assets_per_sec": round(n / full_wall),
            "frames_per_sec": round(n * FRAMES / full_wall),
            "payload_mb": round(total_payload / 1e6, 1),
        },
        "keyframe_only": {
            "wall_s": kf_wall,
            "assets_per_sec": round(n / kf_wall),
        },
    }
