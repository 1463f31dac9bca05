"""Scale evidence for audio provenance tags (operators/audio_tags):
N assets synthesized executor-side rotating four container shapes —
ID3v2-tagged MP3 (aid%4==0), INFO-tagged WAV (1), comment-tagged Ogg
Vorbis/Opus (2), and untagged WAV (3) — each tagged asset carrying
per-asset values (title "t{aid}", language from a 5-slot rotation).

Exactness is closed-form:
  * N rows, zero errors;
  * untagged count == |{aid % 4 == 3}| with all-None fields;
  * every tagged row's title equals "t{aid}" (checked row-wise against
    the aid parsed back out of media_ref — zero mismatches);
  * per-language counts equal the rotation's arithmetic.

Run: python bench.py --suite audio_tags [--scale 500000]
"""

from __future__ import annotations

import time

SCALE = 500_000

LANGS = ["en", "ja", "de", "fr", "ta"]


def run(n: int, cpus: int) -> dict:
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from ocr_spark.operators.audio_codecs import wav_encode
    from ocr_spark.operators.audio_tags import (
        add_wav_info,
        audio_tags,
        synth_id3v2,
        synth_ogg_tagged,
    )
    from ocr_spark.session import get_spark

    spark = get_spark("bench_audio_tags", cpus=cpus)

    base_wav = wav_encode(
        (np.arange(400) % 128 * 100).astype(np.int16)[:, None], 8000
    )
    mp3_body = b"\xff\xfb\x90\x00" + b"\x00" * 64

    def payload(aid: int) -> bytes:
        tags = {"title": f"t{aid}", "language": LANGS[aid % 5], "artist": f"a{aid % 17}"}
        kind = aid % 4
        if kind == 0:
            return synth_id3v2(tags, version=2 + aid % 3) + mp3_body
        if kind == 1:
            return add_wav_info(base_wav, tags)
        if kind == 2:
            return synth_ogg_tagged(tags, codec="vorbis" if aid % 8 < 4 else "opus")
        return base_wav

    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].tolist()
            yield pd.DataFrame(
                {
                    "media_ref": [f"a{a}.bin" for a in ids],
                    "content": [payload(a) for a in ids],
                }
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

    t0 = time.time()
    out = audio_tags(assets)
    aid = F.regexp_extract("media_ref", r"a(\d+)\.bin", 1).cast("long")
    tagged = aid % 4 != 3
    agg = out.agg(
        F.count("*").alias("rows"),
        F.sum(F.col("error").isNotNull().cast("long")).alias("errs"),
        F.sum((~tagged & F.col("title").isNotNull()).cast("long")).alias("phantom"),
        F.sum(
            (tagged & (F.col("title") != F.concat(F.lit("t"), aid))).cast("long")
        ).alias("bad_title"),
        F.sum((tagged & F.col("title").isNull()).cast("long")).alias("lost"),
        F.sum((tagged & (F.col("language") == "ja")).cast("long")).alias("ja"),
    ).first()
    tag_wall = round(time.time() - t0, 2)
    assets.unpersist()

    exp_ja = sum(1 for a in range(n) if a % 4 != 3 and a % 5 == 1)
    assert agg["rows"] == n and agg["errs"] == 0, agg
    assert agg["phantom"] == 0 and agg["bad_title"] == 0 and agg["lost"] == 0, agg
    assert agg["ja"] == exp_ja, (agg["ja"], exp_ja)
    return {
        "synth_wall_s": synth_wall,
        "tag_wall_s": tag_wall,
        "assets_per_sec": round(n / tag_wall),
    }
