"""Scale evidence for audio standardization
(operators/multimodal.audio_standardize): N synthetic WAV assets at mixed
source rates/channels (8 kHz mono, 22.05 kHz mono, 44.1 kHz stereo —
real RIFF bytes) carry one pure tone each; the standardizer decodes,
downmixes, Fourier-resamples to 16 kHz, normalizes, and re-encodes in ONE
Arrow stage.

Exactness is closed-form and row-wise:
- N rows, zero errors; sample_rate 16000 everywhere;
- n_samples equals src_n * 16000 // src_rate from the per-asset
  arithmetic (checked row-wise against the aid parsed out of media_ref);
- src_rate / src_channels equal the rotation's arithmetic;
- every planted tone sits below 4 kHz, so it survives resampling: the
  normalized output peak must be within 0.06 dB of the -1 dBFS target on
  every row (peak_ok count == N).

Run: python bench.py --suite audio_standardize [--scale 100000]
"""

from __future__ import annotations

import time

SCALE = 100_000

# (rate, channels, n_samples) rotation — every duration ~0.25 s
CONFIGS = [(8000, 1, 2000), (22050, 1, 5500), (44100, 2, 11000)]


def run(n: int, cpus: int) -> dict:
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from ocr_spark.operators.audio_codecs import wav_decode, wav_encode
    from ocr_spark.operators.multimodal import audio_standardize
    from ocr_spark.session import get_spark

    spark = get_spark("bench_audio_standardize", cpus=cpus)

    def payload(aid: int) -> bytes:
        rate, ch, ns = CONFIGS[aid % 3]
        freq = 200.0 + (aid % 37) * 100.0  # 200..3800 Hz, below 4 kHz
        amp = 0.2 + (aid % 7) * 0.1
        x = amp * np.sin(2 * np.pi * freq * np.arange(ns) / rate)
        pcm = (np.stack([x] * ch, axis=1) * 32767).astype(np.int16)
        return wav_encode(pcm, rate)

    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].tolist()
            yield pd.DataFrame(
                {
                    "media_ref": [f"a{d}.wav" for d in ids],
                    "content": [payload(d) for d in ids],
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
    out = audio_standardize(assets, target_rate=16000, peak_dbfs=-1.0)
    aid = F.regexp_extract("media_ref", r"a(\d+)\.wav", 1).cast("long")
    rate_exp = F.element_at(
        F.array(*[F.lit(r) for r, _, _ in CONFIGS]), (aid % 3 + 1).cast("int")
    )
    ch_exp = F.element_at(
        F.array(*[F.lit(c) for _, c, _ in CONFIGS]), (aid % 3 + 1).cast("int")
    )
    ns_exp = (
        F.element_at(
            F.array(*[F.lit(s) for _, _, s in CONFIGS]), (aid % 3 + 1).cast("int")
        )
        * 16000
        / rate_exp
    ).cast("long")

    # row-wise peak check needs the decoded payload: one more Arrow stage
    def peaks(batches):
        for pdf in batches:
            ok = []
            for content in pdf["content"]:
                x, _ = wav_decode(bytes(content))
                pk = 20 * np.log10(np.abs(x[:, 0]).max() / 32768.0)
                ok.append(bool(abs(pk - (-1.0)) < 0.06))
            yield pd.DataFrame({"peak_ok": ok})

    agg = out.agg(
        F.count("*").alias("rows"),
        F.sum(F.col("error").isNotNull().cast("long")).alias("errs"),
        F.sum((F.col("sample_rate") != 16000).cast("long")).alias("bad_rate"),
        F.sum((F.col("src_rate") != rate_exp).cast("long")).alias("bad_src"),
        F.sum((F.col("src_channels") != ch_exp).cast("long")).alias("bad_ch"),
        F.sum((F.col("n_samples") != ns_exp).cast("long")).alias("bad_ns"),
    ).first()
    n_peak_ok = (
        out.select("content")
        .mapInPandas(peaks, schema="peak_ok boolean")
        .agg(F.sum(F.col("peak_ok").cast("long")))
        .first()[0]
    )
    std_wall = round(time.time() - t0, 2)
    assets.unpersist()

    assert agg["rows"] == n and agg["errs"] == 0, agg
    assert agg["bad_rate"] == 0 and agg["bad_src"] == 0, agg
    assert agg["bad_ch"] == 0 and agg["bad_ns"] == 0, agg
    assert n_peak_ok == n, (n_peak_ok, n)
    return {
        "synth_wall_s": synth_wall,
        "std_wall_s": std_wall,
        "assets_per_sec": round(n / std_wall),
    }
