"""Scale evidence for energy-VAD audio segmentation
(operators/multimodal.audio_segments): N synthetic WAV assets are
synthesized executor-side (real RIFF bytes, a deterministic mix of PCM /
G.711 mu-law / G.711 A-law encodings through the real codecs), then the
VAD decodes, frames, thresholds, and emits per-segment rows in ONE Arrow
stage — no shuffle, no driver loop.

Exactness is closed-form (utterances are planted frame-aligned with exact
silence between them, so every quantity below is decided by the synth
parameters):
- rows: sum over assets of utterances(aid) segment rows, zero errors,
  zero accounting rows (every asset has speech);
- boundaries: every (start_sec, end_sec) lands exactly on the planted
  frame grid — sum of segment durations equals the planted total;
- n_segments on every row equals utterances(aid);
- clip_ratio == 0 everywhere (amplitudes are planted below full scale);
- on the PCM subset (aid % 3 == 0): per-row peak equals the planted
  amplitude / 32768 exactly (companded encodings are lossy by design, so
  the bit-exact check is scoped to the lossless rows — their structure
  asserts are identical).

Silence is exactly zero: mu-law and A-law both map 0 to a decoded value at
or below 1/4096, under the VAD's -60 dBFS absolute floor, so the planted
activity pattern survives companding and segment boundaries stay exact on
every encoding.

Run: python bench.py --suite audio_vad [--scale 200000]
"""

from __future__ import annotations

import time

SCALE = 200_000

SR = 8000
FRAME_MS = 25
SPF = SR * FRAME_MS // 1000  # 200 samples/frame
GAP_FRAMES = 10  # > min_gap (150 ms = 6 frames): never bridged
LEAD_FRAMES = 4
FMTS = ("pcm16", "ulaw", "alaw")


def _utts(aid: int) -> int:
    return 1 + aid % 3


def _seg_frames(aid: int, i: int) -> int:
    # 8..11 frames = 200..275 ms, all >= min_len (200 ms)
    return 8 + (aid + i) % 4


def _amp(aid: int) -> int:
    return 8000 + (aid % 5) * 1000


def _total_frames(aid: int) -> int:
    return LEAD_FRAMES + sum(
        _seg_frames(aid, i) + GAP_FRAMES for i in range(_utts(aid))
    )


def synth_vad_wav(aid: int) -> bytes:
    """Frame-aligned utterance pattern: LEAD silence, then per utterance a
    constant-amplitude burst followed by GAP silence. Encoding rotates
    pcm16 / ulaw / alaw by aid % 3."""
    import numpy as np

    from ocr_spark.operators.audio_codecs import wav_encode

    x = np.zeros(_total_frames(aid) * SPF, dtype=np.int16)
    pos = LEAD_FRAMES
    a = _amp(aid)
    for i in range(_utts(aid)):
        nf = _seg_frames(aid, i)
        x[pos * SPF : (pos + nf) * SPF] = a
        pos += nf + GAP_FRAMES
    return wav_encode(x, SR, fmt=FMTS[aid % 3])


def run(n: int, cpus: int) -> dict:
    from pyspark.sql import functions as F

    from ocr_spark.operators.multimodal import audio_segments
    from ocr_spark.session import get_spark

    spark = get_spark("bench_audio_vad", cpus=cpus)

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            ids = pdf["id"].tolist()
            yield pd.DataFrame(
                {
                    "media_ref": [f"a{a}.wav" for a in ids],
                    "content": [synth_vad_wav(a) for a in ids],
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

    # closed-form expectations
    exp_rows = sum(_utts(a) for a in range(n))
    exp_speech_sec = sum(
        _seg_frames(a, i) for a in range(n) for i in range(_utts(a))
    ) * FRAME_MS / 1000.0
    audio_sec = sum(_total_frames(a) for a in range(n)) * FRAME_MS / 1000.0

    t0 = time.time()
    segs = audio_segments(assets).persist()
    aid = F.regexp_extract("media_ref", r"a(\d+)\.wav", 1).cast("long")
    agg = segs.agg(
        F.count("*").alias("rows"),
        F.sum(F.col("error").isNotNull().cast("long")).alias("errs"),
        F.sum((F.col("seg_idx").isNull()).cast("long")).alias("acct"),
        F.sum(
            (F.col("n_segments") != 1 + aid % 3).cast("long")
        ).alias("bad_nseg"),
        F.sum(F.col("end_sec") - F.col("start_sec")).alias("speech"),
        # frame-grid alignment: start/end are multiples of 25 ms (x*40 is an
        # integer up to float ulp — the recomposed product differs by 1 ulp)
        F.sum(
            (
                (F.abs(F.col("start_sec") * 40 - F.round(F.col("start_sec") * 40)) > 1e-9)
                | (F.abs(F.col("end_sec") * 40 - F.round(F.col("end_sec") * 40)) > 1e-9)
            ).cast("long")
        ).alias("offgrid"),
        F.sum((F.col("clip_ratio") != 0.0).cast("long")).alias("clipped"),
        # lossless subset: peak must equal the planted amplitude exactly
        F.sum(
            (
                (aid % 3 == 0)
                & (F.col("peak") != (8000 + (aid % 5) * 1000) / F.lit(32768.0))
            ).cast("long")
        ).alias("bad_peak"),
    ).first()
    vad_wall = round(time.time() - t0, 2)

    assert agg["rows"] == exp_rows, (agg["rows"], exp_rows)
    assert agg["errs"] == 0 and agg["acct"] == 0 and agg["bad_nseg"] == 0
    assert agg["offgrid"] == 0 and agg["clipped"] == 0
    assert agg["bad_peak"] == 0
    assert abs(float(agg["speech"]) - exp_speech_sec) < 1e-6 * exp_rows, (
        agg["speech"],
        exp_speech_sec,
    )
    segs.unpersist()
    assets.unpersist()
    return {
        "audio_hours": round(audio_sec / 3600, 2),
        "segment_rows": exp_rows,
        "synth_wall_s": synth_wall,
        "vad_wall_s": vad_wall,
        "assets_per_sec": round(n / vad_wall),
        "audio_sec_per_sec": round(audio_sec / vad_wall),
    }
