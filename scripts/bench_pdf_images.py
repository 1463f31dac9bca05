"""Scale evidence for embedded-PDF-image extraction (pdf_image_assets):
N single-page PDFs synthesized executor-side, each carrying 2 image
XObjects rotating the codec mix — JPEG (DCTDecode passthrough), Flate RGB,
Flate+PNG-predictor gray, 1-bit bilevel, CCITT G4 fax, JBIG2 generic
region, lossless JPEG2000, lossy (9/7 quantized) JPEG2000, and
halftone-coded JBIG2 — plus a text block, so the bench exercises every
decode path at once. Every 4th document is additionally ENCRYPTED with
the standard security handler (rotating RC4-128, AES-128/V4, AES-256/R5
and AES-256/R6 — the last exercising the deliberately expensive
Algorithm 2.B authentication per document), so the crypt layer's
throughput cost is measured in-line, not in isolation.

Exactness is closed-form and row-wise:
  * 2N image rows, zero errors (incl. every encrypted document);
  * each row's (width, height) equals the deterministic per-doc size
    derived from the did parsed back out of media_ref (zero mismatches);
  * format arithmetic holds (img0 rotates the 9 codecs by did%9 ->
    jpeg|png, img1 is always Flate RGB -> png).

Run: python bench.py --suite pdf_images [--scale 50000]
"""

from __future__ import annotations

import time

SCALE = 50_000

CODECS = ["jpeg", "flate", "flate_png", "bilevel", "ccitt", "jbig2", "jpx",
          "jpx_lossy", "jbig2_halftone"]
ENC_VARIANTS = ["rc4-128", "aesv2", "aes-r5", "aesv3"]


def run(n: int, cpus: int) -> dict:
    import numpy as np
    from pyspark.sql import functions as F

    from ocr_spark.operators.multimodal import pdf_image_assets
    from ocr_spark.operators.pdf_layout import pdf_write_images
    from ocr_spark.session import get_spark

    spark = get_spark("bench_pdf_images", cpus=cpus)

    def payload(did: int) -> bytes:
        # deterministic per-doc sizes: img0 (w0,h0), img1 fixed-ish RGB
        w0, h0 = 16 + did % 17, 12 + did % 13
        img0 = ((np.arange(h0 * w0).reshape(h0, w0) * (did % 251 + 1)) % 256).astype(
            np.uint8
        )
        c0 = CODECS[did % 9]
        if c0 in ("bilevel", "ccitt", "jbig2"):
            img0 = (img0 > 127).astype(np.uint8) * 255
        w1, h1 = 8 + did % 5, 6 + did % 7
        img1 = (
            (np.arange(h1 * w1 * 3).reshape(h1, w1, 3) + did) % 256
        ).astype(np.uint8)
        pdf = pdf_write_images(
            [{"x": 40, "y": 40, "text": f"scan {did}"}],
            [(img0, c0), (img1, "flate")],
        )
        if did % 4 == 0:
            from ocr_spark.operators.pdf_crypt import encrypt_pdf

            pdf = encrypt_pdf(pdf, variant=ENC_VARIANTS[(did // 4) % 4])
        return pdf

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            ids = pdf["id"].tolist()
            yield pd.DataFrame(
                {
                    "doc_id": [f"d{d}" for d in ids],
                    "payload": [payload(d).decode("latin-1") for d in ids],
                }
            )

    t0 = time.time()
    docs = (
        spark.range(n)
        .repartition(4 * cpus)
        .mapInPandas(gen, schema="doc_id string, payload string")
        .persist()
    )
    assert docs.count() == n
    synth_wall = round(time.time() - t0, 2)

    t0 = time.time()
    out = pdf_image_assets(docs)
    did = F.regexp_extract("doc_id", r"d(\d+)", 1).cast("long")
    img_i = F.regexp_extract("media_ref", r"#img(\d+)", 1).cast("int")
    w_exp = F.when(img_i == 0, (did % 17 + 16)).otherwise(did % 5 + 8).cast("int")
    h_exp = F.when(img_i == 0, (did % 13 + 12)).otherwise(did % 7 + 6).cast("int")
    fmt_exp = F.when(
        (img_i == 0) & (did % 9 == 0), F.lit("jpeg")
    ).otherwise(F.lit("png"))
    agg = out.agg(
        F.count("*").alias("rows"),
        F.sum(F.col("error").isNotNull().cast("long")).alias("errs"),
        F.sum((F.col("width") != w_exp).cast("long")).alias("bad_w"),
        F.sum((F.col("height") != h_exp).cast("long")).alias("bad_h"),
        F.sum((F.col("format") != fmt_exp).cast("long")).alias("bad_fmt"),
        F.sum(F.length("content")).alias("bytes_out"),
    ).first()
    extract_wall = round(time.time() - t0, 2)
    docs.unpersist()

    assert agg["rows"] == 2 * n and agg["errs"] == 0, agg
    assert agg["bad_w"] == 0 and agg["bad_h"] == 0 and agg["bad_fmt"] == 0, agg
    return {
        "n_images": 2 * n,
        "synth_wall_s": synth_wall,
        "extract_wall_s": extract_wall,
        "docs_per_sec": round(n / extract_wall),
        "images_per_sec": round(2 * n / extract_wall),
        "bytes_out": int(agg["bytes_out"]),
    }
