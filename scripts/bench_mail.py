"""Scale evidence for email-archive ingestion (sources/mail.mail_messages):
N messages synthesized executor-side as REAL RFC 5322/MIME wire bytes,
packed into MBOX archives of 8 messages each (the mailing-list-archive
shape). Message did rotates the MIME layout: plain (did%4==0),
multipart/alternative plain+html (1), html-only (2), plain + 2
attachments (3); every body carries the sentinel "mail body {did}" and
subject "S{did}".

Exactness is closed-form and row-wise:
  * N message rows from N/8 archives, zero errors;
  * every row's subject equals S{did} for the did parsed back out of
    media_ref + archive arithmetic (zero mismatches);
  * every row's text contains its own sentinel (html-only rows prove the
    boilerplate-strip path end to end);
  * attachment accounting: sum(n_attachments) == 2 * |{did%4==3}|.

Scale shape: ONE Arrow-batched mapInPandas stage, zero Exchange — a
100 TB mail corpus partitions by archive file and scales embarrassingly.

Run: python bench.py --suite mail [--scale 200000]
"""

from __future__ import annotations

import time

SCALE = 200_000

PER_BOX = 8


def run(n: int, cpus: int) -> dict:
    from pyspark.sql import functions as F

    from ocr_spark.session import get_spark
    from ocr_spark.sources.mail import mail_messages, synth_eml, synth_mbox

    spark = get_spark("bench_mail", cpus=cpus)
    n_boxes = (n + PER_BOX - 1) // PER_BOX

    def message(did: int) -> bytes:
        body = f"mail body {did}"
        kind = did % 4
        if kind == 0:
            return synth_eml(f"S{did}", text=body)
        if kind == 1:
            return synth_eml(
                f"S{did}", text=body,
                html=f"<html><body><p>html twin {did}</p></body></html>",
            )
        if kind == 2:
            return synth_eml(
                f"S{did}", text=None,
                html=f"<html><body><div>{body}</div>"
                     f"<script>junk()</script></body></html>",
            )
        return synth_eml(f"S{did}", text=body, attachments=2)

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            ids = pdf["id"].tolist()
            payloads = []
            for b in ids:
                lo = b * PER_BOX
                hi = min(lo + PER_BOX, n)
                payloads.append(
                    synth_mbox([message(d) for d in range(lo, hi)]).decode(
                        "latin-1"
                    )
                )
            yield pd.DataFrame(
                {"doc_id": [f"box{b}" for b in ids], "payload": payloads}
            )

    t0 = time.time()
    docs = (
        spark.range(n_boxes)
        .repartition(4 * cpus)
        .mapInPandas(gen, schema="doc_id string, payload string")
        .persist()
    )
    assert docs.count() == n_boxes
    synth_wall = round(time.time() - t0, 2)

    t0 = time.time()
    out = mail_messages(docs)
    box = F.regexp_extract("media_ref", r"box(\d+)#", 1).cast("long")
    mi = F.regexp_extract("media_ref", r"#m(\d+)", 1).cast("long")
    did = box * PER_BOX + mi
    agg = out.agg(
        F.count("*").alias("rows"),
        F.sum(F.col("error").isNotNull().cast("long")).alias("errs"),
        F.sum(
            (F.col("subject") != F.concat(F.lit("S"), did.cast("string")))
            .cast("long")
        ).alias("bad_subj"),
        F.sum(
            (
                ~F.col("text").contains(
                    F.concat(F.lit("mail body "), did.cast("string"))
                )
            ).cast("long")
        ).alias("bad_body"),
        F.sum("n_attachments").alias("atts"),
        F.sum(F.length("text")).alias("chars"),
    ).first()
    extract_wall = round(time.time() - t0, 2)
    docs.unpersist()

    n_att_docs = sum(1 for d in range(n) if d % 4 == 3)
    assert agg["rows"] == n and agg["errs"] == 0, agg
    assert agg["bad_subj"] == 0 and agg["bad_body"] == 0, agg
    assert agg["atts"] == 2 * n_att_docs, (agg["atts"], 2 * n_att_docs)
    return {
        "n_archives": n_boxes,
        "synth_wall_s": synth_wall,
        "extract_wall_s": extract_wall,
        "messages_per_sec": round(n / extract_wall),
        "chars_out": int(agg["chars"]),
    }
