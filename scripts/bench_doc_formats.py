"""Scale evidence for office/ebook/markup extraction (operators/doc_formats):
N payloads synthesized executor-side rotating the five formats —
DOCX (did%5==0), EPUB (1), ODT (2), RTF (3), LaTeX (4) — each carrying a
per-doc sentinel sentence "payload {did} sentinel" plus a title "T{did}"
where the format records one.

Exactness is closed-form:
  * N rows, zero errors;
  * every row's sniffed format equals the rotation's arithmetic;
  * every row's text contains its own sentinel (checked row-wise against
    the did parsed back out of media_ref — zero mismatches);
  * DOCX/EPUB/ODT titles equal "T{did}" row-wise (RTF/LaTeX fixtures
    carry none / \title-derived respectively, asserted separately).

Run: python bench.py --suite doc_formats [--scale 200000]
"""

from __future__ import annotations

import time

SCALE = 200_000

FORMATS = ["docx", "epub", "odt", "rtf", "tex", "xlsx", "pptx"]


def run(n: int, cpus: int) -> dict:
    from pyspark.sql import functions as F

    from ocr_spark.operators.doc_formats import (
        document_text,
        synth_docx,
        synth_epub,
        synth_odt,
        synth_pptx,
        synth_rtf,
        synth_xlsx,
    )
    from ocr_spark.session import get_spark

    spark = get_spark("bench_doc_formats", cpus=cpus)

    def payload(did: int) -> bytes:
        sent = f"payload {did} sentinel"
        body = [
            f"Paragraph one of document {did} with enough words to matter.",
            sent,
            f"Closing remark {did % 97}.",
        ]
        kind = did % 7
        if kind == 0:
            return synth_docx(
                [("Heading1", f"T{did}")] + body, title=f"T{did}",
                table=[["k", str(did % 13)]],
            )
        if kind == 1:
            return synth_epub(
                [("c1", "".join(f"<p>{p}</p>" for p in body)),
                 ("c2", f"<p>Second chapter of {did}.</p>")],
                title=f"T{did}",
            )
        if kind == 2:
            return synth_odt(
                [("h", 1, f"T{did}")] + body + [("list", ["alpha", "beta"])],
                title=f"T{did}",
            )
        if kind == 3:
            return synth_rtf(body)
        if kind == 4:
            tex = (
                "\\documentclass{article}\\title{T%d}\\begin{document}"
                "\\section{Intro}\n%s\n\\end{document}"
                % (did, "\n\n".join(body))
            )
            return tex.encode()
        if kind == 5:
            return synth_xlsx([(f"T{did}", [[p] for p in body])])
        return synth_pptx([(f"T{did}", body)])

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            ids = pdf["id"].tolist()
            yield pd.DataFrame(
                {
                    "media_ref": [f"d{d}.bin" for d in ids],
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
    out = document_text(assets)
    did = F.regexp_extract("media_ref", r"d(\d+)\.bin", 1).cast("long")
    fmt_expect = F.element_at(F.array(*[F.lit(f) for f in FORMATS]), (did % 7 + 1).cast("int"))
    sentinel = F.concat(F.lit("payload "), did, F.lit(" sentinel"))
    titled = did % 7 != 3  # every format but RTF records a title
    agg = out.agg(
        F.count("*").alias("rows"),
        F.sum(F.col("error").isNotNull().cast("long")).alias("errs"),
        F.sum((F.col("format") != fmt_expect).cast("long")).alias("bad_fmt"),
        F.sum((~F.col("text").contains(sentinel)).cast("long")).alias("lost"),
        F.sum(
            (titled & (F.col("title") != F.concat(F.lit("T"), did))).cast("long")
        ).alias("bad_title"),
        F.sum("n_chars").alias("chars"),
    ).first()
    extract_wall = round(time.time() - t0, 2)
    assets.unpersist()

    assert agg["rows"] == n and agg["errs"] == 0, agg
    assert agg["bad_fmt"] == 0 and agg["lost"] == 0 and agg["bad_title"] == 0, agg
    return {
        "synth_wall_s": synth_wall,
        "extract_wall_s": extract_wall,
        "docs_per_sec": round(n / extract_wall),
        "total_chars": int(agg["chars"]),
    }
