"""Error-envelope ordering and degradation semantics of the dispatch stage
(ADVICE round 1): first error = failing span with the smallest span position
(reference per-document order), and a poison media payload degrades to a
per-doc envelope instead of failing the whole task."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest

from ocr_spark.operators.dispatch import _process_batch

SPAN_T = pa.struct(
    [
        ("kind", pa.string()),
        ("text", pa.string()),
        ("media_ref", pa.string()),
        ("offset", pa.int32()),
    ]
)

BAD_PDF = '{"blocks": [{"text": "no coords"}]}'  # KeyError inside XY-cut


def _batch(docs: list[list[tuple[str, str | None, str | None, int]]]) -> pa.RecordBatch:
    spans = pa.array(
        [
            [
                {"kind": k, "text": t, "media_ref": m, "offset": o}
                for (k, t, m, o) in doc
            ]
            for doc in docs
        ],
        type=pa.list_(SPAN_T),
    )
    ids = pa.array([f"d{i}" for i in range(len(docs))])
    return pa.RecordBatch.from_arrays([ids, spans], names=["doc_id", "spans"])


def _run(batch, **kw):
    out = _process_batch(batch, rules=[], **kw)
    return {
        out.column("doc_id")[i].as_py(): {
            "error": out.column("error")[i].as_py(),
            "error_source": out.column("error_source")[i].as_py(),
            "spans": out.column("spans")[i].as_py(),
        }
        for i in range(len(out.column("doc_id")))
    }


def test_first_error_is_span_order_not_kind_order():
    # media span FIRST (position 0, unresolvable), failing pdf span SECOND:
    # the envelope must report the media error, even though the stage
    # processes html, then pdf, then media
    docs = [
        [
            ("ocr", None, None, 0),  # null media_ref → unresolvable
            ("pdf", BAD_PDF, None, 1),
        ],
        [  # reversed: pdf failure comes first
            ("pdf", BAD_PDF, None, 0),
            ("ocr", None, None, 1),
        ],
    ]
    out = _run(_batch(docs))
    assert out["d0"]["error_source"] == "ocr"
    assert "unresolvable" in out["d0"]["error"]
    assert out["d1"]["error_source"] == "pdf"
    assert "KeyError" in out["d1"]["error"]


def test_poison_payload_degrades_per_doc(monkeypatch):
    from ocr_spark.operators import media_kernels

    real = media_kernels.recognize_gray_batch
    # poison marker: the all-255 image makes the (fake) kernel blow up —
    # only when it is present in the batch
    def raising(grays):
        if (grays == 255).all(axis=(1, 2)).any():
            raise RuntimeError("corrupt payload")
        return real(grays)

    monkeypatch.setattr(media_kernels, "recognize_gray_batch", raising)

    docs = [
        [("media", None, "m-good-1", 0)],
        [("media", None, "POISON", 0)],
        [("media", None, "m-good-3", 0)],
    ]
    batch = _batch(docs)

    # also poison the resolver output for the marked ref
    from ocr_spark.sources import media as media_src

    real_resolve = media_src.resolve_gray_batch

    def resolve(refs):
        grays, ok = real_resolve([r if r != "POISON" else "x" for r in refs])
        for i, r in enumerate(refs):
            if r == "POISON":
                grays[i] = 255
        return grays, ok

    monkeypatch.setattr(media_src, "resolve_gray_batch", resolve)

    out = _run(batch)
    # the poisoned doc carries an envelope; the good docs extracted normally
    assert out["d1"]["error"] is not None and "corrupt payload" in out["d1"]["error"]
    assert out["d1"]["error_source"] == "media"
    for d in ("d0", "d2"):
        assert out[d]["error"] is None
        assert out[d]["spans"][0]["text"] not in (None, "")
    # good docs' text matches the unpoisoned batch path
    clean = _run(
        _batch([[("media", None, "m-good-1", 0)], [("media", None, "m-good-3", 0)]])
    )
    assert out["d0"]["spans"] == clean["d0"]["spans"]
    assert out["d2"]["spans"] == clean["d1"]["spans"]


def test_charset_guard_asserts():
    from ocr_spark.operators import media_kernels as mk

    old = mk.CHARSET
    try:
        mk.CHARSET = list("abcdefghijklmnopqrstuvwxyz0123456789 ")  # 37 > 32
        from ocr_spark.sources.media import synth_media_batch

        with pytest.raises(AssertionError):
            # needs an image WITH detected bands (the guard sits past the
            # empty-detection early-exit)
            mk.recognize_gray_batch(synth_media_batch(["m-good-1"]))
    finally:
        mk.CHARSET = old
