"""End-to-end binaryFile sidecar path (S1 production seam): real payload
files on disk → binaryFile scan → broadcast join on media_ref → bytes decoded
inside the Arrow stage — with missing-ref and corrupt-payload envelopes."""

from __future__ import annotations

import numpy as np
import pytest

from ocr_spark.sources.media import sidecar_df, synth_media_bytes


@pytest.fixture(scope="module")
def payload_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("payloads")
    (d / "good1.bin").write_bytes(synth_media_bytes("sidecar-a"))
    (d / "good2.bin").write_bytes(synth_media_bytes("sidecar-b"))
    (d / "corrupt.bin").write_bytes(b"short")  # < 1024 bytes → decode error
    return d


def _expected_text(payload: bytes, rules) -> str:
    from ocr_spark.operators.dispatch import _postprocess_text
    from ocr_spark.operators.media_kernels import bytes_to_image, recognize_gray_batch, to_grayscale

    gray = to_grayscale(bytes_to_image(payload))
    texts, _ = recognize_gray_batch(gray[None])
    return _postprocess_text(texts[0], rules)


def test_sidecar_e2e(spark, payload_dir):
    from ocr_spark.pipeline import extract_documents
    from ocr_spark.schema import DOC_SCHEMA

    sidecar = sidecar_df(spark, str(payload_dir) + "/*.bin")
    uris = {r.media_ref.rsplit("/", 1)[-1]: r.media_ref for r in sidecar.collect()}
    assert set(uris) == {"good1.bin", "good2.bin", "corrupt.bin"}

    rules = [["hte", "the"]]

    def doc(doc_id, spans):
        return (doc_id, spans)

    docs = spark.createDataFrame(
        [
            doc(
                "a",
                [
                    ("text", "  hello \r\nworld  ", None, 0),
                    ("media", None, uris["good1.bin"], 1),
                ],
            ),
            doc("b", [("media", None, uris["corrupt.bin"], 0)]),
            doc("c", [("ocr", None, "missing://nope", 0)]),
            doc("d", [("text", "pure  text", None, 0)]),
            doc("e", [("media", None, uris["good2.bin"], 0)]),
        ],
        DOC_SCHEMA,
    )
    out = {
        r.doc_id: r
        for r in extract_documents(docs, rules=rules, media_sidecar=sidecar).collect()
    }
    assert len(out) == 5

    # good payloads: decoded through the SAME kernel chain, no envelope
    good1 = (payload_dir / "good1.bin").read_bytes()
    assert out["a"].error is None
    assert out["a"].spans[1].text == _expected_text(good1, rules)
    # T1→T4: "\r\n"→"\n", strip, [ \t]+ squeeze (single pre-\n space remains)
    assert out["a"].spans[0].text == "hello \nworld"  # native text path intact
    good2 = (payload_dir / "good2.bin").read_bytes()
    assert out["e"].error is None
    assert out["e"].spans[0].text == _expected_text(good2, rules)

    # corrupt payload → per-doc envelope, doc keeps flowing
    assert out["b"].error is not None and "too small" in out["b"].error
    assert out["b"].error_source == "media"

    # ref absent from the sidecar → unresolvable envelope
    assert out["c"].error is not None and "unresolvable" in out["c"].error
    assert out["c"].error_source == "ocr"

    # pure-text doc untouched, no payload map leaking into the output schema
    assert out["d"].error is None
    assert set(out["d"].asDict().keys()) == {
        "doc_id", "spans", "confidence", "extractor", "error", "error_source",
    }


def test_sidecar_with_chunking_same_result(spark, payload_dir):
    """Giant-doc chunking composes with the sidecar: each chunk row carries
    only its own payloads, and the re-merged output equals the sidecar-alone
    run row for row — including a doc whose LAST chunk holds a missing ref."""
    from ocr_spark.pipeline import extract_documents
    from ocr_spark.schema import DOC_SCHEMA

    sidecar = sidecar_df(spark, str(payload_dir) + "/*.bin")
    uris = sorted(r.media_ref for r in sidecar.collect() if "good" in r.media_ref)
    long_doc = [
        span
        for k in range(5)
        for span in (("text", f"t {k}", None, 2 * k), ("media", None, uris[k % 2], 2 * k + 1))
    ] + [("ocr", None, "missing://last", 10)]  # 11 spans: 3 chunks of <= 4
    docs = spark.createDataFrame(
        [
            ("long", long_doc),
            ("short", [("media", None, uris[0], 0)]),
            ("empty", []),
        ],
        DOC_SCHEMA,
    )
    alone = {r.doc_id: r for r in extract_documents(docs, media_sidecar=sidecar).collect()}
    chunked = {
        r.doc_id: r
        for r in extract_documents(
            docs, media_sidecar=sidecar, span_chunk_threshold=4, salt_partitions=3
        ).collect()
    }
    assert set(chunked) == set(alone) == {"long", "short", "empty"}
    for d, a in alone.items():
        b = chunked[d]
        assert (b.spans, b.extractor, b.error, b.error_source) == (
            a.spans, a.extractor, a.error, a.error_source,
        ), d
        # chunk sums may add the same confidences in another order
        assert b.confidence == pytest.approx(a.confidence, abs=1e-9), d
    assert "unresolvable" in alone["long"].error
    assert alone["long"].error_source == "ocr"
    assert alone["long"].confidence is not None and alone["empty"].confidence is None


def test_sidecar_duplicate_refs_tolerated(spark, payload_dir):
    """A ref duplicated in the sidecar (overlapping globs, unioned frames)
    must not blow up map_from_entries (review finding: 'Duplicate map key'
    killed the job)."""
    from ocr_spark.pipeline import extract_documents
    from ocr_spark.schema import DOC_SCHEMA

    base = sidecar_df(spark, str(payload_dir) + "/*.bin")
    doubled = base.unionByName(base)  # every ref twice
    uri = [r.media_ref for r in base.collect() if r.media_ref.endswith("good1.bin")][0]
    docs = spark.createDataFrame(
        [("a", [("media", None, uri, 0)])], DOC_SCHEMA
    )
    out = extract_documents(docs, media_sidecar=doubled).collect()
    assert len(out) == 1 and out[0].error is None


def test_sidecar_png_payloads_end_to_end(spark, tmp_path):
    """REAL image files on disk: PNG payloads (any size) decode through the
    genuine codec inside the Arrow stage and feed the same kernel chain —
    the full S1 production path with an actual format, no stubs."""
    import numpy as np

    from ocr_spark.operators.cloud_engine import png_encode
    from ocr_spark.operators.media_kernels import (
        IMG_SIDE,
        recognize_gray_batch,
        to_grayscale,
    )
    from ocr_spark.pipeline import extract_documents
    from ocr_spark.schema import DOC_SCHEMA
    from ocr_spark.sources.media import synth_media_batch

    d = tmp_path / "pngs"
    d.mkdir()
    # one native-size grayscale scan, one larger RGB image needing resize
    g32 = synth_media_batch(["png-a"])[0]
    (d / "scan32.png").write_bytes(png_encode(g32))
    rng = np.random.default_rng(55)
    big = rng.integers(0, 256, (48, 64, 3), np.uint8)
    (d / "photo.png").write_bytes(png_encode(big))

    sidecar = sidecar_df(spark, str(d) + "/*.png")
    uris = {r.media_ref.rsplit("/", 1)[-1]: r.media_ref for r in sidecar.collect()}
    docs = spark.createDataFrame(
        [
            ("a", [("media", None, uris["scan32.png"], 0)]),
            ("b", [("ocr", None, uris["photo.png"], 0)]),
        ],
        DOC_SCHEMA,
    )
    out = {
        r.doc_id: r
        for r in extract_documents(docs, media_sidecar=sidecar).collect()
    }
    assert out["a"].error is None and out["b"].error is None
    # doc a: decoded 32x32 gray == the original → same text as direct kernels
    texts, _ = recognize_gray_batch(g32[None])
    from ocr_spark.operators.dispatch import _postprocess_text

    assert out["a"].spans[0].text == _postprocess_text(texts[0], [])
    # doc b: RGB → gray → ASPECT-PRESERVING fit+pad to kernel size (the K6
    # geometry — not a distorting square resize), then recognized
    from ocr_spark.operators.dispatch import _fit_pad_gray

    g = _fit_pad_gray(to_grayscale(big), IMG_SIDE)
    assert g.shape == (IMG_SIDE, IMG_SIDE)
    # 48x64 → ratio 0.5 → content occupies 24 rows, zero-pad below
    assert (g[24:] == 0).all() and g[:24].any()
    texts_b, _ = recognize_gray_batch(g[None])
    assert out["b"].spans[0].text == _postprocess_text(texts_b[0], [])
