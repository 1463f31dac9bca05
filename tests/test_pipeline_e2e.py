"""End-to-end extraction: Spark pipeline output vs goldens computed by the
independent test-side implementations, compared with exceptAll BOTH ways
(span-sequence equality — SURVEY.md §2.6, BASELINE.json invariant)."""

import pytest
from pyspark.sql import functions as F

from ocr_spark.fixtures import generate_docs
from ocr_spark.pipeline import extract_documents
from ocr_spark.schema import DOC_SCHEMA, OUTPUT_SCHEMA
from ocr_spark.sources.media import synth_media_bytes
from tests import reference_impl as R
from tests import reference_impl_heavy as RH

RULES = [["hte", "the"], ["wrold", "world"], ["Orchestratr", "Orchestrator"], ["dumy", "dummy"]]

N_DOCS = 80


def golden_doc(doc: dict, rules) -> dict:
    """Independent per-doc golden: same written spec, separate code."""
    vrules = R.validate_rules(list(rules))
    spans_out = []
    confs = []
    has_media = False
    for s in sorted(doc["spans"], key=lambda s: s["offset"]):
        kind, text = s["kind"], s["text"]
        if kind == "text":
            text = R.extract_text(text, vrules)
        elif kind == "html":
            text = R.process_output(RH.html_extract(text), vrules)
        elif kind == "pdf":
            text = R.process_output(RH.pdf_extract(text), vrules)
        else:  # ocr / media
            has_media = True
            t, c = RH.media_recognize(synth_media_bytes(s["media_ref"]))
            text = R.process_output(t, vrules)
            confs.append(c)
        spans_out.append(
            {"kind": kind, "text": text, "media_ref": s["media_ref"], "offset": s["offset"]}
        )
    valid = [c for c in confs if c > 0.0]
    conf = (sum(valid) / len(valid) if valid else 0.0) if has_media else None
    return {
        "doc_id": doc["doc_id"],
        "spans": spans_out,
        "confidence": conf,
        "extractor": "ocr_spark",
        "error": None,
        "error_source": None,
    }


@pytest.fixture(scope="module")
def result_and_golden(spark):
    docs = generate_docs(N_DOCS)
    df = spark.createDataFrame(docs, DOC_SCHEMA)
    result = extract_documents(df, rules=RULES)
    golden = spark.createDataFrame([golden_doc(d, RULES) for d in docs], OUTPUT_SCHEMA)
    return result, golden


def test_row_count(result_and_golden):
    result, golden = result_and_golden
    assert result.count() == N_DOCS == golden.count()


def test_span_sequence_equality_except_all_both_ways(result_and_golden):
    result, golden = result_and_golden
    # compare on the invariant columns (confidence compared separately at
    # tolerance — exact float equality across two impls is not the contract)
    cols = ["doc_id", "spans", "extractor", "error", "error_source"]
    a = result.select(cols)
    b = golden.select(cols)
    extra = a.exceptAll(b).collect()
    missing = b.exceptAll(a).collect()
    assert extra == [] and missing == [], (
        f"extra={extra[:2]}\nmissing={missing[:2]}"
    )


def test_confidence_close(result_and_golden):
    result, golden = result_and_golden
    j = (
        result.select("doc_id", F.col("confidence").alias("c1"))
        .join(golden.select("doc_id", F.col("confidence").alias("c2")), "doc_id")
        .collect()
    )
    assert len(j) == N_DOCS
    for r in j:
        if r.c1 is None or r.c2 is None:
            assert r.c1 is None and r.c2 is None, r
        else:
            assert abs(r.c1 - r.c2) < 1e-9, r


def test_output_schema_stable(result_and_golden):
    result, _ = result_and_golden
    assert [f.name for f in result.schema.fields] == [
        "doc_id", "spans", "confidence", "extractor", "error", "error_source",
    ]


def test_salted_repartition_same_result(spark):
    """Salting must not change results, only placement (north-rule skew)."""
    docs = generate_docs(30)
    df = spark.createDataFrame(docs, DOC_SCHEMA)
    a = extract_documents(df, rules=RULES).select("doc_id", "spans")
    b = extract_documents(df, rules=RULES, salt_partitions=6).select("doc_id", "spans")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_span_order_is_offset_order(result_and_golden):
    result, _ = result_and_golden
    bad = result.select(
        F.exists(
            F.zip_with(
                "spans",
                F.slice("spans", 2, 10_000),
                lambda a, b: a["offset"] >= b["offset"],
            ),
            lambda x: x,
        ).alias("disordered")
    ).where("disordered").count()
    assert bad == 0


def test_span_chunk_threshold_same_result(spark):
    """Giant-doc chunking (span_chunk_threshold) must be invisible in the
    output: identical spans, confidence (1e-9), and error envelope vs the
    unchunked path — including a 3000-media-span pathological doc, a
    zero-span doc and a doc whose spans all share one offset."""
    from ocr_spark.fixtures import generate_docs, media_ref_for
    from ocr_spark.schema import DOC_SCHEMA

    docs = generate_docs(60)
    giant = {
        "doc_id": "giant-0",
        "spans": [
            {
                "kind": "media",
                "text": None,
                "media_ref": media_ref_for("giant-0", k),
                "offset": k,
            }
            for k in range(3000)
        ],
    }
    # a giant doc whose LAST chunk holds the only error (None media_ref)
    bad = {
        "doc_id": "giant-bad",
        "spans": (
            [
                {
                    "kind": "media",
                    "text": None,
                    "media_ref": media_ref_for("giant-bad", k),
                    "offset": k,
                }
                for k in range(900)
            ]
            + [{"kind": "media", "text": None, "media_ref": None, "offset": 900}]
        ),
    }
    empty = {"doc_id": "empty-0", "spans": []}  # zero spans: still one chunk row
    # equal offsets across chunk boundaries: the stable A6 sort keeps input
    # order, so chunks must re-merge in chunk order (this doc_id's three
    # chunks land in salt partitions in reverse chunk order)
    ties = {
        "doc_id": "ties-3",
        "spans": [
            {"kind": "text", "text": f"t{k}", "media_ref": None, "offset": 0}
            for k in range(600)
        ],
    }
    df = spark.createDataFrame(docs + [giant, bad, empty, ties], DOC_SCHEMA)

    plain = {r.doc_id: r for r in extract_documents(df, rules=RULES).collect()}
    chunked = {
        r.doc_id: r
        for r in extract_documents(
            df, rules=RULES, salt_partitions=16, span_chunk_threshold=256
        ).collect()
    }
    assert set(plain) == set(chunked)
    for d in plain:
        a, b = plain[d], chunked[d]
        assert a.spans == b.spans, d
        if a.confidence is None:
            assert b.confidence is None, d
        else:
            assert abs(a.confidence - b.confidence) < 1e-9, d
        assert (a.error, a.error_source) == (b.error, b.error_source), d


def test_chunked_salted_plan_scans_once(spark, tmp_path):
    """Chunking is one step of the single plan: with salting and chunking
    on, the source is scanned once and the plan shuffles twice (salt
    repartition, chunk re-merge)."""
    path = str(tmp_path / "docs.parquet")
    spark.createDataFrame(generate_docs(20), DOC_SCHEMA).write.parquet(path)
    out = extract_documents(
        spark.read.parquet(path), rules=RULES, salt_partitions=4, span_chunk_threshold=8
    )
    assert len(out.collect()) == 20  # runs, and finalizes, this frame's own plan
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan, plan
    plan = plan.split("== Initial Plan ==")[0]
    assert plan.count("FileScan") == 1, plan
    assert plan.count("Exchange hashpartitioning") == 2, plan
