"""The benchmark's correctness check must catch a wrong engine output.

Expected outputs come from replaying seeded fixture docs through the real
layer kernels; the "engine output" is that replay with one planted defect.

    python -m pytest perfbench/test_check.py -q
"""

from __future__ import annotations

import copy
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

from check import mismatched_docs, replay_doc, text_kind  # noqa: E402
from workloads import WORKLOADS, _kernels  # noqa: E402


@pytest.fixture(scope="module")
def docs():
    from ocr_spark.fixtures import generate_docs_chunk

    return generate_docs_chunk(0, 40, seed=11)


@pytest.fixture(scope="module")
def expected(docs):
    kernels = _kernels(sidecar=False)
    return {d["doc_id"]: replay_doc(d["spans"], kernels) for d in docs}


def _ids(docs):
    return [d["doc_id"] for d in docs]


def _multi_span_doc(expected):
    return next(k for k, v in expected.items() if len(v["spans"]) >= 3)


def test_exact_output_passes(docs, expected):
    assert mismatched_docs(_ids(docs), _ids(docs), expected, copy.deepcopy(expected)) == set()


def test_reordered_span_is_caught(docs, expected):
    actual = copy.deepcopy(expected)
    d = _multi_span_doc(expected)
    spans = actual[d]["spans"]
    spans[0], spans[1] = spans[1], spans[0]
    assert mismatched_docs(_ids(docs), _ids(docs), expected, actual) == {d}


def test_dropped_doc_is_caught(docs, expected):
    ids = _ids(docs)
    out = ids[:7] + ids[8:]
    assert mismatched_docs(ids, out, {}, {}) == {ids[7]}


def test_duplicated_and_foreign_docs_are_caught(docs, expected):
    ids = _ids(docs)
    assert mismatched_docs(ids, ids + [ids[3], "doc-x"], {}, {}) == {ids[3], "doc-x"}


def test_wrong_text_is_caught(docs, expected):
    actual = copy.deepcopy(expected)
    d = _multi_span_doc(expected)
    kind, text, ref, off = actual[d]["spans"][-1]
    actual[d]["spans"][-1] = (kind, (text or "") + " ", ref, off)
    assert mismatched_docs(_ids(docs), _ids(docs), expected, actual) == {d}


def test_lost_error_envelope_is_caught(docs):
    spans = copy.deepcopy(docs[0]["spans"]) + [
        {"kind": "media", "text": None, "media_ref": None, "offset": 999}
    ]
    exp = replay_doc(spans, _kernels(sidecar=False))
    assert exp["error"] and exp["error_source"] == "media"
    actual = {"x": dict(exp, error=False, error_source=None)}
    assert mismatched_docs(["x"], ["x"], {"x": exp}, actual) == {"x"}


@pytest.mark.parametrize(
    "raw, want",
    [
        ("  Hello \t World!  \n\n\nThis is a   test. \r\nNew line.\rAnother.  ",
         "Hello World! \nThis is a test. \nNew line.\nAnother."),
        ("hyphen exam-\nple broken wor-\nds in doc 3", "hyphen example broken words in doc 3"),
        ("numbers 12-\n34 must NOT join but alpha ab-\ncd must", "numbers 12-\n34 must NOT join but alpha abcd must"),
        ("token hte appears alongside wrold", "token the appears alongside world"),
        (None, None),
    ],
)
def test_text_twin_matches_reference_semantics(raw, want):
    assert text_kind(raw) == want


def test_benchmark_json_lists_the_printed_metrics():
    """BENCHMARK.json names exactly the metrics run.py prints, with units."""
    import json

    import run

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
