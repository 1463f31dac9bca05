"""Correctness check for the benchmark: Spark output vs a local replay.

Pure Python, no Spark. A document's output is compared as its span sequence
``(kind, text, media_ref, offset)`` in output order, plus whether it carries
an error envelope and from which span kind. The expected side is built by
replaying each sampled input document through the layers' public functions
in the benchmark process (``replay_doc``); text-kind spans use the Python
twin of the native T1-T7 expressions below, so the codegen'd path is checked
against an independent implementation.
"""

from __future__ import annotations

import re
from collections import Counter
from collections.abc import Callable, Iterable

# Rule-trigger tokens of the fixture generator (T5 literal replacements).
RULES = [
    ("hte", "the"),
    ("wrold", "world"),
    ("Orchestratr", "Orchestrator"),
    ("dumy", "dummy"),
]

_JAVA_WS = "[ \t\n\x0b\f\r]"
_STRIP = re.compile(rf"^{_JAVA_WS}+|{_JAVA_WS}+$")
_HYPHEN = re.compile(r"([^\W\d_])-\n([^\W\d_])")
_SQUEEZE = re.compile(r"[ \t]+")
_BLANKS = re.compile(r"\n{2,}")


def _rules(t: str, rules) -> str:
    for find, repl in rules:
        t = t.replace(find, repl)
    return t


def text_kind(t: str | None, rules=RULES) -> str | None:
    """Python twin of functions.text.extract_text: T1 -> T7 -> T2/T3/T4 -> T5."""
    if t is None:
        return None
    t = t.replace("\r\n", "\n").replace("\r", "\n")
    t = _HYPHEN.sub(r"\1\2", t)
    t = _BLANKS.sub("\n", _SQUEEZE.sub(" ", _STRIP.sub("", t)))
    return _rules(t, rules)


def postprocess(t: str, rules=RULES) -> str:
    """The reference postprocessor applied to heavy-kind extractor output:
    newline normalisation, strip, space squeeze, blank-line collapse, rules."""
    t = t.replace("\r\n", "\n").replace("\r", "\n").strip()
    return _rules(_BLANKS.sub("\n", _SQUEEZE.sub(" ", t)), rules)


def replay_doc(spans: list[dict], kernels: dict[str, Callable], rules=RULES) -> dict:
    """Expected output of one document.

    `kernels` maps a span kind to ``fn(span) -> str`` (html, pdf, ocr,
    media); a kernel that raises leaves the span's payload unchanged and puts
    an error envelope on the document, attributed to the first failing span
    in offset order.
    """
    out, err_src = [], None
    for s in sorted(spans, key=lambda s: s["offset"]):
        kind, text = s["kind"], s["text"]
        if kind == "text":
            text = text_kind(text, rules)
        elif kind in kernels:
            try:
                text = postprocess(kernels[kind](s), rules)
            except Exception:  # the engine's error envelope, replayed
                err_src = err_src or kind
        out.append((kind, text, s["media_ref"], s["offset"]))
    return {"spans": out, "error": err_src is not None, "error_source": err_src}


def actual_doc(spans: list[dict], error, error_source) -> dict:
    """Normalise one output row to the shape replay_doc returns."""
    return {
        "spans": [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans],
        "error": error is not None,
        "error_source": error_source,
    }


def mismatched_docs(
    input_ids: Iterable[str],
    output_ids: Iterable[str],
    expected: dict[str, dict],
    actual: dict[str, dict],
) -> set[str]:
    """Doc ids the engine got wrong: missing from the output, emitted more
    than once or not in the input, or (for the sampled docs in `expected`)
    with a span sequence or error envelope that differs from the replay."""
    want = set(input_ids)
    seen = Counter(output_ids)
    bad = {d for d in want if seen[d] != 1}
    bad |= {d for d in seen if d not in want}
    bad |= {d for d, exp in expected.items() if actual.get(d) != exp}
    return bad
