"""Benchmark harness.

`python bench.py` (no arguments) is the per-round driver contract: it runs
the headline queries at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
    {"metric": ..., "value": <total sec>, "unit": "sec",
     "queries": {name: sec, ...}, "sf": ...}

Headline = the flagship span-extraction pipeline over the deterministic
synthetic interleaved corpus (sized to the sf), plus the heavier operator
queries from __spark_entry__ over the driver tables. All timed executions
force full computation via the `noop` sink (no output-write cost, no
collect-to-driver bottleneck).

`python bench.py --suite NAME [--scale N] [--cpus C]` runs one scale suite,
scripts/bench_NAME.py, which holds only a `SCALE` default and
`run(n, cpus) -> dict` (build the input, warm up where it needs to, time the
phases, assert exactness). The harness calls `run` once, stops any Spark
session the suite started, and prints one JSON line: the suite's record, the
wall seconds of the call and a fingerprint (commit, cpus, nproc, library
versions). The line is appended to BENCH/history.jsonl tagged with
"suite": NAME.
"""

from __future__ import annotations

import argparse
import glob
import importlib.util
import json
import os
import platform
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

HISTORY = os.path.join(REPO, "BENCH", "history.jsonl")
NPROC = len(os.sched_getaffinity(0))
SUITES = sorted(
    os.path.basename(p)[len("bench_") : -len(".py")]
    for p in glob.glob(os.path.join(REPO, "scripts", "bench_*.py"))
)

# docs per unit scale-factor for the synthetic interleaved corpus;
# at sf0.1 → 5000 docs (~5% media-heavy with 256-1024 media spans each)
DOCS_PER_SF = 50_000

# Round-5 note: queries() was consolidated to 50 rows (driver CORRECTNESS
# cap), so several r4 bench names map to merged supersets — round-over-round
# totals must compare per-query where the name survived, and treat renames
# as supersets (they do strictly more work):
#   dedup_exact → fingerprint (adds the per-doc fp column)
#   quality_score + quality_repetition → quality_scores (one row, both)
#   token_counts (now also carries the real-BPE column of token_counts_bpe)
#   cosine_topk / ivf_topk → ann_recall (runs exact+lsh+ivf on one scan)
#   corpus_pipeline → corpus_pipeline_full (the full chain remains)
BENCH_ENTRY_QUERIES = [
    "process_output",
    "extract_text",
    "fulltext_assembly",
    "span_reassembly",
    "join_broadcast",
    "exceptall_diff",
    "window_order",
    "confidence_mean",
    # training-data ops (task directive): dedup family + similarity + analysis
    "fingerprint",
    "jaccard_pairs",
    "minhash_lsh",
    "simhash_pairs",
    "ann_recall",
    "token_counts",
    "quality_scores",
    "dedup_clusters",
    # round-4 additions (same shared-subset comparison rule)
    "decon_bloom",
    "dup_span_removal",
    "ivfpq_topk",
    "corpus_pipeline_full",
    # round-5 additions: text→embedding bridge semantic dedup, trigram
    # Stupid-Backoff LM perplexity (supersedes r4's unigram_logprob row)
    "text_embed_dedup",
    "ngram_perplexity",
]


def _force(df) -> int:
    """Force full computation without sink or driver-collect cost."""
    df.write.format("noop").mode("overwrite").save()
    return 0


def corpus_path(n_docs: int) -> str:
    cache_dir = os.environ.get("SPARK_GRAFT_BENCH_CACHE", "/tmp/ocr_spark_bench")
    os.makedirs(cache_dir, exist_ok=True)
    path = os.path.join(cache_dir, f"docs_spans_{n_docs}.parquet")
    if not os.path.exists(path):
        from ocr_spark.fixtures import write_docs_parquet

        write_docs_parquet(path, n_docs)
    return path


def driver() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)
    n_docs = max(200, int(DOCS_PER_SF * sf))

    import __spark_entry__ as E
    from ocr_spark.pipeline import extract_documents
    from ocr_spark.session import get_spark

    corpus = corpus_path(n_docs)

    spark = get_spark("ocr_spark_bench", cpus=cpus)
    timings: dict[str, float] = {}

    # warm the JVM + Python workers (worker fork, numpy import, first-touch
    # page faults) so the timed run measures steady-state throughput — a
    # production job amortizes this startup over hours of input
    docs = spark.read.parquet(corpus)
    _force(extract_documents(docs, rules=E.RULES, salt_partitions=cpus * 4))

    # --- headline: flagship extraction over the interleaved corpus ---------
    extract_sec = float("inf")
    for _ in range(2):  # best-of-2 (see query-loop note on host load swings)
        t0 = time.perf_counter()
        _force(extract_documents(docs, rules=E.RULES, salt_partitions=cpus * 4))
        extract_sec = min(extract_sec, time.perf_counter() - t0)
    timings["extract"] = round(extract_sec, 3)

    # --- operator queries over the driver tables ---------------------------
    # best-of-2: the sandbox host shows multi-x background-load swings
    # (measured 5.8s..44s for the same query); one retry isolates the engine
    qs = E.queries()
    for name in BENCH_ENTRY_QUERIES:
        fn = qs[name]
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            _force(fn(spark, sf_dir))
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 3)

    total = round(sum(timings.values()), 3)
    result = {
        "metric": "extraction_suite_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "n_docs": n_docs,
        "docs_per_sec": round(n_docs / extract_sec, 1),
        "cpus": cpus,
    }
    _append_history({**result, "ts": int(time.time()), "commit": _commit()})
    print(json.dumps(result))


def _commit() -> str | None:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "--short", "HEAD"],
            capture_output=True, text=True, timeout=10, cwd=REPO,
        )
        return out.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def _append_history(entry: dict) -> None:
    """One line per run in BENCH/history.jsonl, so round-over-round checks
    are mechanical (diffable history, independent of the driver's
    BENCH_r{N}.json snapshots)."""
    try:
        os.makedirs(os.path.dirname(HISTORY), exist_ok=True)
        with open(HISTORY, "a") as f:
            f.write(json.dumps(entry) + "\n")
    except OSError:
        pass  # history is best-effort; the printed line is the contract


def history(suite: str, scale: int) -> list[dict]:
    """Earlier BENCH/history.jsonl lines of `suite` at `scale`."""
    if not os.path.exists(HISTORY):
        return []
    with open(HISTORY) as f:
        rows = [json.loads(line) for line in f if line.strip()]
    return [r for r in rows if r.get("suite") == suite and r.get("scale") == scale]


def _fingerprint(cpus: int) -> dict:
    import numpy
    import pyarrow
    import pyspark

    return {
        "commit": _commit(),
        "cpus": cpus,
        "nproc": NPROC,
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
    }


def _load_suite(name: str):
    # loaded by path and left out of sys.modules, so Spark pickles the
    # suite's functions by value, as it did when each ran as __main__
    path = os.path.join(REPO, "scripts", f"bench_{name}.py")
    spec = importlib.util.spec_from_file_location(f"bench_{name}", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _active_spark():
    if "pyspark" not in sys.modules:
        return None
    from pyspark.sql import SparkSession

    return SparkSession.getActiveSession()


def run_suite(name: str, scale: int | None, cpus: int) -> None:
    mod = _load_suite(name)
    n = mod.SCALE if scale is None else scale
    before = _active_spark()
    try:
        t0 = time.perf_counter()
        rec = mod.run(n, cpus)
        wall = time.perf_counter() - t0
    finally:
        started = _active_spark()
        if started is not None and started is not before:
            started.stop()
    line = {
        "suite": name,
        "scale": n,
        **_fingerprint(cpus),
        "wall_s": round(wall, 3),
        "ts": int(time.time()),
        "result": rec,
    }
    print(json.dumps(line))
    _append_history(line)


def parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(description="Run one scale suite (no arguments: the driver run).")
    ap.add_argument("--suite", required=True, choices=SUITES)
    ap.add_argument("--scale", type=int, help="input size; default: the suite's SCALE")
    ap.add_argument(
        "--cpus",
        type=int,
        default=int(os.environ.get("SPARK_GRAFT_CPUS", NPROC)),
        help="local[] parallelism; default $SPARK_GRAFT_CPUS, else nproc",
    )
    return ap


def main(argv: list[str] | None = None) -> None:
    argv = sys.argv[1:] if argv is None else argv
    if not argv:
        driver()
        return
    args = parser().parse_args(argv)
    run_suite(args.suite, args.scale, args.cpus)


if __name__ == "__main__":
    main()
