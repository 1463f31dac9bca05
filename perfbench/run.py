"""Benchmark of the ocr_spark extraction engine.

    python3 perfbench/run.py --workload mixed_media --seed 1 --seconds 4 --trace 0
    python -m pytest perfbench/test_check.py     # the check catches wrong output

Run from the root of a checkout. One client process starts Spark at
local[nproc] and submits one batch job at a time (a closed loop with one
client) for `--seconds`, and at least two jobs, after a warm-up run that is
also the correctness check. The window's first job still runs warm-up work,
so docs_per_s is the median over the jobs after it. Inputs are generated
from the seed (see inputs.py) and cached under perfbench/.cache by
(workload, seed, docs).

The last stdout line is the result: ``{"correct", "attempted", "failed",
"metrics"}``. With ``--trace 0`` the metrics are the end-to-end ones, measured
untraced; with ``--trace 1`` they are the per-layer numbers of a traced run
(Spark event log on, spans around each layer call, single-threaded kernel
replays). The line before it is a report with the run fingerprint, the
sample counts and the correctness details.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(HERE, ".cache")

END_TO_END = {
    "docs_per_s": "1/s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "error_doc_frac": "fraction",
}
# Per-layer numbers of the traced run, grouped by layer. Each comment names
# the workloads whose docs_per_s the layer should move; elsewhere a change to
# the layer should leave docs_per_s alone. A layer that does not run in a
# workload reports 0.
PER_LAYER = {
    # tracing overhead: traced vs untraced docs/s in the same run
    "trace.docs_per_s": "1/s",
    "trace.untraced_docs_per_s": "1/s",
    "trace.overhead_frac": "fraction",
    # engine fixed cost per job (intercept at 1/8 and full size): all
    "job.fixed_s": "s",
    # Spark parquet / binaryFile scan: all (never setup_s)
    "scan.s": "s",
    "scan.rows": "count",
    # functions.text T1-T7, codegen'd: mixed_media, sidecar_scans; not warc_to_shards
    "text.s": "s",
    "text.spans": "count",
    # pipeline salted exchange: mixed_media
    "exchange.shuffle_write_mb": "MB",
    "exchange.task_skew": "ratio",
    # operators.dispatch Arrow stage (boundary = executor s - kernel s): all
    "arrow_stage.executor_s": "s",
    "arrow_stage.tasks": "count",
    "arrow_stage.boundary_s": "s",
    # operators.html_extract: mixed_media, warc_to_shards
    "html_extract.s": "s",
    "html_extract.spans": "count",
    # operators.pdf_layout: mixed_media
    "pdf_layout.s": "s",
    "pdf_layout.spans": "count",
    # sources.media: mixed_media only
    "media_resolve.s": "s",
    "media_resolve.refs": "count",
    "media_resolve.ok_frac": "fraction",
    # operators.multimodal + codecs: sidecar_scans only (and its error_doc_frac)
    "decode.s": "s",
    "decode.png.mpx_per_s": "Mpx/s",
    "decode.jpeg.mpx_per_s": "Mpx/s",
    "decode.g4.mpx_per_s": "Mpx/s",
    "decode.failed": "count",
    # operators.media_kernels: mixed_media, sidecar_scans; not warc_to_shards
    "recognize.s": "s",
    "recognize.images": "count",
    # sources.warc: warc_to_shards
    "warc.s": "s",
    "warc.records": "count",
    "warc.error_records": "count",
    # operators.corpus / dedup / corpus_clean: warc_to_shards (and its peak_rss_mb)
    "corpus.quality.s": "s",
    "corpus.near_dedup.s": "s",
    "corpus.near_dedup.candidate_pairs": "count",
    "corpus.near_dedup.rounds": "count",
    "corpus.dup_span.s": "s",
    "corpus.kept_frac": "fraction",
    # operators.training_data: warc_to_shards
    "training.materialize.s": "s",
    "training.shard_write.s": "s",
    "training.shard_bytes": "bytes",
    "training.tokens": "count",
    # Spark engine, over the timed jobs: all
    "spark.spill_mb": "MB",
    "spark.gc_s": "s",
}
ARROW_KEYS = ("arrow_stage.executor_s", "arrow_stage.tasks", "exchange.task_skew")
KERNEL_LAYERS = ("html_extract.s", "pdf_layout.s", "media_resolve.s", "decode.s", "recognize.s", "warc.s")


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


# JVM temp files inside the checkout; no hsperfdata files in /tmp
_JVM_TMP = f"-Djava.io.tmpdir={os.path.join(CACHE, 'tmp')} -XX:-UsePerfData"


def _spark_conf(event_dir: str | None) -> dict:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        # A fixed, pre-touched 2 GiB heap: the JVM's share of RSS is then
        # constant, so peak_rss_mb follows the Python workers and off-heap
        # memory (left to grow, the heap made it vary 10-14% run to run);
        # heap pressure shows in spark.gc_s and spark.spill_mb instead.
        "spark.driver.memory": "2g",
        # workers import ocr_spark whatever the cwd
        "spark.executorEnv.PYTHONPATH": ROOT,
        "spark.local.dir": os.path.join(CACHE, "spark-local"),
        "spark.driver.extraJavaOptions": f"{_JVM_TMP} -Xms2g -XX:+AlwaysPreTouch",
    }
    if event_dir:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def _start(name: str, cpus: int, event_dir: str | None = None):
    from ocr_spark.session import get_spark

    spark = get_spark(f"perfbench-{name}", cpus=cpus, extra_conf=_spark_conf(event_dir))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_all() -> None:
    """Stop Spark, close the JVM and wait until every process this run
    started has exited. Safe to call twice."""
    from pyspark import SparkContext

    from trace import descendants

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 60
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)


def _fingerprint(spark, cpus: int, workload) -> dict:
    import numpy
    import pyarrow
    import pyspark

    from workloads import extract_args

    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "ocr_spark")
    for dirpath, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(dirpath, f), "rb") as fh:
                    h.update(fh.read())
    args = {k: (v if k != "rules" else [list(r) for r in v]) for k, v in extract_args(cpus).items()}
    if workload.sidecar:
        args["media_sidecar"] = "sources.media.sidecar_df(<images>/*)"
    return {
        "nproc": cpus,
        "commit": commit,
        "ocr_spark_sha256": h.hexdigest()[:16],
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": sys.version.split()[0],
        "extract_documents": args,
        "salt_partitions_why": "without salting a single-file input runs the whole Arrow stage in one task",
    }


def _loop(workload, ctx, seconds: float, tracer=None) -> tuple[list[dict], list[tuple[float, float]]]:
    """Closed loop, one client: submit the next job when the last finished,
    until `seconds` have passed and at least two jobs ran (see _steady)."""
    results, windows = [], []
    end = time.perf_counter() + seconds
    while len(results) < 2 or time.perf_counter() < end:
        w0 = time.time()
        try:
            if tracer is not None:
                with tracer.span("job"):
                    r = workload.job(ctx)
            else:
                r = workload.job(ctx)
        except Exception as e:  # a failed job counts all of its docs
            print(f"perfbench: job failed: {type(e).__name__}: {e}", file=sys.stderr)
            r = {"seconds": None, "failed": True}
        windows.append((w0, time.time()))
        results.append(r)
    return results, windows


def _job_failures(r: dict, docs: int, expected_errors: int) -> int:
    if r.get("failed"):
        return docs
    bad = r.get("mismatched", 0)
    if "error_docs" in r:  # extraction jobs count their output and envelopes
        bad += abs(r["docs_out"] - docs) + abs(r["error_docs"] - expected_errors)
    return min(bad, docs)


def _steady(results: list[dict]) -> list[float]:
    """Job times of the window without its first job, which finishes the
    warm-up: it still ran 10-20% slower than the next ones."""
    secs = [r["seconds"] for r in results if r.get("seconds")]
    return secs[1:] if len(secs) > 1 else secs


def _docs_per_s(results: list[dict], docs: int) -> float:
    secs = _steady(results)
    return docs / statistics.median(secs) if secs else 0.0


def main(argv=None) -> int:
    a = _args(argv)
    if not os.path.isfile(os.path.join(ROOT, "ocr_spark", "__init__.py")):
        print(f"perfbench: no ocr_spark package under {ROOT}; run from a checkout of the repository",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    from inputs import prepare
    from trace import RssSampler, Tracer
    from workloads import WORKLOADS, Ctx

    if a.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {a.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    wl = WORKLOADS[a.workload]
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(CACHE, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(CACHE, "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = _JVM_TMP  # the JVM that assembles the spark-submit command
    cpus = len(os.sched_getaffinity(0))
    run_id = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    work = os.path.join(CACHE, "runs", run_id)
    os.makedirs(work)
    tracer = Tracer(run_id)

    # ---- set-up: session, inputs, warm-up run (the correctness check) ------
    t0 = time.perf_counter()
    spark = _start(a.workload, cpus)
    try:  # from here on every exit stops Spark and its processes
        session_s = time.perf_counter() - t0
        d, meta, cache_hit = prepare(CACHE, a.workload, a.seed, wl.docs)
        inputs_s = time.perf_counter() - t0 - session_s
        ctx = Ctx(spark, cpus, a.seed, d, meta, work, tracer)
        check = wl.check(ctx)
        setup_s = session_s + inputs_s + check["warm_s"]
        fingerprint = _fingerprint(spark, cpus, wl)
        report = {"workload": a.workload, "seed": a.seed, "docs": wl.docs, "cache_hit": cache_hit,
                  "fingerprint": fingerprint, "check": check,
                  "setup": {"session_s": session_s, "inputs_s": inputs_s, "warm_s": check["warm_s"]}}
        if a.trace:
            metrics, results = _traced(wl, ctx, a, report)
        else:
            with RssSampler() as rss:
                results, _ = _loop(wl, ctx, a.seconds)
            report.update({"rss_samples": rss.samples, "docs_per_s_samples": len(_steady(results))})
            metrics = {
                "docs_per_s": _docs_per_s(results, wl.docs),
                "setup_s": setup_s,
                "peak_rss_mb": rss.peak_mb,
                "error_doc_frac": check["error_docs"] / wl.docs,
            }
            metrics = {k: {"value": float(v), "unit": END_TO_END[k]} for k, v in metrics.items()}
    finally:
        _stop_all()
        shutil.rmtree(work, ignore_errors=True)

    # a doc fails if its job failed, it is missing or duplicated, its output
    # differs from the replay, or the job's error-envelope count is off
    expected_errors = len(meta["error_docs"])
    attempted = wl.docs * (len(results) + 1)
    failed = check["mismatched"] + sum(_job_failures(r, wl.docs, expected_errors) for r in results)
    correct = failed == 0 and check["error_docs"] == expected_errors
    report.update({"attempted": attempted, "failed": failed, "mismatch_doc_frac": failed / attempted,
                   "error_docs_expected": expected_errors,
                   "job_seconds": [r.get("seconds") for r in results]})
    print(json.dumps(report))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


def _traced(wl, ctx, a, report: dict) -> tuple[dict, list[dict]]:
    """The per-layer run: an untraced window, then Spark restarted with its
    event log on and a traced window, the layer probes and replays, and the
    workload at 1/8 size for the fixed cost. Stops Spark; returns the
    per-layer metrics and the results of every full-size job."""
    from trace import event_log_metrics

    untraced, _ = _loop(wl, ctx, a.seconds)
    ctx.spark.stop()
    events = os.path.join(ctx.work, "events")
    os.makedirs(events)
    ctx.spark = _start(a.workload, ctx.cpus, events)
    app_id = ctx.spark.sparkContext.applicationId
    traced, windows = _loop(wl, ctx, a.seconds, ctx.tracer)  # its first job warms the new workers
    full_s = statistics.median(_steady(traced))
    with ctx.tracer.span("layers"):
        layers = wl.layers(ctx)
    small, sctx = _small(wl, ctx, a)
    with ctx.tracer.span("job.small"):
        small_s = statistics.median(small.job(sctx)["seconds"] for _ in range(2))
    _stop_all()  # flushes the event log

    # intercept of job time against input size (full and 1/8 input)
    layers["job.fixed_s"] = small_s - (full_s - small_s) / 7.0
    log = os.path.join(events, app_id)
    arrow_windows = layers.pop("_arrow_windows", None)  # set where the job is more than the stage
    layers.update(event_log_metrics(log, windows[1:]))  # the steady jobs, as full_s
    if arrow_windows:
        arrow = event_log_metrics(log, arrow_windows)
        layers.update({k: v for k, v in arrow.items() if k in ARROW_KEYS})
    layers["arrow_stage.boundary_s"] = layers["arrow_stage.executor_s"] - sum(
        layers.get(k, 0.0) for k in KERNEL_LAYERS)
    layers["trace.docs_per_s"] = wl.docs / full_s
    layers["trace.untraced_docs_per_s"] = _docs_per_s(untraced, wl.docs)
    layers["trace.overhead_frac"] = 1.0 - layers["trace.docs_per_s"] / layers["trace.untraced_docs_per_s"]
    spans_file = os.path.join(CACHE, f"spans-{ctx.tracer.run_id}.jsonl")
    ctx.tracer.write(spans_file)
    report["spans_file"] = spans_file
    metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u} for k, u in PER_LAYER.items()}
    return metrics, untraced + traced


def _small(wl, ctx, a):
    """The workload at 1/8 of its input size, with its own inputs."""
    from inputs import prepare
    from workloads import Ctx

    small = wl.__class__(**{**vars(wl), "docs": wl.docs // 8})
    d, meta, _ = prepare(CACHE, a.workload, a.seed, small.docs)
    return small, Ctx(ctx.spark, ctx.cpus, a.seed, d, meta, ctx.work, ctx.tracer)


if __name__ == "__main__":
    sys.exit(main())
