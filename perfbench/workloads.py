"""The benchmark's workloads as engine jobs: the timed job, the correctness
check against a local replay, and the per-layer probes of a traced run.

Every Spark call goes through the engine's public entry points
(``pipeline.extract_documents``, ``sources.warc.warc_extract``,
``operators.corpus.corpus_pipeline``, ``operators.training_data``); the
replays call each layer's public function single-threaded in this process.
"""

from __future__ import annotations

import glob
import os
import shutil
import time
from collections import defaultdict
from dataclasses import dataclass

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql.observation import Observation

from check import RULES, actual_doc, mismatched_docs, replay_doc
from ocr_spark.session import DEFAULT_ARROW_BATCH as ARROW_BATCH  # docs per replayed batch
from inputs import MEDIA, seeded_rng
from trace import Tracer

SAMPLE_DOCS = 48  # docs compared span by span per check, besides planted errors


def extract_args(cpus: int) -> dict:
    # Salted: without it a single-file input runs the whole Arrow stage in
    # one task (5,000 mixed docs: 13.2-14.3 s unsalted vs 5.8-6.5 s salted
    # at local[4]). 4 x cpus as bench.py.
    return {"rules": RULES, "salt_partitions": 4 * cpus}


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


@dataclass
class Ctx:
    """What a workload needs for one run."""

    spark: object
    cpus: int
    seed: int
    d: str  # input directory
    meta: dict  # written by the input generator
    work: str  # per-run output directory
    tracer: Tracer


def _read_docs(d: str) -> list[dict]:
    return pq.read_table(os.path.join(d, "docs.parquet")).to_pylist()


def _sample(ids: list[str], seed: int, planted: list[str]) -> set[str]:
    pick = seeded_rng(seed, 4).choice(len(ids), size=min(SAMPLE_DOCS, len(ids)), replace=False)
    return {ids[i] for i in pick} | set(planted)


# ---------------------------------------------------------------------------
# media replay helpers
# ---------------------------------------------------------------------------


def _fit_pad(g: np.ndarray, side: int) -> np.ndarray:
    """Aspect-preserving bilinear fit into a zero-padded side x side canvas,
    the stage's convention for real images larger than the kernel input."""
    from ocr_spark.operators.media_kernels import resize_bilinear

    h, w = g.shape[:2]
    ratio = min(side / h, side / w)
    nh, nw = max(1, int(h * ratio)), max(1, int(w * ratio))
    canvas = np.zeros((side, side), dtype=np.uint8)
    canvas[:nh, :nw] = np.clip(np.rint(resize_bilinear(g, nh, nw)), 0, 255).astype(np.uint8)
    return canvas


def _kernel_gray(img: np.ndarray) -> np.ndarray:
    """A decoded sidecar image as the recognition kernel's input."""
    from ocr_spark.operators.media_kernels import IMG_SIDE, to_grayscale

    g = to_grayscale(img)
    return g if g.shape == (IMG_SIDE, IMG_SIDE) else _fit_pad(g, IMG_SIDE)


def _recognize_one(gray: np.ndarray) -> str:
    from ocr_spark.operators.media_kernels import recognize_gray_batch

    return recognize_gray_batch(gray[None])[0][0]


def _synthetic_media(s: dict) -> str:
    from ocr_spark.sources.media import resolve_gray_batch

    grays, ok = resolve_gray_batch([s["media_ref"]])
    if not ok[0]:
        raise ValueError("unresolvable media_ref")
    return _recognize_one(grays[0])


def _read_ref(ref: str) -> bytes:
    with open(ref[len("file:"):], "rb") as f:
        return f.read()


def _kernels(sidecar: bool) -> dict:
    from ocr_spark.operators.html_extract import extract_main_text
    from ocr_spark.operators.pdf_layout import extract_pdf_text

    from ocr_spark.operators.multimodal import decode_image

    media = (lambda s: _recognize_one(_kernel_gray(decode_image(_read_ref(s["media_ref"]))))) if sidecar \
        else _synthetic_media
    return {
        "html": lambda s: extract_main_text(s["text"] or ""),
        "pdf": lambda s: extract_pdf_text(s["text"] or ""),
        "ocr": media,
        "media": media,
    }


# ---------------------------------------------------------------------------
# extraction workloads: mixed_media, sidecar_scans
# ---------------------------------------------------------------------------


class Extraction:
    """extract_documents over a spans parquet (plus an image sidecar), sink
    `noop`."""

    def __init__(self, docs: int, sidecar: bool = False):
        self.docs = docs
        self.sidecar = sidecar

    def frame(self, c: Ctx):
        from ocr_spark.pipeline import extract_documents

        kw = extract_args(c.cpus)
        if self.sidecar:
            from ocr_spark.sources.media import sidecar_df

            kw["media_sidecar"] = sidecar_df(c.spark, os.path.join(c.d, "images", "*"))
        return extract_documents(c.spark.read.parquet(os.path.join(c.d, "docs.parquet")), **kw)

    def job(self, c: Ctx) -> dict:
        obs = Observation("out")
        out = self.frame(c).observe(obs, F.count(F.lit(1)).alias("docs"), F.count("error").alias("errors"))
        t0 = time.perf_counter()
        _noop(out)
        seconds = time.perf_counter() - t0
        got = obs.get
        return {"seconds": seconds, "docs_out": got["docs"], "error_docs": got["errors"]}

    def check(self, c: Ctx) -> dict:
        """One full extraction collected to the Spark driver (it is also the
        warm-up run): every doc id, the error flag, and the sampled docs in
        full, compared with the replay."""
        docs = _read_docs(c.d)
        ids = [x["doc_id"] for x in docs]
        sample = _sample(ids, c.seed, c.meta["error_docs"])
        t0 = time.perf_counter()
        rows = self.frame(c).select(
            "doc_id",
            F.col("error").isNotNull().alias("e"),
            F.when(F.col("doc_id").isin(*sorted(sample)), F.struct("spans", "error", "error_source")).alias("d"),
        ).collect()
        warm_s = time.perf_counter() - t0
        actual = {r.doc_id: actual_doc([s.asDict() for s in r.d.spans], r.d.error, r.d.error_source)
                  for r in rows if r.d is not None}
        kernels = _kernels(self.sidecar)
        expected = {x["doc_id"]: replay_doc(x["spans"], kernels) for x in docs if x["doc_id"] in sample}
        bad = mismatched_docs(ids, [r.doc_id for r in rows], expected, actual)
        return {"warm_s": warm_s, "mismatched": len(bad), "sampled": len(expected),
                "error_docs": sum(r.e for r in rows)}

    def layers(self, c: Ctx) -> dict:
        """Scan and T1-T7 text as probe jobs; the Arrow-stage kernels as a
        single-threaded replay of every span of the workload, batch by batch
        as the stage sees them."""
        from ocr_spark.functions.text import extract_text

        spark, docs_path = c.spark, os.path.join(c.d, "docs.parquet")

        def median_s(fn) -> float:
            return float(np.median([_timed(fn) for _ in range(3)]))

        with c.tracer.span("scan"):
            scan_s = median_s(lambda: _noop(spark.read.parquet(docs_path)))
            images_s = median_s(lambda: _noop(spark.read.format("binaryFile").load(
                os.path.join(c.d, "images", "*")))) if self.sidecar else 0.0
        with c.tracer.span("text"):
            text_s = median_s(lambda: _noop(spark.read.parquet(docs_path).select(
                "doc_id", F.transform("spans", lambda s: F.when(
                    s["kind"] == "text", extract_text(s["text"], RULES)).otherwise(s["text"])).alias("t"))))
        docs = _read_docs(c.d)
        m = {
            "scan.s": scan_s + images_s,
            "scan.rows": len(docs),
            "text.s": text_s - scan_s,
            "text.spans": sum(1 for x in docs for s in x["spans"] if s["kind"] == "text"),
        }
        with c.tracer.span("replay"):
            m.update(self._replay(docs, c))
        return m

    def _replay(self, docs: list[dict], c: Ctx) -> dict:
        from ocr_spark.operators.html_extract import extract_main_text
        from ocr_spark.operators.media_kernels import recognize_gray_batch
        from ocr_spark.operators.pdf_layout import extract_pdf_text
        from ocr_spark.sources.media import resolve_gray_batch

        m: dict = defaultdict(float)
        for lo in range(0, len(docs), ARROW_BATCH):
            spans = [s for x in docs[lo : lo + ARROW_BATCH] for s in x["spans"]]
            for kind, fn, layer in (("html", extract_main_text, "html_extract"),
                                    ("pdf", extract_pdf_text, "pdf_layout")):
                texts = [s["text"] or "" for s in spans if s["kind"] == kind]
                with c.tracer.span(layer, spans=len(texts)) as sp:
                    for t in texts:
                        try:
                            fn(t)
                        except Exception:  # the stage turns these into error envelopes
                            pass
                m[layer + ".s"] += sp.seconds
                m[layer + ".spans"] += len(texts)
            refs = [s["media_ref"] for s in spans if s["kind"] in MEDIA]
            if not refs:
                continue
            if self.sidecar:
                grays, ok = self._decode(refs, c, m)
            else:
                with c.tracer.span("media_resolve", refs=len(refs)) as sp:
                    grays, ok = resolve_gray_batch(refs)
                m["media_resolve.s"] += sp.seconds
                m["media_resolve.refs"] += len(refs)
                m["media_resolve.ok"] += int(ok.sum())
            with c.tracer.span("recognize", images=int(ok.sum())) as sp:
                recognize_gray_batch(grays[ok])
            m["recognize.s"] += sp.seconds
            m["recognize.images"] += int(ok.sum())
        if m["media_resolve.refs"]:
            m["media_resolve.ok_frac"] = m["media_resolve.ok"] / m["media_resolve.refs"]
        m.pop("media_resolve.ok", None)
        for codec in ("png", "jpeg", "g4"):
            px, sec = m.pop(f"decode.{codec}.px", 0.0), m.pop(f"decode.{codec}.sec", 0.0)
            m[f"decode.{codec}.mpx_per_s"] = px / 1e6 / sec if sec else 0.0
        return dict(m)

    def _decode(self, refs: list[str], c: Ctx, m):
        """Sidecar payloads -> kernel-sized grays, timed per codec."""
        from ocr_spark.operators.media_kernels import IMG_SIDE
        from ocr_spark.operators.multimodal import decode_image

        payloads = [_read_ref(r) for r in refs]
        grays = np.zeros((len(refs), IMG_SIDE, IMG_SIDE), dtype=np.uint8)
        ok = np.zeros(len(refs), dtype=bool)
        with c.tracer.span("decode", refs=len(refs)) as sp:
            for j, (ref, p) in enumerate(zip(refs, payloads)):
                codec = c.meta["codec_of"][ref]
                t0 = time.perf_counter()
                try:
                    img = decode_image(p)
                except ValueError:
                    m["decode.failed"] += 1
                    continue
                m[f"decode.{codec}.sec"] += time.perf_counter() - t0
                m[f"decode.{codec}.px"] += img.shape[0] * img.shape[1]
                grays[j] = _kernel_gray(img)
                ok[j] = True
        m["decode.s"] += sp.seconds
        return grays, ok


# ---------------------------------------------------------------------------
# warc_to_shards
# ---------------------------------------------------------------------------


class WarcToShards:
    """warc_extract -> corpus_pipeline -> materialize_training ->
    write_training_shards; the sink is the shard files."""

    CORPUS = {"dedup_method": "simhash", "max_hamming": 3, "dup_span_n": 8}
    MIN_QUALITY = 0.45  # corpus_pipeline's default, restated for the probe
    TRAINING = {"max_tokens": 2048, "n_buckets": 8}
    SHARDS = 4
    sidecar = False

    def __init__(self, docs: int):
        self.docs = docs

    def _extracted(self, c: Ctx):
        from ocr_spark.sources.warc import warc_extract

        out = warc_extract(c.spark, os.path.join(c.d, "warc"), rules=RULES)
        return out.select("doc_id", F.element_at("spans", 1)["text"].alias("text"))

    def job(self, c: Ctx) -> dict:
        from ocr_spark.operators.corpus import corpus_pipeline, unpersist_stages
        from ocr_spark.operators.training_data import materialize_training, write_training_shards

        out = os.path.join(c.work, "shards")
        shutil.rmtree(out, ignore_errors=True)
        stats: dict = {}
        t0 = time.perf_counter()
        kept = corpus_pipeline(self._extracted(c), stats=stats, **self.CORPUS)
        seqs = materialize_training(kept, stats=stats, **self.TRAINING)
        write_training_shards(seqs, out, n_shards=self.SHARDS)
        seconds = time.perf_counter() - t0
        n_kept = kept.count()  # served by the persisted stages
        unpersist_stages(stats)
        manifest = pq.read_table(os.path.join(out, "_manifest"))
        n_docs = int(manifest["n_docs"].to_numpy().sum())
        return {"seconds": seconds, "docs_out": n_docs, "kept": n_kept,
                # every kept doc must land in the shards exactly once
                "mismatched": 0 if n_docs == n_kept else self.docs}

    def check(self, c: Ctx) -> dict:
        """One full job (the warm-up run; its manifest checked against the
        kept docs), then the extraction output collected: every page but the
        planted truncated captures, the sampled pages compared with the
        replay of their html, and error records and envelopes counted. The
        collect composes warc_extract's two steps to count error records on
        the way."""
        from ocr_spark.pipeline import extract_documents
        from ocr_spark.sources.warc import warc_html_docs, warc_records_df

        t0 = time.perf_counter()
        warm = self.job(c)
        obs = Observation("records")
        records = warc_records_df(c.spark, os.path.join(c.d, "warc")).observe(
            obs, F.count("error").alias("errors"))
        out = extract_documents(warc_html_docs(records), rules=RULES).select(
            "doc_id", "spans", "error", "error_source").collect()
        warm_s = time.perf_counter() - t0
        pages = pq.read_table(os.path.join(c.d, "pages.parquet")).to_pylist()
        planted = set(c.meta["error_docs"])
        want = [p["uri"] for p in pages if p["uri"] not in planted]
        sample = _sample(want, c.seed, [])
        kernels = _kernels(False)
        expected = {p["uri"]: replay_doc([{"kind": "html", "text": p["html"], "media_ref": None, "offset": 0}],
                                         kernels) for p in pages if p["uri"] in sample}
        actual = {r.doc_id: actual_doc([s.asDict() for s in r.spans], r.error, r.error_source)
                  for r in out if r.doc_id in sample}
        bad = mismatched_docs(want, [r.doc_id for r in out], expected, actual)
        return {"warm_s": warm_s, "mismatched": len(bad) + warm["mismatched"], "sampled": len(expected),
                "kept": warm["kept"],
                "error_docs": obs.get["errors"] + sum(1 for r in out if r.error is not None)}

    def layers(self, c: Ctx) -> dict:
        """WARC parse and html extraction as single-threaded replays; the
        Spark-side corpus and training layers as probe jobs over persisted
        inputs, one layer per job."""
        from ocr_spark.operators.corpus import corpus_pipeline, unpersist_stages
        from ocr_spark.operators.corpus_clean import dup_span_removal
        from ocr_spark.operators.dedup import near_dedup, simhash_near_pairs
        from ocr_spark.operators.html_extract import extract_main_text
        from ocr_spark.operators.text_analysis import quality_score
        from ocr_spark.operators.training_data import materialize_training, write_training_shards
        from ocr_spark.sources.warc import parse_warc_file

        spark, wdir, tr = c.spark, os.path.join(c.d, "warc"), c.tracer
        files = sorted(glob.glob(os.path.join(wdir, "*.warc.gz")))
        m: dict = {"scan.rows": len(files), "text.s": 0.0, "text.spans": 0}
        with tr.span("scan"):
            m["scan.s"] = float(np.median([_timed(lambda: _noop(
                spark.read.format("binaryFile").load(wdir).select(F.length("content")))) for _ in range(3)]))
        blobs = []
        for p in files:
            with open(p, "rb") as f:
                blobs.append(f.read())
        with tr.span("warc") as sp:
            recs = [rec_err for b in blobs for rec_err in parse_warc_file(b)]
        m["warc.s"] = sp.seconds
        m["warc.records"] = len(recs)
        m["warc.error_records"] = sum(1 for _, e in recs if e is not None)
        # the Arrow stage (WARC parse fused with the dispatch stage) on its
        # own: the event log reads its tasks inside these windows
        m["_arrow_windows"] = []
        for _ in range(2):
            w0 = time.time()
            _noop(self._extracted(c))
            m["_arrow_windows"].append((w0, time.time()))
        planted = set(c.meta["error_docs"])
        html = [p["html"] for p in pq.read_table(os.path.join(c.d, "pages.parquet")).to_pylist()
                if p["uri"] not in planted]
        with tr.span("html_extract", spans=len(html)) as sp:
            for t in html:
                extract_main_text(t)
        m["html_extract.s"], m["html_extract.spans"] = sp.seconds, len(html)

        docs = self._extracted(c).persist()
        docs.count()
        stats: dict = {"persisted": [docs]}

        def step(name: str, build):
            # some layers run jobs while building the frame (near_dedup may
            # resolve a small pair graph on the Spark driver), so time both
            with tr.span(name) as s:
                df = build().persist()
                df.count()
            stats["persisted"].append(df)
            m[name + ".s"] = s.seconds
            return df

        filtered = step("corpus.quality", lambda: docs.where(
            quality_score(F.col("text")) >= F.lit(self.MIN_QUALITY)))
        dd: dict = {}
        kept = step("corpus.near_dedup", lambda: near_dedup(filtered, method="simhash", max_hamming=3, stats=dd))
        m["corpus.near_dedup.rounds"] = dd.get("rounds", 0)
        m["corpus.near_dedup.candidate_pairs"] = simhash_near_pairs(filtered, max_hamming=3).count()
        step("corpus.dup_span", lambda: dup_span_removal(kept, n=self.CORPUS["dup_span_n"]))
        unpersist_stages(stats)

        final = corpus_pipeline(self._extracted(c), stats=stats, **self.CORPUS)
        m["corpus.kept_frac"] = final.count() / self.docs
        seqs = step("training.materialize", lambda: materialize_training(final, stats=stats, **self.TRAINING))
        out = os.path.join(c.work, "probe_shards")
        shutil.rmtree(out, ignore_errors=True)
        with tr.span("training.shard_write") as s:
            write_training_shards(seqs, out, n_shards=self.SHARDS)
        m["training.shard_write.s"] = s.seconds
        m["training.shard_bytes"] = _tree_bytes(out)
        m["training.tokens"] = int(pq.read_table(os.path.join(out, "_manifest"))["n_tokens"].to_numpy().sum())
        unpersist_stages(stats)
        return m


def _tree_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(path) for f in fs)


WORKLOADS = {
    "mixed_media": Extraction(docs=3000),
    "warc_to_shards": WarcToShards(docs=1000),
    "sidecar_scans": Extraction(docs=540, sidecar=True),
}
