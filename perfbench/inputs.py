"""Seeded inputs of the benchmark's workloads, cached by (workload, seed,
docs). The same seed gives the same files; the engine sees only them.

Why these three (each stresses layers the others leave idle):

* ``mixed_media`` -- the fixture generator's interleaved mix, 5% of docs
  media-heavy (256-1024 media spans): media resolve, recognition and the
  salted exchange's skew handling, besides T1-T7 text, html and pdf spans.
* ``warc_to_shards`` -- real WARC bytes through extraction, corpus hygiene
  (quality, simhash near-dedup, dup-span removal, PII scrub) and training
  shards: the only workload with dedup shuffles, persisted stages and
  writes, and the one whose Arrow stage sees no media (the bypass for media
  changes).
* ``sidecar_scans`` -- media spans that reference real PNG / baseline JPEG /
  TIFF-G4 page images read as a binaryFile sidecar: the broadcast sidecar
  join and the real decoders.

Every workload plants a fixed number of bad inputs (a dangling media ref, a
truncated WARC capture, a truncated image) so the error-envelope path always
runs and ``error_doc_frac`` is never 0.
"""

from __future__ import annotations

import gzip
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SPAN_TYPE = pa.struct(
    [
        ("kind", pa.string()),
        ("text", pa.string()),
        ("media_ref", pa.string()),
        ("offset", pa.int32()),
    ]
)
MEDIA = ("ocr", "media")


def seeded_rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def _write_docs(path: str, docs: list[dict]) -> None:
    # 250-doc row groups, as fixtures.write_docs_parquet: lets Spark split the
    # scan of one small file across tasks
    tbl = pa.table(
        {
            "doc_id": pa.array([d["doc_id"] for d in docs], pa.string()),
            "spans": pa.array([d["spans"] for d in docs], pa.list_(SPAN_TYPE)),
        }
    )
    pq.write_table(tbl, path, row_group_size=250)


def _plant(docs: list[dict], seed: int, eligible, k: int) -> list[int]:
    idx = [i for i, d in enumerate(docs) if eligible(d)]
    return sorted(seeded_rng(seed, 1).choice(idx, size=min(k, len(idx)), replace=False).tolist())


def _n_planted(n: int) -> int:
    return max(1, n // 200)


# ---------------------------------------------------------------------------
# input generators: (dir, seed, n) -> meta dict
# ---------------------------------------------------------------------------


def _fixture_docs(seed: int, n: int) -> list[dict]:
    """n docs of the fixture generator's stream, exactly 5% of them
    media-heavy (the generator draws ~5% per doc): the first heavy and the
    first light docs in stream order. Left to the per-doc draw, the media
    work of 5,000 docs varied by 20% between seeds."""
    from ocr_spark.fixtures import generate_docs_chunk

    k = n // 20
    heavy, light, start = [], [], 0
    while len(heavy) < k or len(light) < n - k:
        for x in generate_docs_chunk(start, 1000, seed):
            # heavy docs carry 256-1024 spans, all others at most 64
            (heavy if len(x["spans"]) > 64 else light).append(x)
        start += 1000
    return sorted(heavy[:k] + light[: n - k], key=lambda x: x["doc_id"])


def gen_mixed_media(d: str, seed: int, n: int) -> dict:
    docs = _fixture_docs(seed, n)
    bad = _plant(docs, seed, lambda x: any(s["kind"] in MEDIA for s in x["spans"]), _n_planted(n))
    for i in bad:  # dangling reference: the first media span loses its ref
        next(s for s in docs[i]["spans"] if s["kind"] in MEDIA)["media_ref"] = None
    _write_docs(os.path.join(d, "docs.parquet"), docs)
    return {"docs": n, "error_docs": [docs[i]["doc_id"] for i in bad]}


_CAPTIONS = [
    "Figure {i}: scanned  page\twith caption",
    "  see the attached scan {i} \r\nfor hte details  ",
    "appendix {i}\n\n\nfax cover sheet",
]
_IMAGES_PER_CODEC = 16


def _page_image(rng: np.random.Generator, h: int = 120, w: int = 160) -> np.ndarray:
    img = np.full((h, w), 235, np.uint8)
    for y in range(8, h - 12, 14):
        img[y : y + 7, 10 : w - 10 - int(rng.integers(0, 70))] = 25
    return img


def gen_sidecar_scans(d: str, seed: int, n: int) -> dict:
    from ocr_spark.operators.cloud_engine import png_encode
    from ocr_spark.operators.image_codecs import jpeg_encode, tiff_encode

    img_dir = os.path.join(d, "images")
    os.makedirs(img_dir)
    rng = seeded_rng(seed, 2)
    encoders = {
        "png": (".png", png_encode),
        "jpeg": (".jpg", lambda im: jpeg_encode(im, quality=75)),
        "g4": (".tif", lambda im: tiff_encode(im, compression="g4")),
    }
    by_codec, codec_of = {}, {}
    for codec, (ext, enc) in encoders.items():
        for j in range(_IMAGES_PER_CODEC):
            p = os.path.join(img_dir, f"{codec}-{j:03d}{ext}")
            with open(p, "wb") as f:
                f.write(enc(_page_image(rng)))
            by_codec.setdefault(codec, []).append(p)
            codec_of["file:" + p] = codec
    codecs = list(by_codec)
    good = [p for c in codecs for p in by_codec[c]]
    docs, k = [], 0
    for i in range(n):
        doc_id = f"scan-{i:06d}"
        spans, off = [], 0
        for _ in range(int(rng.integers(1, 4))):
            tpl = _CAPTIONS[int(rng.integers(0, len(_CAPTIONS)))]
            spans.append({"kind": "text", "text": tpl.format(i=i), "media_ref": None, "offset": off})
            off += 1
            # codecs take turns, so every seed decodes the same codec mix
            imgs = by_codec[codecs[k % len(codecs)]]
            k += 1
            ref = "file:" + imgs[int(rng.integers(0, len(imgs)))]
            spans.append({"kind": MEDIA[int(rng.integers(0, 2))], "text": None, "media_ref": ref, "offset": off})
            off += 1
        docs.append({"doc_id": doc_id, "spans": spans})
    bad = _plant(docs, seed, lambda x: True, _n_planted(n))
    for j, i in enumerate(bad):  # one truncated capture per planted doc
        src = good[j % len(good)]
        p = os.path.join(img_dir, f"truncated-{j:03d}" + os.path.splitext(src)[1])
        with open(src, "rb") as f:
            data = f.read()
        with open(p, "wb") as f:
            f.write(data[: len(data) // 2])
        codec_of["file:" + p] = codec_of["file:" + src]
        media = next(s for s in docs[i]["spans"] if s["kind"] in MEDIA)
        media["media_ref"] = "file:" + p
    _write_docs(os.path.join(d, "docs.parquet"), docs)
    return {"docs": n, "error_docs": [docs[i]["doc_id"] for i in bad], "codec_of": codec_of}


_STOP = "the of and to in is it that for a with on as was by".split()
_SYLL = "ka ro mi tel van sor li pen da ur ost bel cor tin ma fen gal rus".split()
_NAV = (
    "<nav><a href='/'>Home</a> <a href='/news'>News</a> <a href='/about'>About</a>"
    "<a href='/contact'>Contact</a></nav>"
)
_FOOT = "<footer><a href='/tos'>Terms</a> <a href='/privacy'>Privacy</a> copyright</footer>"


def _sentence(rng: np.random.Generator, vocab: list[str]) -> str:
    words = [
        _STOP[int(rng.integers(0, len(_STOP)))] if rng.random() < 0.35
        else vocab[int(rng.integers(0, len(vocab)))]
        for _ in range(int(rng.integers(8, 18)))
    ]
    return " ".join(words).capitalize() + "."


def _page_body(rng: np.random.Generator, vocab: list[str], i: int) -> list[str]:
    paras = []
    for _ in range(int(rng.integers(2, 5))):
        paras.append(" ".join(_sentence(rng, vocab) for _ in range(int(rng.integers(3, 7)))))
    if rng.random() < 0.2:  # contact details for the PII scrub
        paras.append(f"Write to editor{i}@example.org or call 555-{100 + i % 900:03d}-{i % 10000:04d} today.")
    return paras


def _html(title: str, paras: list[str]) -> str:
    body = "".join(f"<p>{p}</p>" for p in paras)
    return f"<html><head><title>{title}</title></head><body>{_NAV}<div id='main'><h1>{title}</h1>{body}</div>{_FOOT}</body></html>"


def gen_warc_to_shards(d: str, seed: int, n: int) -> dict:
    from ocr_spark.sources.warc import build_warc_gz, warc_record_bytes

    rng = seeded_rng(seed, 3)
    vocab = [
        "".join(_SYLL[int(k)] for k in rng.integers(0, len(_SYLL), size=int(rng.integers(2, 4))))
        for _ in range(3000)
    ]
    bodies: list[list[str]] = []
    for i in range(n):
        r = rng.random()
        if r < 0.1 and bodies:  # near-duplicate: another page with one word swapped
            paras = list(bodies[int(rng.integers(0, len(bodies)))])
            words = paras[0].split(" ")
            words[int(rng.integers(0, len(words)))] = vocab[int(rng.integers(0, len(vocab)))]
            paras[0] = " ".join(words)
        elif r < 0.2:  # low quality: digit and symbol runs
            paras = [" ".join(f"{int(x)}#{int(x) % 97}" for x in rng.integers(0, 10**6, size=60))]
        else:
            paras = _page_body(rng, vocab, i)
        bodies.append(paras)
    uris = [f"https://site{i % 97}.example/page/{i}" for i in range(n)]
    bad = set(_plant([{}] * n, seed, lambda x: True, _n_planted(n)))
    n_files = 8
    shards: list[list[tuple[str, bytes]]] = [[] for _ in range(n_files)]
    truncated: list[list[bytes]] = [[] for _ in range(n_files)]
    for i in range(n):
        html = _html(f"Page {i}", bodies[i]).encode()
        if i in bad:  # a capture cut short: Content-Length promises more bytes
            rec = warc_record_bytes(
                {"WARC-Type": "response", "WARC-Target-URI": uris[i],
                 "Content-Type": "application/http; msgtype=response"},
                b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + html,
            )
            truncated[i % n_files].append(gzip.compress(rec[: len(rec) // 2], mtime=0))
        else:
            shards[i % n_files].append((uris[i], html))
    # the pages as written, for the check's replay; the engine reads only the WARC files
    pq.write_table(pa.table({"uri": uris, "html": [_html(f"Page {i}", b) for i, b in enumerate(bodies)]}),
                   os.path.join(d, "pages.parquet"))
    wdir = os.path.join(d, "warc")
    os.makedirs(wdir)
    for f in range(n_files):
        name = f"part-{f:04d}.warc.gz"
        with open(os.path.join(wdir, name), "wb") as fh:
            fh.write(build_warc_gz(shards[f], filename=name, chunked_every=5))
            fh.write(b"".join(truncated[f]))
    return {"docs": n, "error_docs": [uris[i] for i in sorted(bad)]}


# ---------------------------------------------------------------------------
# cache keyed by (workload, seed, docs)
# ---------------------------------------------------------------------------


def prepare(cache: str, name: str, seed: int, n: int) -> tuple[str, dict, bool]:
    """Generate (or reuse) a workload's inputs; returns (dir, meta, hit)."""
    d = os.path.join(cache, "inputs", f"{name}-s{seed}-n{n}")
    meta_path = os.path.join(d, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            meta = json.load(f)
        if meta.get("dir") == d:  # sidecar refs hold absolute paths
            return d, meta, True
    shutil.rmtree(d, ignore_errors=True)  # a partial generation has no meta.json
    os.makedirs(d)
    meta = GENERATORS[name](d, seed, n)
    meta["dir"] = d
    with open(meta_path, "w") as f:
        json.dump(meta, f)
    return d, meta, False


GENERATORS = {
    "mixed_media": gen_mixed_media,
    "warc_to_shards": gen_warc_to_shards,
    "sidecar_scans": gen_sidecar_scans,
}
