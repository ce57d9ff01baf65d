"""Single-core microbenchmark of the ``sketch.l0`` kernel, run on the driver.

It builds sketches for a fixed slice of 2^19 stream updates (2^20 endpoint
rows, both endpoints of every edge, as ``sketch.build`` feeds the kernel) and
times the public ``hashing`` functions the kernel is made of, at the kernel's
own shapes: per chunk of updates, one ``checksum`` and, per (group, column),
one in-place ``splitmix64`` and one in-place ``trailing_zeros``. Scatter time
is the residual of ``build_sketches`` after those three phases. The measured
single-core rate is the ceiling ``sketch.build.kernel_efficiency`` is taken
against.
"""

from __future__ import annotations

import time

import numpy as np

from landscape_spark.hashing import checksum, splitmix64_inplace, trailing_zeros_inplace
from landscape_spark.sketch.l0 import SketchParams, build_sketches, edge_code, sample_group

SLICE_UPDATES = 1 << 19
CHUNK = 65536


def run(params: SketchParams, seed: int) -> dict[str, float]:
    rng = np.random.default_rng(seed)
    u = rng.integers(0, params.n, SLICE_UPDATES)
    v = (u + rng.integers(1, params.n, SLICE_UPDATES)) % params.n  # never u
    codes = edge_code(u, v, params.n)
    vids = np.concatenate([u, v])
    rows = np.concatenate([codes, codes])

    t0 = time.perf_counter()
    _, sk = build_sketches(vids, rows, params)
    build_s = time.perf_counter() - t0

    seeds = params.col_seeds()
    d_cap = params.depths - 1
    hash_s = level_s = checksum_s = 0.0
    h = np.empty(CHUNK, dtype=np.uint64)
    tmp = np.empty(CHUNK, dtype=np.uint64)
    f64 = np.empty(CHUNK, dtype=np.float64)
    d = np.empty(CHUNK, dtype=np.int64)
    for start in range(0, len(rows), CHUNK):
        cs = rows[start : start + CHUNK]
        e = len(cs)
        t0 = time.perf_counter()
        checksum(cs)
        checksum_s += time.perf_counter() - t0
        for s in seeds:
            t0 = time.perf_counter()
            np.bitwise_xor(cs, s, out=h[:e])
            splitmix64_inplace(h[:e], tmp[:e])
            t1 = time.perf_counter()
            trailing_zeros_inplace(h[:e], d_cap, f64[:e], d[:e], tmp[:e])
            t2 = time.perf_counter()
            hash_s += t1 - t0
            level_s += t2 - t1

    t0 = time.perf_counter()
    sample_group(sk, 0, params)
    sample_s = time.perf_counter() - t0

    return {
        "kernel_updates_per_s": SLICE_UPDATES / build_s,
        "hash_s": hash_s,
        "level_s": level_s,
        "checksum_s": checksum_s,
        "scatter_s": build_s - hash_s - level_s - checksum_s,
        # per endpoint row: the deterministic bucket's value+check pair, and
        # one value+check pair per (group, column)
        "bucket_xors": float(len(rows) * (2 + 2 * len(seeds))),
        "state_bytes": float(sk.nbytes),
        "sample_s": sample_s,
    }
