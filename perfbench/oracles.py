"""Driver-side oracles, computed with numpy before any timer starts.

Each one is independent of the engine's code paths: connected components
come from vectorised min-label propagation with pointer jumping, the link
graph from the published integer law in ``landscape_spark.linkgraph``'s
docstring, re-implemented here.
"""

from __future__ import annotations

import numpy as np

# the link-graph law (landscape_spark/linkgraph.py module docstring)
K_OUT, MOD, MUL_A, MUL_B, ADD_C = 8, 1 << 31, 2_654_435_761, 40_503, 2_246_822_519
HUB_MOD, HUB_CUT, N_HUBS = 16, 3, 8


def min_labels(n: int, a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """label[v] = smallest vertex id in v's connected component of the
    undirected graph ({0..n-1}, {(a_i, b_i)})."""
    lab = np.arange(n, dtype=np.int64)
    a = np.asarray(a, dtype=np.int64)
    b = np.asarray(b, dtype=np.int64)
    while True:
        m = np.minimum(lab[a], lab[b])
        new = lab.copy()
        np.minimum.at(new, a, m)
        np.minimum.at(new, b, m)
        # pointer jumping: a label is itself a vertex whose label may be lower
        while True:
            jumped = new[new]
            if np.array_equal(jumped, new):
                break
            new = jumped
        if np.array_equal(new, lab):
            return lab
        lab = new


def canonical(a: np.ndarray, b: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Undirected (min, max) endpoints with self-loops dropped."""
    lo, hi = np.minimum(a, b), np.maximum(a, b)
    keep = lo != hi
    return lo[keep], hi[keep]


def net_edges(a: np.ndarray, b: np.ndarray, n: int) -> tuple[np.ndarray, np.ndarray]:
    """Edges with odd multiplicity in an insert/delete toggle stream (XOR
    semantics: an update toggles presence)."""
    lo, hi = canonical(np.asarray(a, np.int64), np.asarray(b, np.int64))
    codes, counts = np.unique(lo * n + hi, return_counts=True)
    odd = codes[counts % 2 == 1]
    return odd // n, odd % n


def link_graph(n_docs: int) -> tuple[np.ndarray, np.ndarray]:
    """Distinct directed (src, dst) edges of the documents-derived link
    graph over doc ids 0..n_docs-1."""
    i = np.repeat(np.arange(n_docs, dtype=np.int64), K_OUT)
    j = np.tile(np.arange(K_OUT, dtype=np.int64), n_docs)
    h = ((i % MOD) * MUL_A + j * MUL_B + ADD_C) % MOD
    dst = np.where(h % HUB_MOD < HUB_CUT, h % N_HUBS, h % n_docs)
    keep = dst != i
    codes = np.unique(i[keep] * n_docs + dst[keep])
    return codes // n_docs, codes % n_docs

