"""The numpy oracles the benchmark checks the engine against."""

import numpy as np

from perfbench import oracles


def test_min_labels_on_a_path_and_isolated_vertices():
    # path 5-4-3-2 plus edge 7-8; 0, 1, 6 isolated
    lab = oracles.min_labels(9, np.array([5, 4, 3, 8]), np.array([4, 3, 2, 7]))
    assert lab.tolist() == [0, 1, 2, 2, 2, 2, 6, 7, 7]


def test_min_labels_matches_a_python_union_find():
    rng = np.random.default_rng(0)
    n = 300
    a, b = rng.integers(0, n, 280), rng.integers(0, n, 280)
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            x = parent[x]
        return x

    for x, y in zip(a.tolist(), b.tolist()):
        rx, ry = find(x), find(y)
        parent[max(rx, ry)] = min(rx, ry)
    assert oracles.min_labels(n, a, b).tolist() == [find(v) for v in range(n)]


def test_net_edges_keeps_odd_multiplicity_in_either_orientation():
    a = np.array([1, 2, 2, 3, 5, 5])
    b = np.array([2, 1, 1, 4, 5, 6])
    lo, hi = oracles.net_edges(a, b, 8)
    assert list(zip(lo.tolist(), hi.tolist())) == [(1, 2), (3, 4), (5, 6)]


def test_link_graph_follows_the_law():
    src, dst = oracles.link_graph(100)
    pairs = set(zip(src.tolist(), dst.tolist()))
    assert len(pairs) == len(src)  # distinct
    assert all(s != d for s, d in pairs)
    i, j = 17, 3
    h = ((i % oracles.MOD) * oracles.MUL_A + j * oracles.MUL_B + oracles.ADD_C) % oracles.MOD
    d = h % oracles.N_HUBS if h % oracles.HUB_MOD < oracles.HUB_CUT else h % 100
    assert d == i or (i, d) in pairs

