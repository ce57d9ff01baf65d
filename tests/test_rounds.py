"""The round primitive (landscape_spark.rounds): every iterative operator
releases what it creates, also on error, keeps what its caller owns, and
says so when a round cap stops it early. A source test keeps new loops
from hand-rolling rounds again."""

from __future__ import annotations

import gc
import pathlib
import warnings

import pytest
from pyspark.sql import functions as F

from landscape_spark import linkgraph
from landscape_spark.rounds import reads

ROOT = pathlib.Path(__file__).resolve().parents[1] / "landscape_spark"


def _persistent(spark) -> set[int]:
    return {int(i) for i in spark.sparkContext._jsc.getPersistentRDDs().keySet()}


@pytest.fixture(scope="module")
def graph(spark, sf_small):
    return {
        "n": linkgraph.num_vertices(spark, sf_small),
        "e_dir": linkgraph.directed_edges(spark, sf_small).localCheckpoint(eager=True),
        "e_und": linkgraph.undirected_edges(spark, sf_small).localCheckpoint(eager=True),
        "verts": linkgraph.vertices(spark, sf_small).localCheckpoint(eager=True),
    }


def _blocked(spark, g):
    from landscape_spark.graph.csr import pagerank_csr_blocked

    return pagerank_csr_blocked(spark, g["e_dir"], g["n"], iters=3, shards=4, num_partitions=4)


def _dense(spark, g):
    from landscape_spark.graph.csr import pagerank_csr

    return pagerank_csr(spark, g["e_dir"], g["n"], iters=3, num_partitions=4)


def _graph_op(name: str, *args, **kwargs):
    def run(spark, g):
        import landscape_spark.graph as graph_ops

        return getattr(graph_ops, name)(*(g[a] for a in args), **kwargs)

    return run


def _seeded_lpa(spark, g):
    from landscape_spark.graph.lpa import seeded_label_propagation

    seeds = spark.createDataFrame([(0, 1), (1, 2)], "v long, label long")
    return seeded_label_propagation(g["e_und"], g["verts"], seeds, iters=3)


def _sssp(spark, g):
    from landscape_spark.graph.traversal import sssp_weighted

    weighted = g["e_dir"].withColumn("w", (F.col("src") + F.col("dst")) % 3 + 1)
    return sssp_weighted(weighted, [0, 1, 2])


def _ppr(spark, g):
    from landscape_spark.graph.pagerank import personalized_pagerank

    return personalized_pagerank(g["e_dir"], g["verts"], g["n"], [0, 1], iters=3)


def _harmonic(spark, g):
    from landscape_spark.graph.anf import harmonic_centrality

    return harmonic_centrality(g["e_dir"], g["verts"], max_h=4)


def _hyperanf(spark, g):
    from landscape_spark.graph.anf import neighborhood_function

    return neighborhood_function(g["e_dir"], g["verts"], max_h=4)


def _bowtie(spark, g):
    from landscape_spark.graph.bowtie import bowtie_decomposition

    return bowtie_decomposition(g["e_dir"], g["e_und"], g["verts"])


def _cc_sketch(spark, g):
    from landscape_spark.sketch.boruvka import connected_components_sketch

    return connected_components_sketch(spark, g["e_und"], g["n"], num_partitions=4)


def _k_forests(spark, g):
    from landscape_spark.sketch.boruvka import k_spanning_forests

    return k_spanning_forests(spark, g["e_und"], g["n"], k=2, num_partitions=4)


OPERATORS = {
    "cc_exact": _graph_op("connected_components_exact", "e_und", "verts"),
    "coreness": _graph_op("coreness", "e_und", "verts"),
    "scc": _graph_op("strongly_connected_components", "e_dir", "verts"),
    "bfs": _graph_op("bfs_distances", "e_dir", seeds=[0, 1, 2]),
    "sssp": _sssp,
    "lpa": _graph_op("label_propagation", "e_und", "verts", iters=3),
    "seeded_lpa": _seeded_lpa,
    "betweenness": _graph_op("betweenness_sources", "e_dir", "verts", sources=[0, 1]),
    "hits": _graph_op("hits", "e_dir", "verts", "n", iters=3),
    "salsa": _graph_op("salsa", "e_dir", "verts", iters=3),
    "katz": _graph_op("katz_centrality", "e_dir", "verts", iters=3),
    "eigenvector": _graph_op("eigenvector_centrality", "e_dir", "verts", "n", iters=3),
    "pagerank": _graph_op("pagerank", "e_dir", "verts", "n", iters=3),
    "ppr": _ppr,
    "k_truss": _graph_op("k_truss", "e_und", k=3),
    "hyperanf": _hyperanf,
    "harmonic": _harmonic,
    "random_walks": _graph_op("random_walks", "e_dir", "verts", walk_len=3),
    "node2vec": _graph_op("node2vec_walks", "e_dir", "verts", walk_len=3),
    "bowtie": _bowtie,
    "cc_sketch": _cc_sketch,
    "k_forests": _k_forests,
    "pagerank_csr": _dense,
    "pagerank_csr_blocked": _blocked,
}


@pytest.mark.parametrize("name", sorted(OPERATORS))
def test_operator_keeps_only_what_its_result_reads(spark, graph, name):
    """With Python GC off (so nothing is freed behind the operator's back),
    the persistent RDDs a call leaves behind are exactly checkpoints or
    caches its result reads."""
    before = _persistent(spark)
    gc.disable()
    try:
        out = OPERATORS[name](spark, graph)
        left = _persistent(spark) - before
        assert left <= reads(out), (name, sorted(left - reads(out)))
        out.collect()  # nothing the result reads was released
    finally:
        gc.enable()


def test_operator_raising_mid_loop_releases_everything(spark):
    """SCC coloring on a directed cycle cannot converge in one round: the
    RuntimeError leaves no checkpoint or cache of the call behind."""
    from landscape_spark.graph.scc import strongly_connected_components

    n = 10
    edges = spark.createDataFrame([(i, (i + 1) % n) for i in range(n)], "src long, dst long")
    verts = spark.range(n).select(F.col("id").alias("v"))
    before = _persistent(spark)
    gc.disable()
    try:
        with pytest.raises(RuntimeError, match="did not converge"):
            strongly_connected_components(edges, verts, max_label_iter=1)
        assert _persistent(spark) - before == set()
    finally:
        gc.enable()


def test_cc_rounds_keeps_the_callers_vmap(spark):
    """A caller-owned identity map passed to _cc_rounds (the frozen bench
    callers do this) is still cached after the call."""
    from landscape_spark.sketch.boruvka import _cc_rounds
    from landscape_spark.sketch.build import build_group_slices
    from landscape_spark.sketch.l0 import SketchParams

    n = 64
    e = spark.createDataFrame([(i, i + 1) for i in range(0, n - 1, 2)], "a long, b long")
    params = SketchParams.for_graph(n, seed=5)
    slices = build_group_slices(e, params, 4).localCheckpoint(eager=True)
    vmap0 = slices.select(F.col("vid").alias("v"), F.col("vid").alias("comp")).localCheckpoint(
        eager=True
    )
    vmap = _cc_rounds(spark, slices, vmap0, params, 0, 4)
    assert reads(vmap0) <= _persistent(spark)
    assert vmap0.count() == n
    assert vmap.select("comp").distinct().count() == n // 2


@pytest.fixture(scope="module")
def path(spark):
    """Directed path 0 -> 1 -> ... -> 9, unit weights."""
    n = 10
    edges = spark.createDataFrame(
        [(i, i + 1, 1) for i in range(n - 1)], "src long, dst long, w long"
    ).localCheckpoint(eager=True)
    verts = spark.range(n).select(F.col("id").alias("v")).localCheckpoint(eager=True)
    return edges, verts


def _capped_loops(edges, verts, cap):
    from landscape_spark.graph.betweenness import betweenness_sources
    from landscape_spark.graph.bowtie import _reachable
    from landscape_spark.graph.traversal import bfs_distances, sssp_weighted

    seed = verts.where(F.col("v") == 0)
    kw = {} if cap is None else {"max_iter": cap}
    return {
        "bfs": lambda: bfs_distances(edges, [0], **kw),
        "sssp": lambda: sssp_weighted(edges, [0], **kw),
        "bowtie_reachable": lambda: _reachable(edges, seed, **kw),
        "betweenness": lambda: betweenness_sources(
            edges, verts, [0], **({} if cap is None else {"max_depth": cap})
        ),
    }


@pytest.mark.parametrize("name", ["bfs", "sssp", "bowtie_reachable", "betweenness"])
def test_capped_loop_warns(path, name):
    """Stopped by its round cap while still reaching new vertices, a loop
    says so instead of returning a silently partial answer."""
    edges, verts = path
    with pytest.warns(RuntimeWarning, match="max_(iter|depth)"):
        _capped_loops(edges, verts, 3)[name]().collect()


def test_converged_loops_stay_silent(path):
    edges, verts = path
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        for run in _capped_loops(edges, verts, None).values():
            run().collect()
    assert not [w for w in caught if issubclass(w.category, RuntimeWarning)]


def test_no_hand_rolled_rounds():
    """Graph loops and the Boruvka passes checkpoint and observe only
    through landscape_spark.rounds."""
    files = sorted((ROOT / "graph").glob("*.py")) + [ROOT / "sketch" / "boruvka.py"]
    offenders = [
        f"{f.name}:{i}"
        for f in files
        for i, line in enumerate(f.read_text().splitlines(), 1)
        if "Observation(" in line or ".localCheckpoint(" in line
    ]
    assert not offenders, offenders
