"""CSR-block SpMV PageRank (treeAggregate path) and salted skew handling."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from landscape_spark import linkgraph
from landscape_spark.graph.csr import build_csr_blocks, pagerank_csr
from landscape_spark.graph.pagerank import pagerank
from landscape_spark.sketch.build import build_sketch_table
from landscape_spark.sketch.l0 import SketchParams


def test_csr_blocks_cover_all_edges(spark, sf_small):
    e = linkgraph.directed_edges(spark, sf_small)
    m = e.count()
    csr = build_csr_blocks(e, num_partitions=4)
    rows = [
        (
            np.frombuffer(r.vids, dtype=np.int64),
            np.frombuffer(r.indptr, dtype=np.int64),
            np.frombuffer(r.indices, dtype=np.int64),
        )
        for r in csr.collect()
    ]
    total = sum(len(indices) for _, _, indices in rows)
    assert total == m
    for vids, indptr, indices in rows:
        assert len(indptr) == len(vids) + 1
        assert indptr[-1] == len(indices)
        # partition invariant: every src vid appears once in its block
        assert len(np.unique(vids)) == len(vids)


def test_pagerank_csr_equals_join_pagerank(spark, sf_small):
    """The mapPartitions-CSR + treeAggregate path and the join-groupBy path
    must agree to float-summation noise."""
    e = linkgraph.directed_edges(spark, sf_small)
    n = linkgraph.num_vertices(spark, sf_small)
    verts = linkgraph.vertices(spark, sf_small)
    a = {r.v: r.pr_score for r in pagerank_csr(spark, e, n, iters=15, num_partitions=4).collect()}
    b = {r.v: r.pr_score for r in pagerank(e, verts, n, iters=15).collect()}
    assert set(a) == set(b)
    for v in a:
        assert a[v] == pytest.approx(b[v], abs=1e-12)


def test_pagerank_csr_dense_regime_guard(spark, sf_small):
    """Above dense_threshold the CSR path refuses (driver-resident CSR is
    the dense-vector regime only); the join path is the scale path."""
    e = linkgraph.directed_edges(spark, sf_small)
    n = linkgraph.num_vertices(spark, sf_small)
    with pytest.raises(ValueError, match="dense"):
        pagerank_csr(spark, e, n, iters=1, dense_threshold=1)


def test_salted_build_bit_identical(spark):
    """Salted (two-phase) sketch build == unsalted build, bit for bit —
    linearity makes skew handling semantics-free."""
    rng = np.random.default_rng(1)
    n = 256
    # heavy hub skew: half of all edges touch vertex 0
    edges = {(0, int(x)) for x in rng.integers(1, n, 300)} | {
        (int(min(a, b)), int(max(a, b)))
        for a, b in rng.integers(0, n, (300, 2))
        if a != b
    }
    e = spark.createDataFrame(sorted(edges), "a long, b long")
    params = SketchParams.for_graph(n, seed=9)
    plain = {
        r.vid: bytes(r.sketch)
        for r in build_sketch_table(e, params, num_partitions=4, salt=1).collect()
    }
    salted = {
        r.vid: bytes(r.sketch)
        for r in build_sketch_table(e, params, num_partitions=4, salt=8).collect()
    }
    assert plain == salted


def test_pagerank_csr_blocked_matches_join_path(spark, sf_small):
    """The sharded-rank-vector path (n beyond the dense/broadcast regime)
    must equal the join path to float-sum reordering, including with a
    shard count that does NOT divide n (ragged last shard)."""
    from landscape_spark import linkgraph
    from landscape_spark.graph.csr import pagerank_csr_blocked
    from landscape_spark.graph.pagerank import pagerank

    n = linkgraph.num_vertices(spark, sf_small)
    e = linkgraph.directed_edges(spark, sf_small)
    verts = linkgraph.vertices(spark, sf_small)
    ref = {r.v: r.pr_score for r in pagerank(e, verts, n, iters=8).collect()}
    got = {
        r.v: r.pr_score
        for r in pagerank_csr_blocked(spark, e, n, iters=8, shards=7).collect()
    }
    assert set(got) == set(ref) and len(got) == n
    assert max(abs(ref[v] - got[v]) for v in ref) < 1e-12


def test_pagerank_csr_blocked_all_dangling_uniform(spark):
    """No edges at all: every shard is dangling (deg_rows is EMPTY — the
    left-join path), and the result must be the uniform distribution."""
    from landscape_spark.graph.csr import pagerank_csr_blocked

    empty = spark.createDataFrame([], "src long, dst long")
    got = {r.v: r.pr_score for r in pagerank_csr_blocked(spark, empty, 10, iters=5, shards=3).collect()}
    assert len(got) == 10
    assert all(abs(v - 0.1) < 1e-12 for v in got.values())


def _persistent_rdds(spark) -> int:
    return len(spark.sparkContext._jsc.getPersistentRDDs())


def _graph(spark, sf):
    return linkgraph.num_vertices(spark, sf), linkgraph.directed_edges(spark, sf)


def _caller_blocks(e, n):
    from landscape_spark.graph.csr import build_blocked_csr

    blk = tuple(df.persist() for df in build_blocked_csr(e, n, shards=4, num_partitions=4))
    for df in blk:
        df.count()
    return blk


def test_pagerank_csr_blocked_keeps_caller_caches(spark, sf_small):
    """blocks= stays the caller's: both cached frames it passed are still
    cached after the call (the operator only drops what it created)."""
    from pyspark import StorageLevel

    from landscape_spark.graph.csr import pagerank_csr_blocked

    n, e = _graph(spark, sf_small)
    blk = _caller_blocks(e, n)
    try:
        pagerank_csr_blocked(spark, e, n, iters=2, shards=4, num_partitions=4, blocks=blk).collect()
        assert all(df.storageLevel != StorageLevel.NONE for df in blk)
    finally:
        for df in blk:
            df.unpersist()


def test_csr_pageranks_release_what_they_create(spark, sf_small):
    """After each CSR PageRank the persistent-RDD count is back to its entry
    value, plus at most the one rank state the returned frame reads."""
    from landscape_spark.graph.csr import pagerank_csr_blocked

    n, e = _graph(spark, sf_small)
    entry = _persistent_rdds(spark)
    pagerank_csr_blocked(spark, e, n, iters=3, shards=4, num_partitions=4).collect()
    assert _persistent_rdds(spark) <= entry + 1

    blk = _caller_blocks(e, n)
    try:
        entry = _persistent_rdds(spark)
        pagerank_csr_blocked(spark, e, n, iters=3, shards=4, num_partitions=4, blocks=blk).collect()
        assert _persistent_rdds(spark) <= entry + 1
    finally:
        for df in blk:
            df.unpersist()

    entry = _persistent_rdds(spark)
    pagerank_csr(spark, e, n, iters=3, num_partitions=4).collect()
    assert _persistent_rdds(spark) <= entry + 1


def _scopes(cluster) -> set[str]:
    out = {cluster.name()}
    children = cluster.childClusters()
    for k in range(children.size()):
        out |= _scopes(children.apply(k))
    return out


def _run_in_group(spark, group: str, fn) -> tuple[int, int]:
    """(jobs, Python stages) that ``fn`` ran. A Python stage is a stage
    that ran tasks through a MapInArrow operator."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker, store = sc.statusTracker(), sc._jsc.sc().statusStore()
    jobs = tracker.getJobIdsForGroup(group)
    stages = {s for j in jobs for s in tracker.getJobInfo(j).stageIds}
    python = 0
    for s in stages:
        info = tracker.getStageInfo(s)
        if info is not None and info.numCompletedTasks > 0:
            graph = store.operationGraphForStage(s)
            python += "MapInArrow" in _scopes(graph.rootCluster())
    return len(jobs), python


def test_pagerank_csr_blocked_round_shape(spark, sf_small):
    """Round-shape pin: each extra iteration costs exactly 3 jobs (rank
    shuffle, partial shuffle, checkpoint) and 2 Python stages (SpMV and
    update); besides those only the pack runs Python — init, dangling
    mass and emit stay in the JVM."""
    from landscape_spark.graph.csr import pagerank_csr_blocked

    n, e = _graph(spark, sf_small)
    shape = {
        iters: _run_in_group(
            spark,
            f"csr_blocked_shape_{iters}",
            lambda: pagerank_csr_blocked(
                spark, e, n, iters=iters, shards=4, num_partitions=4
            ).collect(),
        )
        for iters in (1, 3)
    }
    (jobs1, py1), (jobs3, py3) = shape[1], shape[3]
    assert jobs3 - jobs1 == 2 * 3, shape
    assert jobs1 <= 8, shape  # pack + static cache (4), first iteration (2), collect (1)
    assert py1 == 1 + 2 * 1 and py3 == 1 + 2 * 3, shape
