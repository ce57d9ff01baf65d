"""The benchmark's workloads (see perfbench/README.md for why each).

Every workload is a closed loop with one client: ``op`` starts after the
previous one returned. ``setup`` makes the inputs from the seed, materializes
them and computes the oracle, all before any timer. ``warmup`` walks the op's
code paths once, so the JVM's compiler and the Python workers are warm before
anything is measured. ``op`` times its calls through tracer spans, then checks
the outputs against the oracle outside the timers. An op has a write phase
(sketch build / in-stream micro-batch flushes) and a read phase (sketch-CC
query / the rest of the suite).
"""

from __future__ import annotations

import os
import shutil
import warnings

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from perfbench import oracles
from perfbench.trace import Tracer

PARTITIONS = 4


def _check_labels(got_v, got_comp, want: np.ndarray, what: str) -> list[str]:
    got_v = np.asarray(got_v, dtype=np.int64)
    bad = np.asarray(got_comp, dtype=np.int64) != want[got_v]
    if bad.any():
        return [f"{what}: {int(bad.sum())} of {len(got_v)} labels differ from the oracle"]
    return []


class _Warnings:
    """Records the RuntimeWarnings (the sketch-budget warnings) of a call."""

    def __enter__(self):
        self._cm = warnings.catch_warnings(record=True)
        self.caught = self._cm.__enter__()
        warnings.simplefilter("always")
        return self

    def __exit__(self, *exc):
        self._cm.__exit__(*exc)
        self.budget = [w for w in self.caught if issubclass(w.category, RuntimeWarning)]
        return False


class IngestSimple:
    """SimpleStream batch ingest: sketch build + sketch-CC query per op."""

    name = "ingest_simple"
    N_LOG2 = 14
    UPDATES = 1 << 20
    WARMUP_UPDATES = 1 << 17
    # the read phase asks the same CC query of the built sketches this many
    # times in a row: one query is ~10 jobs, too little work to time steadily
    QUERIES = 3

    def __init__(self, seed: int, work: str) -> None:
        self.seed = seed
        self.n = 1 << self.N_LOG2

    def kernel_params(self):
        from landscape_spark.sketch.l0 import SketchParams

        return SketchParams.for_graph(self.n, seed=self.seed)

    def setup(self, spark) -> dict:
        from landscape_spark import linkgraph

        stream = (
            linkgraph.synth_edge_stream(spark, self.n, self.UPDATES, seed=self.seed)
            .select(F.col("src").alias("a"), F.col("dst").alias("b"))
            .localCheckpoint(eager=True)
        )
        pdf = stream.toPandas()
        net_a, net_b = oracles.net_edges(pdf["a"].to_numpy(), pdf["b"].to_numpy(), self.n)
        return {
            "stream": stream,
            "updates": len(pdf),
            "labels": oracles.min_labels(self.n, net_a, net_b),
        }

    def warmup(self, spark, inp) -> None:
        prefix = inp["stream"].limit(self.WARMUP_UPDATES).localCheckpoint(eager=True)
        self._build_and_query(spark, prefix, Tracer(), [])[0].unpersist(blocking=True)

    def _build_and_query(self, spark, stream, tracer, rounds):
        from landscape_spark.sketch.boruvka import _cc_rounds
        from landscape_spark.sketch.build import build_group_slices

        params = self.kernel_params()
        with tracer.span("sketch.build.build_group_slices") as s_build:
            slices = build_group_slices(stream, params, PARTITIONS).persist()
            slices.count()
        with tracer.span("sketch.boruvka.cc_queries") as s_cc:
            for _ in range(self.QUERIES):
                rounds.clear()
                with tracer.span("sketch.boruvka.cc_rounds"):
                    vmap0 = slices.select(F.col("vid").alias("v"), F.col("vid").alias("comp"))
                    vmap = _cc_rounds(
                        spark, slices, vmap0.localCheckpoint(eager=True), params, 0, PARTITIONS,
                        on_round=lambda g, n_samp, merged: rounds.append((g, n_samp)),
                    )
                    vmap.select("comp").distinct().count()
        return slices, vmap, s_build, s_cc

    def op(self, spark, inp, k, tracer) -> dict:
        rounds: list = []
        with tracer.span("op.ingest_simple", op=k), _Warnings() as w:
            slices, vmap, s_build, s_cc = self._build_and_query(spark, inp["stream"], tracer, rounds)
        pdf = vmap.toPandas()
        n_vertices = slices.count()
        slices.unpersist(blocking=True)
        errors = _check_labels(pdf["v"], pdf["comp"], inp["labels"], "sketch CC")
        errors += [f"sketch budget: {x.message}" for x in w.budget]
        return {
            "write_s": s_build.duration, "read_s": s_cc.duration,
            "write_cpu_s": s_build.cpu, "read_cpu_s": s_cc.cpu, "updates": inp["updates"],
            "cc_query_s": s_cc.duration / self.QUERIES,
            # on_round reports each pass's first group; +1 counts the last one
            "passes": len(rounds), "groups_used": rounds[-1][0] + 1 if rounds else 0,
            "samples": sum(r[1] for r in rounds),
            "merges": n_vertices - pdf["comp"].nunique(),
            "budget_exhausted": len(w.budget), "errors": errors,
        }


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


# (key, span name) in the suite's fixed order. The triangle probe runs first
# and last. The in-stream section absorbs the graph as one micro-batch, then
# a second micro-batch that re-inserts, i.e. XOR-deletes, an eighth of its
# edges and so merges into the committed state; then query_components and a
# point-query burst. The two absorbs are the op's write phase.
SUITE = [
    ("probe_first", "graph.triangles.triangle_count"),
    ("absorb_0", "streaming.ingest.absorb_batch"),
    ("absorb_1", "streaming.ingest.absorb_batch"),
    ("query", "streaming.ingest.query_components"),
    ("burst", "streaming.ingest.burst_point_queries"),
    ("cc", "graph.cc.connected_components_exact"),
    ("csr", "graph.csr.pagerank_csr"),
    ("csr_blocked", "graph.csr_blocked.pagerank_csr_blocked"),
    ("traversal", "graph.traversal.bfs_distances"),
    ("probe_last", "graph.triangles.triangle_count"),
]
WRITE_CALLS = ("absorb_0", "absorb_1")


def _deleted(a, b, seed: int):
    """The edges the second micro-batch deletes: plain integer arithmetic,
    so numpy arrays and Spark columns agree."""
    return (a * 7 + b * 13 + seed % 8) % 8 == 0


class LinkgraphSuite:
    """One call each of the link-graph operators over the documents graph,
    plus an in-stream section that ingests the same graph as micro-batches."""

    name = "linkgraph_suite"
    DOCS = 1000
    PR_ITERS = 2
    BFS_SOURCES = 8
    BURST = 100

    def __init__(self, seed: int, work: str) -> None:
        self.seed = seed
        self.work = work
        self.docs_dir = os.path.join(work, "docs")
        self._states = 0

    def kernel_params(self):
        from landscape_spark.sketch.l0 import SketchParams

        return SketchParams.for_graph(self.DOCS, seed=self.seed)

    def setup(self, spark) -> dict:
        from landscape_spark import linkgraph

        n = self.DOCS
        os.makedirs(self.docs_dir, exist_ok=True)
        pq.write_table(
            pa.table({"doc_id": np.arange(n, dtype=np.int64)}),
            os.path.join(self.docs_dir, "documents.parquet"),
        )
        src, dst = oracles.link_graph(n)
        lo, hi = oracles.canonical(src, dst)
        und = np.unique(lo * n + hi)
        ua, ub = und // n, und % n
        kept = ~_deleted(ua, ub, self.seed)
        rng = np.random.default_rng(self.seed)
        sources = sorted(rng.choice(n, self.BFS_SOURCES, replace=False).tolist())
        burst = rng.integers(0, n, (self.BURST, 2))
        return {
            "n": linkgraph.num_vertices(spark, self.docs_dir),
            "e_dir": linkgraph.directed_edges(spark, self.docs_dir).localCheckpoint(eager=True),
            "e_und": linkgraph.undirected_edges(spark, self.docs_dir).localCheckpoint(eager=True),
            "verts": linkgraph.vertices(spark, self.docs_dir).localCheckpoint(eager=True),
            "pairs": spark.createDataFrame(
                [(int(x), int(y)) for x, y in burst], "a long, b long"
            ).localCheckpoint(eager=True),
            "sources": sources,
            "edges": len(und),
            "labels": oracles.min_labels(n, ua, ub),
            "labels_after_delete": oracles.min_labels(n, ua[kept], ub[kept]),
            "triangles": _triangles(n, ua, ub),
            "bfs": _bfs(n, src, dst, sources),
        }

    def warmup(self, spark, inp) -> None:
        # the in-stream section and the probe, on the real inputs; walking
        # the whole suite once would cost as much as a measured pass
        from landscape_spark.graph.triangles import triangle_count

        triangle_count(inp["e_und"]).collect()
        ing = self._ingestor(spark)
        ing.absorb_batch(inp["e_und"], 0)
        ing.absorb_batch(inp["e_und"].where(_deleted(F.col("a"), F.col("b"), self.seed)), 1)
        ing.burst_point_queries(inp["pairs"]).collect()
        shutil.rmtree(ing.state_dir, ignore_errors=True)

    def _ingestor(self, spark):
        from landscape_spark.streaming.ingest import SketchStreamIngestor

        self._states += 1
        state = os.path.join(self.work, f"state{self._states}")
        shutil.rmtree(state, ignore_errors=True)
        return SketchStreamIngestor(spark, self.kernel_params(), state, PARTITIONS)

    def op(self, spark, inp, k, tracer) -> dict:
        from landscape_spark.graph.cc import connected_components_exact
        from landscape_spark.graph.csr import build_blocked_csr, pagerank_csr, pagerank_csr_blocked
        from landscape_spark.graph.traversal import bfs_distances
        from landscape_spark.graph.triangles import triangle_count

        n, e_dir, e_und, verts = inp["n"], inp["e_dir"], inp["e_und"], inp["verts"]
        P, it = PARTITIONS, self.PR_ITERS
        ing = self._ingestor(spark)

        def absorb(batch, bid):
            ing.absorb_batch(batch, bid)
            return spark.createDataFrame([(bid,)], "batch int")

        def blocked():
            blocks = build_blocked_csr(e_dir, n, shards=P, num_partitions=P)
            return pagerank_csr_blocked(spark, e_dir, n, iters=it, shards=P, num_partitions=P, blocks=blocks)

        fns = {
            "probe_first": lambda: triangle_count(e_und),
            "absorb_0": lambda: absorb(e_und, 0),
            "absorb_1": lambda: absorb(e_und.where(_deleted(F.col("a"), F.col("b"), self.seed)), 1),
            "query": lambda: ing.query_components(0),
            "burst": lambda: ing.burst_point_queries(inp["pairs"]),
            "cc": lambda: connected_components_exact(e_und, verts),
            "csr": lambda: pagerank_csr(spark, e_dir, n, iters=it, num_partitions=P),
            "csr_blocked": blocked,
            "traversal": lambda: bfs_distances(e_dir, seeds=inp["sources"]),
            "probe_last": lambda: triangle_count(e_und),
        }
        out, spans = {}, {}
        with tracer.span("op.linkgraph_suite", op=k), _Warnings() as w:
            with tracer.span("graph.suite") as s_suite:
                for key, span_name in SUITE:
                    with tracer.span(span_name) as spans[key]:
                        out[key] = fns[key]().toPandas()
        cached = len(spark.sparkContext._jsc.getPersistentRDDs())
        state_bytes = _dir_bytes(ing._cur)
        hit_ratio = ing.cc_cache_hits / max(1, ing.cc_cache_hits + ing.cc_cache_misses)
        shutil.rmtree(ing.state_dir, ignore_errors=True)
        errors = self._check(out, inp)
        errors += [f"sketch budget: {x.message}" for x in w.budget]
        write_s = sum(spans[key].duration for key in WRITE_CALLS)
        write_cpu_s = sum(spans[key].cpu for key in WRITE_CALLS)
        return {
            "write_s": write_s, "read_s": s_suite.duration - write_s,
            "write_cpu_s": write_cpu_s, "read_cpu_s": s_suite.cpu - write_cpu_s,
            "suite_s": s_suite.duration, "calls": {key: s.duration for key, s in spans.items()},
            "updates": inp["edges"], "rdds_cached_after": cached, "state_bytes": state_bytes,
            "cache_hit_ratio": hit_ratio, "budget_exhausted": len(w.budget), "errors": errors,
        }

    def _check(self, out: dict, inp: dict) -> list[str]:
        n, labels = inp["n"], inp["labels"]
        errors: list[str] = []
        for key in ("probe_first", "probe_last"):
            got = int(out[key].iloc[0, 0])
            if got != inp["triangles"]:
                errors.append(f"{key}: {got} triangles, oracle {inp['triangles']}")
        ex = out["cc"]
        errors += _check_labels(ex["v"], ex["comp"], labels, "connected_components_exact")
        if len(ex) != n:
            errors.append(f"connected_components_exact: {len(ex)} rows for {n} vertices")
        ranks = {}
        for key in ("csr", "csr_blocked"):
            pr = out[key].sort_values("v")
            ranks[key] = pr["pr_score"].to_numpy(dtype=float)
            if len(pr) != n or abs(ranks[key].sum() - 1.0) > 1e-6:
                errors.append(f"{key}: {len(pr)} ranks summing to {ranks[key].sum():.9f}")
        if len(ranks["csr"]) == len(ranks["csr_blocked"]):
            diff = float(np.max(np.abs(ranks["csr"] - ranks["csr_blocked"])))
            if diff > 1e-6:
                errors.append(f"pagerank_csr_blocked differs from pagerank_csr by {diff:.2e}")
        got = dict(zip(out["traversal"]["v"].tolist(), out["traversal"]["dist"].tolist()))
        want = inp["bfs"]
        if got != want:
            errors.append(f"bfs_distances: {len(got)} reached vertices vs oracle {len(want)}, "
                          f"{sum(1 for v in got if got[v] != want.get(v))} distances differ")
        after = inp["labels_after_delete"]
        q = out["query"]
        errors += _check_labels(q["v"], q["comp"], after, "query_components after the deletions")
        b = out["burst"]
        wrong = int((b["connected"] != (after[b["a"]] == after[b["b"]])).sum())
        if wrong or len(b) != self.BURST:
            errors.append(f"burst after the deletions: {wrong} wrong of {len(b)} answers")
        return errors


def _triangles(n: int, a: np.ndarray, b: np.ndarray) -> int:
    adj = [set() for _ in range(n)]
    for x, y in zip(a.tolist(), b.tolist()):
        adj[x].add(y)
        adj[y].add(x)
    return sum(len(adj[x] & adj[y]) for x, y in zip(a.tolist(), b.tolist())) // 3


def _bfs(n: int, src: np.ndarray, dst: np.ndarray, sources: list[int]) -> dict[int, int]:
    """Directed multi-source BFS hop distances of every reached vertex."""
    out_adj = [[] for _ in range(n)]
    for x, y in zip(src.tolist(), dst.tolist()):
        out_adj[x].append(y)
    dist = {s: 0 for s in sources}
    frontier = list(sources)
    while frontier:
        nxt = []
        for x in frontier:
            for y in out_adj[x]:
                if y not in dist:
                    dist[y] = dist[x] + 1
                    nxt.append(y)
        frontier = nxt
    return dist


WORKLOADS = {w.name: w for w in (IngestSimple, LinkgraphSuite)}
