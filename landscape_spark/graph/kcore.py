"""k-core decomposition (coreness) via distributed H-index iteration.

Link-graph analysis operator (the reference engine is connectivity-only;
this belongs to the webtext/link-graph axes like graph/pagerank.py). On a
web corpus, coreness is the classic link-spam / link-farm density signal
(dense farm subgraphs survive high-k peeling; genuine long-tail pages do
not) and the standard "dense nucleus" selector for seed curation.

Algorithm: the H-operator fixpoint (Lü et al., "The H-index of a network
node and its relation to degree and coreness", Nature Communications
2016 — public result): initialize h_0(v) = degree(v); each round set
h_t(v) = H-index of the multiset {h_{t-1}(w) : w ~ v} (the largest k
such that at least k neighbors have value >= k). The sequence is
pointwise monotone non-increasing and its fixpoint is exactly the
coreness. This distributes as a per-vertex aggregate — no sequential
min-degree peel, no global priority queue — which is why it is the
Spark-native formulation (peeling is inherently sequential in k).

Convergence certificate: values are non-negative integers and monotone
non-increasing per vertex, so the global SUM is strictly decreasing
until the fixpoint — when the sum stops changing, NO value changed
(same O(1)-row certificate as graph/cc.py min-label propagation). No
changed-row count, no extra join.

Scale notes per round: one shuffle joining the state to the symmetric
edge list (on the neighbor key), one exchange for the per-vertex window
(rank neighbors by value desc; the following aggregate rides the same
hash partitioning). The window streams each vertex's neighbor list with
spill — nothing materializes a hub's full neighbor array in one row
(the collect_list formulation would). Rounds to fixpoint are bounded by
the peeling depth of the graph (worst case O(n) on a path, tens on web
graphs); every round is one landscape_spark.rounds checkpoint.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from landscape_spark.graph.cc import symmetrize
from landscape_spark.rounds import Rounds


def _h_index(sym: DataFrame, state: DataFrame) -> DataFrame:
    """(v, h): the H-index of each edge-incident vertex's neighbor values."""
    w = Window.partitionBy("v").orderBy(F.desc("hw"))
    msgs = sym.join(
        state.select(F.col("v").alias("w"), F.col("h").alias("hw")), on="w"
    ).select("v", "hw")
    return (
        msgs.withColumn("rn", F.row_number().over(w))
        # hw desc-sorted, rn ascending: hw >= rn is prefix-closed, so
        # the max satisfying rank IS the H-index of the neighbor values
        .groupBy("v")
        .agg(
            F.max(F.when(F.col("hw") >= F.col("rn"), F.col("rn")).otherwise(0))
            .cast("long")
            .alias("h")
        )
    )


def h_round(sym: DataFrame, state: DataFrame, vertices: DataFrame) -> DataFrame:
    """One H-operator round: h'(v) = H-index of {h(w) : w ~ v}. Exposed
    un-checkpointed so plan tests can pin the round's physical shape
    (one join exchange + one per-vertex window exchange; the aggregate
    rides the window's hash partitioning)."""
    return vertices.join(_h_index(sym, state), on="v", how="left").select(
        "v", F.coalesce("h", F.lit(0)).cast("long").alias("h")
    )


def coreness(
    und_edges: DataFrame,
    vertices: DataFrame,
    max_iter: int = 512,
) -> DataFrame:
    """Return (v, core) — each vertex's coreness (max k with v in the
    k-core). und_edges: canonical (a, b) with a < b; vertices: (v).
    Isolated vertices have core 0.
    """
    import warnings

    from landscape_spark.session import local_parallelism

    with Rounds() as r:
        # adjacency materialized once, partitioned on the MESSAGE key (w):
        # each round's join then reuses the cached partitioning and only
        # the vertex-sized state frame moves (guide §2.4)
        sym = r.cache(
            symmetrize(und_edges).repartition(local_parallelism(und_edges.sparkSession), "w")
        )
        # the loop runs over edge-incident vertices only — every such vertex
        # receives >= 1 message per round, so the aggregate's domain is
        # stable and the per-round O(n) vertices left-join stays OUT of the
        # loop; isolated vertices are constant core 0 and rejoin in the
        # final select (the global cert sum is unchanged: isolated vertices
        # contribute 0). The convergence certificate (global INTEGER sum —
        # exact under any task-completion merge order) rides each
        # checkpoint action, so no round pays a separate certificate job.
        state, m = r.observe(
            sym.groupBy("v").agg(F.count(F.lit(1)).cast("long").alias("h")),
            s=F.sum("h"),
        )
        for _ in range(max_iter):
            prev_sum = m["s"]
            state, m = r.observe(_h_index(sym, state), replaces=state, s=F.sum("h"))
            if m["s"] == prev_sum:
                break
        else:
            warnings.warn(
                f"coreness did not converge within {max_iter} rounds — values "
                "are still decreasing (upper bounds on the true coreness); "
                "raise max_iter",
                RuntimeWarning,
                stacklevel=2,
            )
        return r.result(
            vertices.join(state, on="v", how="left").select(
                "v", F.coalesce("h", F.lit(0)).cast("long").alias("core")
            )
        )


def k_core(
    und_edges: DataFrame,
    vertices: DataFrame,
    k: int,
    max_iter: int = 512,
) -> DataFrame:
    """Vertices of the k-core (v, core) — the maximal subgraph where every
    vertex has degree >= k inside it. A filter over coreness (one pass
    serves every k, unlike per-k peeling)."""
    return coreness(und_edges, vertices, max_iter=max_iter).where(
        F.col("core") >= F.lit(int(k))
    )
