"""Exact connected components via iterative min-label propagation.

This is the engine's EXACT CC operator (the deterministic golden path the
sketch-based Boruvka CC is verified against). The reference's exact analog is
its verifier oracle (/root/reference/test/distributed_graph_test.cpp:16-27
uses FileGraphVerifier over the cumulative stream); its production CC is the
sketch path (see landscape_spark.sketch.boruvka).

Algorithm: hash-to-min label propagation. label(v) starts at v; each round
every vertex takes the min label over itself and its neighbors; converged when
the global label sum stops decreasing (labels are monotone non-increasing, so
the sum is a cheap O(1)-row convergence certificate — no count of changed
rows, no extra join).

Scale notes: each round is one shuffle (groupBy v). Rounds ~ graph diameter;
web graphs are short-diameter so this terminates fast. Every round is one
landscape_spark.rounds checkpoint (lineage cut, plans O(1)) carrying the
label sum, and releases the one it replaces. Label messages with
comp >= receiver id are dropped before the shuffle (labels are monotone
non-increasing and label(v) <= v, so such a message can never lower the
receiver's label) — this halves message traffic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from landscape_spark.rounds import Rounds


def symmetrize(und_edges: DataFrame) -> DataFrame:
    """(a,b) canonical undirected -> both directions (v, w)."""
    return und_edges.select(
        F.col("a").alias("v"), F.col("b").alias("w")
    ).unionAll(und_edges.select(F.col("b").alias("v"), F.col("a").alias("w")))


def connected_components_exact(
    und_edges: DataFrame,
    vertices: DataFrame,
    max_iter: int = 512,
) -> DataFrame:
    """Return (v, comp) where comp is the MIN vertex id in v's component
    (canonical min labels, a unique fixpoint).

    und_edges: columns (a, b) with a < b. vertices: column (v).

    max_iter bounds rounds at graph DIAMETER; near-critical random graphs
    (m ~ n/2) grow paths of diameter ~n^(1/3), which overflowed an earlier
    cap of 64 at n=65536 and silently mislabeled the path tails. The
    sum-based convergence check exits as soon as labels are stable, so
    short-diameter graphs (the web-graph case) never pay for the higher cap.
    """
    import warnings

    with Rounds() as r:
        # cache the symmetrized adjacency: each round's message join re-reads
        # it, and for gate callers the underlying edge relation is a lazy
        # scan + explode + distinct that would otherwise re-execute per
        # round. Deliberately NO repartition — the label side broadcasts
        # while small and the message fan-out is linear, so a pinned
        # exchange only adds an up-front shuffle (measured +0.2s at sf0.1
        # for zero per-round gain).
        sym = r.cache(symmetrize(und_edges))
        # the certificate (INTEGER label sum — exact under any task merge
        # order) rides each checkpoint action: no separate per-round
        # O(n)-scan certificate job
        labels, m = r.observe(
            vertices.select("v", F.col("v").alias("comp")), s=F.sum("comp")
        )
        for _ in range(max_iter):
            msgs = (
                sym.join(labels, on="v")
                .select(F.col("w").alias("v"), "comp")
                # label(u) <= u, so a message with comp >= v can never lower
                # v's label (label(v) <= v <= comp) — dropping them
                # pre-shuffle halves message traffic without changing the
                # fixpoint
                .where(F.col("comp") < F.col("v"))
            )
            prev_sum = m["s"]
            labels, m = r.observe(
                msgs.unionAll(labels).groupBy("v").agg(F.min("comp").alias("comp")),
                replaces=labels,
                s=F.sum("comp"),
            )
            if m["s"] == prev_sum:
                break
        else:
            # labels were still decreasing when the round budget ran out —
            # the returned map is WRONG for some vertices (this is the
            # golden path the sketch CC is verified against; silence here
            # would let a mislabeled run validate or falsify sketch results)
            warnings.warn(
                f"connected_components_exact did not converge within "
                f"{max_iter} rounds (graph diameter exceeds the cap) — labels "
                "are still decreasing; raise max_iter",
                RuntimeWarning,
                stacklevel=2,
            )
        return r.result(labels)
