"""Multi-source BFS hop distances and weighted shortest paths — crawl
cost from a seed set.

Link-graph analysis operator in the same class as PageRank/HITS (the
reference engine is connectivity-only; this belongs to the webtext /
link-graph axes). The canonical use on a web corpus is crawl-frontier
depth: "how many link hops from the seed list does each page sit?" —
the signal crawl schedulers and seed-biased curation pipelines cut on.

Algorithm: synchronous frontier expansion. dist(seed) = 0; round d
expands the round-(d-1) frontier along out-edges, keeping only vertices
not yet reached. Unlike the min-label loops (cc.py / lpa.py) whose
per-round messages are O(m), BFS messages are FRONTIER-sized: each edge
fires exactly once over the whole run (when its src enters the
frontier), so total traffic is O(m) across ALL rounds — the textbook
level-synchronous BFS cost, and the reason this is not expressed as a
bounded min-plus iteration.

Scale notes per round: one shuffle for the frontier join (the frontier
side is the small side — AQE broadcasts it while it fits, and web-graph
frontiers peak at a few percent of n), one distinct on the candidate
set, one anti-join against the visited table (hash-partitioned on v both
times, so the exchange is reused). Every round is one
landscape_spark.rounds checkpoint (plan O(1)) whose row count rides the
action; the loop terminates the first round the frontier comes back
empty, and warns if its round cap stops it first.

Unreached vertices are absent from the output (a left join against the
vertex table is the caller's choice of NULL vs sentinel).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from landscape_spark.rounds import Rounds, warn_cap


def bfs_distances(
    edges: DataFrame,
    seeds: Sequence[int],
    max_iter: int = 128,
) -> DataFrame:
    """Return (v, dist) — minimum hop count from any seed along DIRECTED
    edges (src, dst). Only reached vertices appear. max_iter bounds rounds
    at the graph's seed eccentricity (web graphs: ~tens). Hitting the cap
    while the last round still reached new vertices returns the
    ≤max_iter-hop ball (its distances are exact) and raises a
    RuntimeWarning, since vertices farther out are missing.
    """
    spark = edges.sparkSession
    with Rounds() as r:
        dist = r.checkpoint(
            spark.createDataFrame(
                [(int(s), 0) for s in dict.fromkeys(seeds)], "v long, dist int"
            )
        )
        frontier, nxt = dist.select("v"), None
        for d in range(1, max_iter + 1):
            candidates = (
                edges.join(frontier.withColumnRenamed("v", "src"), on="src")
                .select(F.col("dst").alias("v"))
                .distinct()
            )
            # the emptiness probe rides the checkpoint action (integer
            # count — exact), saving one job per round
            new, m = r.observe(
                candidates.join(dist, on="v", how="left_anti").select(
                    "v", F.lit(d).cast("int").alias("dist")
                ),
                replaces=nxt,
                n=F.count(F.lit(1)),
            )
            nxt = new
            if m["n"] == 0:
                break
            # NOTE measured, kept: accumulating dist as a LAZY union of the
            # checkpointed levels (no per-round copy) re-scans L fragments
            # in every round's anti-join and benched +6% at sf0.1 — the
            # consolidated re-checkpoint wins despite the extra job
            dist = r.checkpoint(dist.unionAll(nxt), replaces=dist)
            frontier = nxt.select("v")
        else:
            warn_cap("bfs_distances", "max_iter", max_iter)
        return r.result(dist)


def sssp_weighted(
    edges: DataFrame,
    seeds: Sequence[int],
    weight_col: str = "w",
    max_iter: int = 256,
) -> DataFrame:
    """(v, dist) — minimum total edge weight from any seed along DIRECTED
    weighted edges (src, dst, ``weight_col``); weights must be positive
    integers (crawl cost / link-multiplicity distance), so distances are
    EXACT int64 arithmetic — no float summation anywhere. Only reached
    vertices appear.

    Frontier Bellman–Ford: round t relaxes out-edges of ONLY the vertices
    whose distance improved in round t-1 (the delta-stepping intuition
    without the bucket machinery — an edge re-fires only when its source
    improves, which positive weights bound by the distinct-distance count,
    in practice a few rounds past the hop eccentricity). Per round: one
    frontier-sized join + a min-aggregate + one join against the distance
    table; lineage cut per round. Terminates exactly when no distance
    improves (empty frontier); hitting ``max_iter`` while distances still
    improve raises a RuntimeWarning (the distances are upper bounds)."""
    spark = edges.sparkSession
    ew = edges.select(
        "src", "dst", F.col(weight_col).cast("long").alias("_w")
    )
    with Rounds() as r:
        dist = r.checkpoint(
            spark.createDataFrame(
                [(int(s), 0) for s in dict.fromkeys(seeds)], "v long, dist long"
            )
        )
        frontier, improved = dist, None
        for _ in range(max_iter):
            cand = (
                ew.join(
                    frontier.select(
                        F.col("v").alias("src"), F.col("dist").alias("_d")
                    ),
                    on="src",
                )
                .groupBy(F.col("dst").alias("v"))
                .agg(F.min(F.col("_d") + F.col("_w")).alias("cand"))
            )
            joined = cand.join(dist, on="v", how="left")
            new, m = r.observe(
                joined.where(
                    F.col("dist").isNull() | (F.col("cand") < F.col("dist"))
                ).select("v", F.col("cand").alias("dist")),
                replaces=improved,
                n=F.count(F.lit(1)),
            )
            improved = new
            if m["n"] == 0:
                break
            dist = r.checkpoint(
                dist.join(improved.select("v"), on="v", how="left_anti").unionAll(improved),
                replaces=dist,
            )
            frontier = improved
        else:
            warn_cap("sssp_weighted", "max_iter", max_iter)
        return r.result(dist)
