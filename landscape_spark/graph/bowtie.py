"""Bow-tie decomposition of the directed link graph (Broder et al., WWW 2000).

The canonical map of a web crawl's link structure: the giant strongly
connected CORE, the IN set (reaches the core), the OUT set (reachable
from the core), TENDRILs (weakly but not directionally attached), and
DISCONNECTED islands. This is the standard first summary a link-graph
user computes after SCC — it composes the engine's SCC and frontier-
reachability primitives, adding nothing driver-sized.

Region semantics (Broder's full 6-way map):

- CORE:         the largest SCC (ties broken by MIN component id, so the
                choice is deterministic and engine-portable)
- IN:           reaches CORE, not in it
- OUT:          reachable from CORE, not in it
- TUBE:         on an IN→OUT path that bypasses the core (reachable from
                the IN set AND reaches the OUT set, in none of the above)
- TENDRIL:      weakly connected to CORE but in none of the above
                (hangs off IN forward-only, or feeds OUT backward-only)
- DISCONNECTED: in a different weak component from CORE entirely

Plan shape: one SCC run (graph/scc.py), four frontier-synchronous
reachability sweeps (forward/backward from the core, forward from IN,
backward from OUT — each edge fires at most once per sweep, the
graph/traversal.py cost model), one undirected min-label CC run for the
weak components, then a single CASE projection. All state is
vertex-partitioned DataFrames; checkpoints bound lineage exactly as in
the constituent operators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from landscape_spark.graph.cc import connected_components_exact
from landscape_spark.graph.scc import strongly_connected_components
from landscape_spark.rounds import Rounds, warn_cap


def _reachable(
    edges: DataFrame, seeds: DataFrame, max_iter: int = 512, parent: Rounds | None = None
) -> DataFrame:
    """(v) reachable from the seed DataFrame along (src, dst) edges —
    seeds included. Frontier-synchronous: each edge fires once across the
    run, when its src enters the reached set. Hitting ``max_iter`` while
    the last round still reached new vertices raises a RuntimeWarning."""
    with Rounds(parent) as r:
        reached = r.checkpoint(seeds.select("v").distinct())
        frontier, nxt = reached, None
        for _ in range(max_iter):
            nxt, m = r.observe(
                edges.join(frontier.withColumnRenamed("v", "src"), on="src")
                .select(F.col("dst").alias("v"))
                .distinct()
                .join(reached, on="v", how="left_anti"),
                replaces=nxt,
                n=F.count(F.lit(1)),
            )
            if m["n"] == 0:
                break
            reached = r.checkpoint(reached.unionAll(nxt), replaces=reached)
            frontier = nxt
        else:
            warn_cap("bow-tie reachability", "max_iter", max_iter)
        return r.result(reached)


def bowtie_decomposition(
    edges: DataFrame,
    und_edges: DataFrame,
    vertices: DataFrame,
) -> DataFrame:
    """Return (v, region) with region in {CORE, IN, OUT, TUBE, TENDRIL,
    DISCONNECTED}. edges: directed (src, dst); und_edges: canonical
    (a, b) a < b of the same graph; vertices: (v)."""
    from concurrent.futures import ThreadPoolExecutor

    from landscape_spark.session import local_parallelism

    p = local_parallelism(edges.sparkSession)
    with Rounds() as r:
        scc = r.checkpoint(
            r.adopt(strongly_connected_components(edges, vertices), edges, vertices)
        )
        # each orientation cached partitioned on the frontier-join key ONCE:
        # the two sweeps per orientation then reuse the cached partitioning
        # every round (only the frontier moves — guide §2.4)
        e_fwd = r.cache(edges.select("src", "dst").repartition(p, "src"))
        e_bwd = r.cache(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")).repartition(p, "src")
        )
        core_comp = (
            scc.groupBy("comp")
            .agg(F.count(F.lit(1)).alias("sz"))
            .orderBy(F.desc("sz"), F.asc("comp"))
            .limit(1)
        )
        core = r.checkpoint(
            scc.join(F.broadcast(core_comp.select("comp")), on="comp").select("v"),
            replaces=scc,
        )
        # the sweeps (and the weak-CC run) are mutually independent given
        # their seeds — overlap them so one sweep's straggler tail
        # back-fills with the next sweep's tasks (guide §2.6; results are
        # unchanged)
        with ThreadPoolExecutor(max_workers=3) as pool:
            fut_fwd = pool.submit(_reachable, e_fwd, core, parent=r)  # core + OUT
            fut_bwd = pool.submit(_reachable, e_bwd, core, parent=r)  # core + IN
            fut_weak = pool.submit(connected_components_exact, und_edges, vertices)
            fwd = fut_fwd.result()
            bwd = fut_bwd.result()
            in_set = r.checkpoint(bwd.join(core, on="v", how="left_anti"))
            out_set = r.checkpoint(fwd.join(core, on="v", how="left_anti"))
            # TUBE membership: reachable from IN and reaching OUT while
            # outside core/IN/OUT. Seeds include IN/OUT themselves; the CASE
            # order makes that harmless (IN/OUT/CORE win first).
            fut_from_in = pool.submit(_reachable, e_fwd, in_set, parent=r)
            fut_to_out = pool.submit(_reachable, e_bwd, out_set, parent=r)
            from_in = fut_from_in.result()
            to_out = fut_to_out.result()
            weak = r.adopt(fut_weak.result(), und_edges, vertices)
        r.release(in_set, out_set)
        core_weak = weak.join(core, on="v").select(
            F.col("comp").alias("core_wcomp")
        ).distinct()
        return r.result(
            vertices.join(core.select("v", F.lit(1).alias("in_core")), "v", "left")
            .join(fwd.select("v", F.lit(1).alias("fwd")), "v", "left")
            .join(bwd.select("v", F.lit(1).alias("bwd")), "v", "left")
            .join(from_in.select("v", F.lit(1).alias("from_in")), "v", "left")
            .join(to_out.select("v", F.lit(1).alias("to_out")), "v", "left")
            .join(weak, "v", "left")
            .join(F.broadcast(core_weak), F.col("comp") == F.col("core_wcomp"), "left")
            .select(
                "v",
                F.when(F.col("in_core").isNotNull(), F.lit("CORE"))
                .when(F.col("bwd").isNotNull(), F.lit("IN"))
                .when(F.col("fwd").isNotNull(), F.lit("OUT"))
                .when(
                    F.col("from_in").isNotNull() & F.col("to_out").isNotNull(),
                    F.lit("TUBE"),
                )
                .when(F.col("core_wcomp").isNotNull(), F.lit("TENDRIL"))
                .otherwise(F.lit("DISCONNECTED"))
                .alias("region"),
            )
        )
