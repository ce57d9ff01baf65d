"""Strongly connected components on the DIRECTED link graph.

Link-graph analysis operator (the reference engine's CC is undirected
connectivity; SCC belongs to the webtext/link-graph axes). On a web
corpus this is the bow-tie decomposition primitive (Broder et al.,
WWW 2000): the giant SCC plus IN/OUT tendrils is the standard map of a
crawl's link structure, and trivial-SCC trimming is how crawl-frontier
dead ends are identified.

Algorithm: the trim + forward-backward coloring family (public method —
Orzan's coloring, Slota et al.'s Multistep; both are the standard
distributed SCC formulations, chosen over Tarjan because DFS does not
distribute). Each outer round:

1. TRIM to fixpoint: a vertex with in-degree 0 or out-degree 0 in the
   remaining graph is a singleton SCC — assign comp=v, remove, repeat.
   This alone resolves any DAG portion without a single label round and
   is what keeps outer-round counts low on web graphs.
2. FORWARD COLORING: min-label propagation along edge direction to
   fixpoint — color(v) = min vertex id that reaches v within the
   remaining graph (messages with color >= receiver id are dropped
   pre-shuffle, the cc.py monotonicity trick; SUM of labels is the O(1)
   convergence certificate).
3. BACKWARD MARK: roots are vertices with color(v) = v. Mark the root
   set, then expand backwards along edges STAYING INSIDE the root's
   color class, frontier-synchronously (each edge fires at most once
   per outer round). The marked set of root r is exactly SCC(r), and
   r is the minimum id in it — so comp = color is already the
   canonical min-id component label, matching the undirected CC
   convention.
4. Assign marked SCCs, drop them from the remaining graph, repeat.

Every SCC found in a round is independent (different color classes), so
one round typically resolves many components; outer rounds are bounded
by the depth of the SCC condensation DAG that survives trimming.

Scale notes: all state is vertex-partitioned DataFrames; per inner round
one shuffle for the message join plus the min/distinct aggregate. The
remaining-graph edge relation is re-derived by semi-join each outer
round and checkpointed, so lineage stays O(1) across the nested loops;
every checkpoint is a landscape_spark.rounds round, released once replaced.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from landscape_spark.rounds import Rounds


def strongly_connected_components(
    edges: DataFrame,
    vertices: DataFrame,
    max_outer: int = 64,
    max_label_iter: int = 512,
) -> DataFrame:
    """Return (v, comp): comp is the MIN vertex id in v's strongly
    connected component (unique canonical fixpoint, same convention as
    the undirected CC operators). edges: (src, dst); vertices: (v)."""
    import warnings

    count = F.count(F.lit(1))
    with Rounds() as r:
        remaining = r.checkpoint(vertices.select("v"))
        edges_rem = r.checkpoint(edges.select("src", "dst"))
        assigned: list[DataFrame] = []
        for _outer in range(max_outer):
            # --- 1. trim singleton SCCs (in-deg 0 or out-deg 0) to fixpoint ---
            while True:
                # one endpoint-flag aggregate replaces the two distinct
                # passes: a vertex survives iff it occurs as BOTH a src and
                # a dst
                keep_v = (
                    edges_rem.select(F.col("src").alias("v"), F.lit(1).alias("o"), F.lit(0).alias("i"))
                    .unionAll(
                        edges_rem.select(F.col("dst").alias("v"), F.lit(0).alias("o"), F.lit(1).alias("i"))
                    )
                    .groupBy("v")
                    .agg(F.max("o").alias("o"), F.max("i").alias("i"))
                    .where((F.col("o") == 1) & (F.col("i") == 1))
                    .select("v")
                )
                # emptiness probes ride the checkpoint actions
                keep, m_keep = r.observe(
                    remaining.join(keep_v, on="v", how="left_semi"), n=count
                )
                trimmed, m_trim = r.observe(
                    remaining.join(keep, on="v", how="left_anti"), n=count
                )
                if m_trim["n"] == 0:
                    r.release(keep, trimmed)  # keep == remaining
                    break
                assigned.append(trimmed.select("v", F.col("v").alias("comp")))
                r.release(remaining)
                remaining = keep
                # shrink against the (typically small) TRIMMED set — an
                # anti-join Catalyst broadcasts when it fits, instead of two
                # semi-joins against the n-sized keep set
                edges_rem = r.checkpoint(
                    edges_rem.join(
                        trimmed.withColumnRenamed("v", "src"), on="src", how="left_anti"
                    ).join(trimmed.withColumnRenamed("v", "dst"), on="dst", how="left_anti"),
                    replaces=edges_rem,
                )
            if m_keep["n"] == 0:
                break

            # NOTE measured, kept plain: materializing orientation-
            # partitioned cached copies of edges_rem per outer round benched
            # +10% at sf0.1 — the color/frontier side broadcasts while it
            # fits, so the two cache-building exchanges bought nothing per
            # inner round

            # --- 2. forward coloring: color(v) = min id reaching v ---
            # the certificate (INTEGER color sum — exact under any task
            # merge order) rides each checkpoint action
            colors, m = r.observe(
                remaining.select("v", F.col("v").alias("color")), s=F.sum("color")
            )
            for _ in range(max_label_iter):
                msgs = (
                    edges_rem.join(colors.withColumnRenamed("v", "src"), on="src")
                    .select(F.col("dst").alias("v"), "color")
                    # color(u) <= u, so a message with color >= v can never
                    # lower v's label — drop pre-shuffle (cc.py monotonicity)
                    .where(F.col("color") < F.col("v"))
                )
                prev_sum = m["s"]
                colors, m = r.observe(
                    msgs.unionAll(colors).groupBy("v").agg(F.min("color").alias("color")),
                    replaces=colors,
                    s=F.sum("color"),
                )
                if m["s"] == prev_sum:
                    break
            else:
                # un-converged colors make the backward mark under-approximate
                # SCCs — not a silent wrong answer we are willing to return
                raise RuntimeError(
                    f"SCC forward coloring did not converge within "
                    f"{max_label_iter} rounds; raise max_label_iter"
                )

            # --- 3. backward mark from roots within each color class ---
            marked = r.checkpoint(
                colors.where(F.col("color") == F.col("v")).select(
                    "v", F.col("color").alias("comp")
                )
            )
            frontier, new = marked, None
            while True:
                cand = (
                    edges_rem.join(frontier.withColumnRenamed("v", "dst"), on="dst")
                    .select(F.col("src").alias("v"), "comp")
                    .join(colors, on="v")
                    .where(F.col("color") == F.col("comp"))
                    .select("v", "comp")
                    .distinct()
                )
                new, m_new = r.observe(
                    cand.join(marked.select("v"), on="v", how="left_anti"),
                    replaces=new,
                    n=count,
                )
                if m_new["n"] == 0:
                    break
                marked = r.checkpoint(marked.unionAll(new), replaces=marked)
                frontier = new
            r.release(new, colors)

            # --- 4. assign the SCCs found this round and shrink the graph ---
            assigned.append(marked)
            remaining, m_rem = r.observe(
                remaining.join(marked.select("v"), on="v", how="left_anti"),
                replaces=remaining,
                n=count,
            )
            if m_rem["n"] == 0:
                break
            # shrink against the small marked set (broadcastable), not the
            # n-sized remaining set — same anti-join trick as the trim
            edges_rem = r.checkpoint(
                edges_rem.join(
                    marked.select(F.col("v").alias("src")), on="src", how="left_anti"
                ).join(marked.select(F.col("v").alias("dst")), on="dst", how="left_anti"),
                replaces=edges_rem,
            )
        else:
            warnings.warn(
                f"strongly_connected_components hit max_outer={max_outer} with "
                "vertices unassigned — the condensation DAG is deeper than the "
                "round budget; raise max_outer",
                RuntimeWarning,
                stacklevel=2,
            )

        if not assigned:
            return vertices.select("v", F.col("v").alias("comp")).limit(0)
        return r.result(reduce(DataFrame.unionAll, assigned))
