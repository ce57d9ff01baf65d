"""k-source betweenness centrality — distributed Brandes over DataFrames.

The last of the canonical centralities (PageRank/Katz/eigenvector/HITS/
SALSA measure endorsement; betweenness measures BROKERAGE — pages that
sit on many shortest paths, the navigational chokepoints of a crawl).
Exact betweenness is O(nm) (Brandes 2001); the standard web-scale
practice is pivot sampling (Brandes & Pich 2007): run Brandes from a
fixed source set S and publish the S-restricted sum — exact for the
chosen pivots, deterministic here because S is fixed (the hub seeds).

Both Brandes phases run for ALL sources simultaneously by keying state
on (s, v) — |S| interleaved BFS DAGs in one set of joins:

  forward, level t:   sigma_s(w) = sum over preds v of sigma_s(v)
                      (path counts; first time (s, w) is reached)
  backward, level t:  delta_s(v) = sum over succs w of
                      sigma_s(v)/sigma_s(w) * (1 + delta_s(w))
  betweenness(v)    = sum_s delta_s(v)   over v != s

Plan shape per level (both phases): one frontier-sized hash join against
the src-partitioned edge relation + one (s, v) aggregate — the BFS
discipline (each edge fires once per source per phase, total O(|S| * m)
traffic across the whole run); an anti-join against the reached set
keeps the forward frontier minimal. Path counts are exact int64 (sigma
overflows int64 only past ~9e18 shortest paths per (s,v) — far beyond
any graph this runs on at gate scale; the oracle uses BIGINT too, so
overflow would at worst break both sides identically). Lineage is cut
per level; levels are retained (they are the backward phase's schedule)
until the backward sweep has consumed them.
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from landscape_spark.rounds import Rounds, warn_cap
from landscape_spark.session import local_parallelism


def betweenness_sources(
    edges: DataFrame,
    vertices: DataFrame,
    sources: Sequence[int],
    max_depth: int = 64,
) -> DataFrame:
    """(v, betweenness): directed, unnormalized Brandes sum restricted to
    ``sources`` (deterministic pivot set). Vertices on no sampled
    shortest path (and the pivots' own endpoints-excluded zeros) publish
    0.0; values rounded to 6 decimals. Hitting ``max_depth`` while the
    last level still reached new vertices raises a RuntimeWarning."""
    spark = edges.sparkSession
    p = local_parallelism(spark)
    with Rounds() as r:
        e = r.cache(edges.select("src", "dst").repartition(p, "src"))
        e.count()

        src_list = [int(s) for s in dict.fromkeys(sources)]
        level0 = r.checkpoint(
            spark.createDataFrame([(s, s, 1) for s in src_list], "s long, v long, sigma long")
        )
        levels = [level0]
        reached = r.checkpoint(level0.select("s", "v"))
        for _ in range(int(max_depth)):
            prev = levels[-1]
            nxt, m = r.observe(
                prev.join(e, e.src == prev.v)
                .select("s", F.col("dst").alias("v"), "sigma")
                .groupBy("s", "v")
                .agg(F.sum("sigma").alias("sigma"))
                .join(reached, on=["s", "v"], how="left_anti"),
                n=F.count(F.lit(1)),
            )
            if m["n"] == 0:
                r.release(nxt)
                break
            levels.append(nxt)
            reached = r.checkpoint(reached.unionAll(nxt.select("s", "v")), replaces=reached)
        else:
            warn_cap("betweenness_sources", "max_depth", max_depth)
        r.release(reached)

        # backward sweep: deepest level has no successors -> delta 0. The
        # successor state carries (sigma, delta) in ONE frame, so each level
        # pays a single (s, w)-keyed join against it instead of two.
        deltas = [None] * len(levels)
        deltas[-1] = r.checkpoint(
            levels[-1].select("s", "v", "sigma", F.lit(0.0).alias("delta"))
        )
        for t in range(len(levels) - 2, -1, -1):
            cur, succ_sd = levels[t], deltas[t + 1]
            contrib = (
                cur.join(e, e.src == cur.v)
                .select("s", "v", "sigma", F.col("dst").alias("w"))
                .join(
                    succ_sd.select(
                        "s",
                        F.col("v").alias("w"),
                        F.col("sigma").alias("wsig"),
                        F.col("delta").alias("wdelta"),
                    ),
                    on=["s", "w"],
                )
                .groupBy("s", "v")
                .agg(
                    F.sum(
                        (F.col("sigma").cast("double") / F.col("wsig"))
                        * (F.lit(1.0) + F.col("wdelta"))
                    ).alias("delta")
                )
            )
            deltas[t] = r.checkpoint(
                cur.select("s", "v", "sigma")
                .join(contrib, on=["s", "v"], how="left")
                .select("s", "v", "sigma", F.coalesce("delta", F.lit(0.0)).alias("delta"))
            )
        r.release(*levels)

        bc = (
            reduce(DataFrame.unionAll, deltas)
            .where(F.col("v") != F.col("s"))
            .groupBy("v")
            .agg(F.sum("delta").alias("bc"))
        )
        return r.result(
            vertices.join(bc, on="v", how="left").select(
                "v",
                F.round(F.coalesce(F.col("bc"), F.lit(0.0)), 6).alias("betweenness"),
            )
        )
