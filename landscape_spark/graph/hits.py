"""HITS (Kleinberg hubs & authorities) — synchronous power iteration.

Link-graph analysis operator in the same class as PageRank (the reference
engine is connectivity-only; this belongs to the webtext/link-graph axes,
like graph/pagerank.py). Semantics fixed so the DuckDB oracle reproduces
them bit-for-bit up to float-summation order:

    h_0(v)   = 1/N
    a_t(v)   = [ sum_{u->v} h_{t-1}(u) ] / L1-norm of that raw vector
    h_t(v)   = [ sum_{v->u} a_t(u)     ] / L1-norm of that raw vector

L1 (sum) normalization instead of the textbook L2: identical fixpoint
directions, but the norm folds into SQL as a plain SUM — no sqrt whose
libm rounding could differ across engines. Vertices with no in-links get
authority 0, no out-links hub 0; an edgeless graph yields all-zero scores
(the norm guard, not a division by zero).

Scale design mirrors pagerank.py's join path:

* The edge relation is repartitioned + cached ONCE per orientation —
  by src for the hub->authority half-step, by dst for the reverse — so
  each half-step's join reuses a cached partitioning and pays exactly one
  shuffle (the map-side-combined groupBy).
* The L1 norm is a 1-row aggregate folded in as a broadcast crossJoin —
  no driver collect, no O(n) broadcast anywhere in the loop (the same
  1-row-DF pattern as pagerank's dangling mass).
* Lineage is cut by checkpointing each half-step's RAW contribution
  aggregate (one eager action per half-step). The cut sits BEFORE the norm
  on purpose: the norm is a broadcast scalar subquery Catalyst does not
  exchange-dedup against the main side, so cutting after the division (the
  r5 shape) executed every half-step's join+aggregate twice — once under
  the norm, once under the division (measured 1.7x the half-step cost).
* The O(n) vertex frame is joined ONCE, in the final projection — a vertex
  absent from a half-step's aggregate has score exactly 0.0 and contributes
  nothing to the next join, so keeping it out of the loop is bit-identical
  (IEEE x + 0.0 == x).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from landscape_spark.rounds import Rounds
from landscape_spark.session import local_parallelism


def hits(
    edges: DataFrame,
    vertices: DataFrame,
    n_vertices: int,
    iters: int = 10,
) -> DataFrame:
    """Return (v, authority, hub) after ``iters`` full iterations.

    edges: directed distinct (src, dst); vertices: (v), dense 0..N-1.
    """
    spark = edges.sparkSession
    p = local_parallelism(spark)
    with Rounds() as r:
        e_src = r.cache(edges.select("src", "dst").repartition(p, "src"))
        e_dst = r.cache(edges.select("src", "dst").repartition(p, "dst"))
        e_src.count()
        e_dst.count()

        hubs = r.checkpoint(vertices.select("v", F.lit(1.0 / float(n_vertices)).alias("s")))
        auth = hubs

        def _half_step(
            e: DataFrame, key: str, out: str, scores: DataFrame, prev: DataFrame
        ) -> DataFrame:
            # raw(v) = sum of the other side's scores over edges incident at
            # v. CHECKPOINTED before the norm: the 1-row L1 norm is a
            # broadcast subquery Catalyst does not exchange-dedup against
            # the main side, so an un-cut raw would execute its
            # join+aggregate TWICE per half-step (once under the norm, once
            # under the division). The checkpoint replaces ``prev``'s.
            raw = r.checkpoint(
                e.join(scores, F.col(key) == scores.v)
                .select(F.col(out).alias("v"), F.col("s").alias("c"))
                .groupBy("v")
                .agg(F.sum("c").alias("c")),
                replaces=prev,
            )
            norm = raw.agg(F.coalesce(F.sum("c"), F.lit(0.0)).alias("_n"))
            # vertices with no incident edge on this orientation never appear
            # in raw; their score is implicitly 0 — the next half-step's join
            # drops them anyway, so the O(n) vertex left-join stays OUT of
            # the loop and runs once on the final projection below.
            return raw.crossJoin(F.broadcast(norm)).select(
                "v",
                F.when(F.col("_n") > 0, F.col("c") / F.col("_n"))
                .otherwise(F.lit(0.0))
                .alias("s"),
            )

        for _ in range(iters):
            auth = _half_step(e_src, "src", "dst", hubs, auth)
            hubs = _half_step(e_dst, "dst", "src", auth, hubs)

        return r.result(
            vertices.join(auth.select("v", F.col("s").alias("authority")), on="v", how="left")
            .join(hubs.select("v", F.col("s").alias("hub")), on="v", how="left")
            .select(
                "v",
                F.coalesce("authority", F.lit(0.0)).alias("authority"),
                F.coalesce("hub", F.lit(0.0)).alias("hub"),
            )
        )
