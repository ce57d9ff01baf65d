"""Deterministic random-walk sampling + skip-gram pair extraction.

The graph-embedding side of a training-data pipeline (DeepWalk, KDD'14 /
node2vec p=q=1): generate fixed-length first-order random walks from
every vertex, then explode them into (center, context) skip-gram pairs —
the positive-pair corpus an embedding trainer consumes. On a link graph
this is also the crawl-simulation primitive (PageRank's surfer, sampled).

Determinism is a feature, not a shortcut: the next hop from vertex v at
position ``step`` of walk (start_v, walk) is adjacency rank

    key  = start_v * 2^20 + walk
    H = ((v mod P)*131071 + step*8191 + (key mod P)*524287 + 12289) mod P
    rank = H mod out_deg(v)          with P = 9_999_991 (prime)

(the inner mods keep every product under 2^53 — overflow-free int64 in
both engines at any vertex count)

over the dst-sorted adjacency — a fixed public LCG-style law both engines
evaluate exactly in int64 (no RNG state, so the output is reproducible,
partition-invariant, and resumable; swap the law for xxhash64 when
cryptographic-quality mixing matters more than SQL portability). Walks
stop early at dangling vertices (no out-links), the standard convention.

Plan shape: the ranked adjacency (src, rank, dst, out_deg) is built ONCE
with a per-src window (partitioned by src — never a global window) and
cached; each step resolves the hop rank with a vertex-keyed degree join,
then fetches the chosen neighbor via an EQUI-join on (src, rank) — one
matching adjacency row per walker, NO per-hub fan-out (see the in-loop
comment for the 10^12-row failure mode the equi-key avoids). Lineage is
cut per step by a landscape_spark.rounds checkpoint; the step checkpoints
are the result, and the adjacency caches are released on return.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window

from landscape_spark.rounds import Rounds
from landscape_spark.session import local_parallelism

# the public hop law — mirrored verbatim in the DuckDB oracle SQL
H_V, H_STEP, H_WALK, H_ADD, H_MOD = 131071, 8191, 524287, 12289, 9_999_991
WALK_SHIFT = 1 << 20  # composite walk id = start_v * WALK_SHIFT + walk


def ranked_adjacency(edges: DataFrame) -> DataFrame:
    """(src, rank, dst, out_deg): dst-sorted dense ranks 0..out_deg-1 per
    source. The window partitions by src (each source's adjacency sorts
    locally — hub out-degrees on page graphs are bounded by page size)."""
    w = Window.partitionBy("src").orderBy("dst")
    return edges.select(
        "src",
        (F.row_number().over(w) - 1).alias("rank"),
        "dst",
        F.count(F.lit(1)).over(Window.partitionBy("src")).alias("out_deg"),
    )


def _hop_rank(v, step: int, walk_key):
    h = (
        (v % F.lit(H_MOD)) * F.lit(H_V)
        + F.lit(int(step) * H_STEP)
        + (walk_key % F.lit(H_MOD)) * F.lit(H_WALK)
        + F.lit(H_ADD)
    ) % F.lit(H_MOD)
    return h


def random_walks(
    edges: DataFrame,
    vertices: DataFrame,
    walk_len: int = 6,
    walks_per_vertex: int = 2,
) -> DataFrame:
    """(start_v, walk, step, v): ``walks_per_vertex`` deterministic walks
    of up to ``walk_len`` hops from every vertex (step 0 = the start
    itself; walks truncate at dangling vertices)."""
    spark = edges.sparkSession
    p = local_parallelism(spark)
    with Rounds() as r:
        adj = r.cache(ranked_adjacency(edges).repartition(p, "src", "rank"))
        adj.count()
        deg = r.cache(adj.select("src", "out_deg").distinct())
        deg.count()

        state = r.checkpoint(
            vertices.select(
                F.col("v").alias("start_v"),
                F.explode(F.sequence(F.lit(0), F.lit(int(walks_per_vertex) - 1))).alias("_wk"),
            ).select(
                "start_v",
                F.col("_wk").cast("long").alias("walk"),
                F.lit(0).alias("step"),
                F.col("start_v").alias("v"),
            )
        )
        levels = [state]
        for t in range(1, int(walk_len) + 1):
            walk_key = F.col("start_v") * F.lit(WALK_SHIFT) + F.col("walk")
            h = _hop_rank(F.col("v"), t - 1, walk_key)
            # resolve the hop rank BEFORE touching the adjacency, then fetch
            # the chosen neighbor with an EQUI-join on (src, rank): joining
            # on src alone and post-filtering the rank equation would fan
            # each walker at a degree-D hub out to D intermediate rows —
            # 10^6 walkers parked on a 10^6-degree hub is a 10^12-row join.
            # The degree lookup is a plain vertex-keyed hash join (no
            # fan-out).
            picked = state.join(deg, deg.src == state.v).select(
                "start_v",
                "walk",
                F.col("v").alias("src"),
                (h % F.col("out_deg")).alias("rank"),
            )
            state, m = r.observe(
                picked.join(adj.select("src", "rank", "dst"), on=["src", "rank"]).select(
                    "start_v",
                    "walk",
                    F.lit(t).alias("step"),
                    F.col("dst").alias("v"),
                ),
                n=F.count(F.lit(1)),
            )
            levels.append(state)
            if m["n"] == 0:
                break
        return r.result(reduce(DataFrame.unionAll, levels))


N2V_ADD = 777_767  # decouples the node2vec coin from the first-order hop law


def node2vec_walks(
    edges: DataFrame,
    vertices: DataFrame,
    walk_len: int = 6,
    walks_per_vertex: int = 1,
    p: float = 4.0,
    q: float = 0.25,
) -> DataFrame:
    """(start_v, walk, step, v): second-order node2vec walks (Grover &
    Leskovec, KDD'16) — from edge (prev -> cur), the next hop w in
    N_out(cur) is drawn with weight

        1/p  if w == prev            (return)
        1    if edge prev -> w exists (BFS-ish, stays in the neighborhood)
        1/q  otherwise               (DFS-ish exploration)

    The draw is deterministic: candidates sort by dst, the coin is the
    public LCG fraction u = H(...)/P, and the hop is the first candidate
    whose cumulative weight reaches u * total. ``p`` and ``q`` MUST be
    powers of two (asserted): every weight and cumulative sum is then
    EXACT in IEEE doubles, so the selection threshold compares
    identically in Spark and the DuckDB oracle — the same
    determinism-as-spec convention as the first-order walk. The first
    hop has no prev (all candidates weigh 1/q -> uniform).

    Plan per step: one frontier join against the cached dst-sorted
    adjacency (fan-out = out-degree of the current vertex — bounded by
    page size on web graphs, NOT the in-degree hub skew), one left join
    against the edge set for the prev->w flag, and one per-walker window
    (partitioned by the walker key, <= out-degree rows each) for the
    cumulative draw. Lineage cut per step."""

    def _pow2(x: float) -> bool:
        from math import frexp

        m, _ = frexp(x)
        return m == 0.5

    assert _pow2(float(p)) and _pow2(float(q)), "p and q must be powers of 2"
    spark = edges.sparkSession
    par = local_parallelism(spark)
    w_cum = Window.partitionBy("start_v", "walk").orderBy("w").rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_tot = Window.partitionBy("start_v", "walk")
    inv_p, inv_q = 1.0 / float(p), 1.0 / float(q)
    with Rounds() as r:
        adj = r.cache(edges.select("src", "dst").repartition(par, "src"))
        adj.count()
        prev_edge = r.cache(
            edges.select(
                F.col("src").alias("prev"), F.col("dst").alias("w"), F.lit(1).alias("_cmn")
            ).repartition(par, "prev")
        )
        prev_edge.count()

        state = r.checkpoint(
            vertices.select(
                F.col("v").alias("start_v"),
                F.explode(F.sequence(F.lit(0), F.lit(int(walks_per_vertex) - 1))).alias("_wk"),
            ).select(
                "start_v",
                F.col("_wk").cast("long").alias("walk"),
                F.lit(0).alias("step"),
                F.lit(-1).cast("long").alias("prev"),
                F.col("start_v").alias("v"),
            )
        )
        levels = [state.select("start_v", "walk", "step", "v")]
        for t in range(1, int(walk_len) + 1):
            key = F.col("start_v") * F.lit(WALK_SHIFT) + F.col("walk")
            u = (
                (
                    (F.col("v") % F.lit(H_MOD)) * F.lit(H_V)
                    + F.lit((t - 1) * H_STEP)
                    + (key % F.lit(H_MOD)) * F.lit(H_WALK)
                    + F.lit(N2V_ADD)
                )
                % F.lit(H_MOD)
            ).cast("double") / F.lit(float(H_MOD))
            cand = (
                state.join(adj, adj.src == state.v)
                .select("start_v", "walk", "prev", "v", F.col("dst").alias("w"))
                .join(prev_edge, on=["prev", "w"], how="left")
                .select(
                    "start_v",
                    "walk",
                    "prev",
                    "v",
                    "w",
                    F.when(F.col("w") == F.col("prev"), F.lit(inv_p))
                    .when(F.col("_cmn").isNotNull(), F.lit(1.0))
                    .otherwise(F.lit(inv_q))
                    .alias("wt"),
                )
            )
            picked = (
                cand.withColumn("cum", F.sum("wt").over(w_cum))
                .withColumn("tot", F.sum("wt").over(w_tot))
                .withColumn("_u", u)
                .where(
                    (F.col("_u") * F.col("tot") < F.col("cum"))
                    & (F.col("_u") * F.col("tot") >= F.col("cum") - F.col("wt"))
                )
            )
            state, m = r.observe(
                picked.select(
                    "start_v",
                    "walk",
                    F.lit(t).alias("step"),
                    F.col("v").alias("prev"),
                    F.col("w").alias("v"),
                ),
                n=F.count(F.lit(1)),
            )
            levels.append(state.select("start_v", "walk", "step", "v"))
            if m["n"] == 0:
                break
        return r.result(reduce(DataFrame.unionAll, levels))


def skipgram_pairs(walks: DataFrame, window: int = 2) -> DataFrame:
    """(center, context, n_pairs): ordered co-occurrence counts within
    ``window`` positions along each walk — the positive-pair corpus for an
    embedding trainer. One self-join per walk key band + one aggregate
    (the join key is the walk id; the step-window predicate filters the
    bounded per-walk fan-out, <= walk_len rows per key)."""
    a = walks.select(
        "start_v", "walk", F.col("step").alias("s1"), F.col("v").alias("center")
    )
    b = walks.select(
        "start_v", "walk", F.col("step").alias("s2"), F.col("v").alias("context")
    )
    return (
        a.join(b, on=["start_v", "walk"])
        .where(
            (F.col("s2") > F.col("s1"))
            & (F.col("s2") - F.col("s1") <= F.lit(int(window)))
        )
        .groupBy("center", "context")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )
