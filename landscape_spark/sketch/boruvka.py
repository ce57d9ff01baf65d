"""Boruvka emulation over l0-sketch supernodes: CC, k-spanning-forests, point queries.

The reference's query paths:
* CC (/root/reference/src/graph_distrib_update.cpp:105-154): <= O(log n)
  rounds; per round sample one incident (cut) edge per live supernode, union
  endpoint components in a DSU, merge the supernodes of each component
  linearly, repeat.
* k spanning forests (:156-209): k Boruvka passes; after each pass the
  forest's edges are RE-INSERTED into both endpoint supernodes — XOR is
  self-inverse, so re-insertion deletes them from the linear sketch — and the
  next pass extracts an edge-disjoint forest. The union of k forests is a
  k-edge-connectivity certificate (test /root/reference/test/k_connectivity_test.cpp:6-30).
* point query (:211-258): root comparison on the cached DSU.

Spark rendition: supernodes live in a DISTRIBUTED, IMMUTABLE columnar slice
table — one binary column per sketch group, built once and never rewritten
(the reference holds all supernodes on rank 0 — its acknowledged ceiling,
which this removes). Every pass projects only the groups it consumes
(column pruning), re-folds vertex slices under the current labels map-side,
and fuses the final fold with l0 sampling in one shuffle; only the tiny
vid->comp map updates per pass. Sampled component pairs merge via a driver
DSU under COLLECT_THRESHOLD samples and via the distributed Boruvka
min-edge rule + large-star/small-star contraction above it. Each Boruvka
round consumes one sketch GROUP (one-shot sampling). ONE pass loop
(_boruvka_passes) serves batch CC (_cc_rounds), each k-forest pass (which
also keeps the accepted edges) and the streaming in-stream queries
(streaming/ingest reuses _cc_rounds on its slice-parquet state). Every
pass is a round of landscape_spark.rounds: checkpoints ride their sample
counts, and each loop releases what it created on exit.

Component labels are canonical min-vertex-ids — exactly comparable to the
min-label SQL oracle.
"""

from __future__ import annotations

from functools import reduce

import numpy as np
import pandas as _pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from landscape_spark.rounds import Rounds
from landscape_spark.sketch.build import (
    build_group_slices,
    fold_sample,
    partial_fold,
    sample_vertex_groups,
    slice_params,
)
from landscape_spark.sketch.l0 import SketchParams


def _long_frame(spark: SparkSession, **cols: list[int]) -> DataFrame:
    """Driver-side int lists -> a long-column frame over the Arrow path
    (py4j row-by-row conversion of an ~n-sized list would dominate a pass)."""
    return spark.createDataFrame(
        _pd.DataFrame({k: np.asarray(v, dtype=np.int64) for k, v in cols.items()})
    )


# Above this many per-round samples the driver DSU is replaced by distributed
# star contraction over the sampled component graph (the reference collects
# every sample on rank 0, src/graph_distrib_update.cpp:105-154 — its
# acknowledged ceiling; this removes it).
COLLECT_THRESHOLD = 2_000_000


class DSU:
    """Union-find with union-by-min (roots are component minima)."""

    def __init__(self) -> None:
        self.parent: dict[int, int] = {}

    def find(self, x: int) -> int:
        # iterative with full path compression: recursion would blow the
        # interpreter stack on adversarial union chains near the
        # COLLECT_THRESHOLD-sized sample sets
        root = x
        while self.parent.get(root, root) != root:
            root = self.parent[root]
        while self.parent.get(x, x) != root:
            self.parent[x], x = root, self.parent[x]
        return root

    def union(self, a: int, b: int) -> bool:
        ra, rb = self.find(a), self.find(b)
        if ra == rb:
            return False
        lo, hi = (ra, rb) if ra < rb else (rb, ra)
        self.parent[hi] = lo
        return True


# The pass schedule: the first pass of a run samples FIRST_PASS_GROUPS
# groups, later passes LATER_PASS_GROUPS (most components are merged by
# then, so later passes are mostly convergence checks), and a pass samples
# one group once the remaining budget is within the reserve or more than
# collect_threshold components are live (distributed rounds contract
# strictly sequentially).
FIRST_PASS_GROUPS = 4
LATER_PASS_GROUPS = 2


def _fingerprint() -> dict:
    """Unordered-set fingerprint of an (x, y) edge set as integer metric
    columns: count, sum x, sum y and two independently-seeded mod-2^31 hash
    sums. Distinct edge sets with equal fingerprints need BOTH hash sums to
    collide (~2^-62 per round), the same w.h.p. class as the sketches
    themselves. Mersenne-prime mods keep the ANSI-mode sums exact (a raw
    sum of 64-bit hashes overflows long); overflow needs > 2^32 pair rows,
    far past the contracted-graph regime."""
    p = F.lit((1 << 31) - 1)
    return {
        "n": F.count(F.lit(1)),
        "sx": F.sum("x"),
        "sy": F.sum("y"),
        "h1": F.sum(F.pmod(F.xxhash64("x", "y", F.lit(1)), p)),
        "h2": F.sum(F.pmod(F.xxhash64("x", "y", F.lit(2)), p)),
    }


def _star_contraction(pairs: DataFrame, parent: Rounds | None = None) -> DataFrame:
    """Distributed connected components of the (tiny relative to the graph)
    sampled component-pair graph: alternating large-star / small-star
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14 — public algorithm). Converges in O(log^2) rounds to
    stars centered at each group's minimum label.

    Input: (x, y) component-id pairs, x != y. Output: (old_comp, new_comp)
    for every component whose label changes (roots are omitted — their label
    is already the group minimum). Everything stays distributed; nothing is
    collected to the driver.

    Each round's fingerprint (``_fingerprint``) rides its checkpoint action.
    A fingerprint MATCH with the previous round is confirmed by one exact
    set-equality job (both sides are distinct, so symmetric exceptAll
    emptiness is set equality), run only at the apparent fixpoint, on the
    smallest graph of the run — so termination itself is exact and the
    fingerprint only decides when to run the exact check."""
    with Rounds(parent) as r:
        e, e_stats = r.observe(
            pairs.select(F.least("x", "y").alias("x"), F.greatest("x", "y").alias("y"))
            .distinct(),
            **_fingerprint(),
        )
        while True:
            # large-star: every node links its strictly-larger neighbors to
            # min(N(u) ∪ {u})
            sym = e.select("x", "y").unionAll(
                e.select(F.col("y").alias("x"), F.col("x").alias("y"))
            )
            mins = sym.groupBy("x").agg(F.min("y").alias("mn"))
            mins = mins.select("x", F.least("x", "mn").alias("m"))
            ls = (
                sym.join(mins, on="x")
                .where(F.col("y") > F.col("x"))
                .select(F.col("y").alias("a"), F.col("m").alias("b"))
                .where(F.col("a") != F.col("b"))
            )
            # small-star: direct edges larger->smaller; every node links its
            # smaller neighbors AND itself to the minimum
            d = ls.select(F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v"))
            mins2 = d.groupBy("u").agg(F.min("v").alias("m"))
            ss, ss_stats = r.observe(
                d.join(mins2, on="u")
                .select(F.col("v").alias("a"), F.col("m").alias("b"))
                .unionAll(mins2.select(F.col("u").alias("a"), F.col("m").alias("b")))
                .where(F.col("a") != F.col("b"))
                .select(F.least("a", "b").alias("x"), F.greatest("a", "b").alias("y"))
                .distinct(),
                **_fingerprint(),
            )
            if ss_stats == e_stats and ss.exceptAll(e).unionAll(e.exceptAll(ss)).isEmpty():
                r.release(ss)
                break
            r.release(e)
            e, e_stats = ss, ss_stats
        # converged: every edge is (root=min, leaf)
        return r.result(e.select(F.col("y").alias("old_comp"), F.col("x").alias("new_comp")))


def _boruvka_passes(
    spark: SparkSession,
    slices: DataFrame,
    vmap: DataFrame | None,
    params: SketchParams,
    start_group: int,
    end: int,
    num_partitions: int,
    on_round=None,
    ckpt=None,
    collect_threshold: int = COLLECT_THRESHOLD,
    slices_path: str | None = None,
    parent: Rounds | None = None,
) -> tuple[DataFrame, list[tuple[int, int]], list[DataFrame], int]:
    """The Boruvka pass loop over the columnar slice table, consuming
    sketch groups start_group..end-1: sketch CC is one run of it, a k-forest
    certificate k runs.

    Per PASS: project the pass's group columns (column pruning ships only
    those), stack them to (comp*j+i, slice) rows under the CURRENT component
    labels, map-side partial XOR-fold, one shuffle fusing the final fold
    with l0 sampling; the first pass on the identity map samples straight
    off the unique vertex rows instead (no fold, no shuffle, no label
    joins). Sampled component pairs merge through a driver DSU, applied in
    (group, min endpoint, max endpoint) order, under collect_threshold
    samples, and through the Boruvka min-edge rule (acyclic by the
    max-edge-in-cycle argument) plus star contraction above it. Either way
    the accepted sample edges are the pass's forest edges, and only the
    vid->comp map updates: vertex sketches are built ONCE and never
    rewritten, so per-pass traffic is O(n slice bytes + vmap).

    Batching j groups per pass trades a few extra consumed groups (groups
    2..j sample at the pass-start granularity, so some of their samples
    land inside freshly-merged components and union as no-ops) for j-times
    fewer Spark jobs; each pass still contracts at least as much as one
    classic Boruvka round. Batching can consume up to 2*log2(n)+2 groups
    against a log2(n)+6 budget, so a RESERVE schedule guards the tail: once
    the remaining budget is within ceil(log2(live))+1 (one
    guaranteed-halving group per remaining doubling), passes drop to a
    single group. Exhausting the budget anyway (l0-sampling failures beyond
    the census-calibrated rate) raises a RuntimeWarning instead of silently
    returning an under-merged map or a non-maximal forest.

    ``vmap`` None starts from the identity map, built inside the scope (its
    checkpoint action also counts the live vertices); a caller's ``vmap`` is
    never released, and with start_group 0 it must be the identity.
    ``on_round(g, n_samp, merged)`` runs once per pass, including the final
    empty one. Returns (vid->comp map, driver-accepted forest edges,
    distributed forest edge frames (a, b), groups consumed); the frames'
    checkpoints are handed to ``parent``."""
    import math
    import time
    import warnings

    sp = slice_params(params)
    with Rounds(parent) as r:
        identity = vmap is None or start_group == 0
        if vmap is None:
            vmap, m = r.observe(
                slices.select(F.col("vid").alias("v"), F.col("vid").alias("comp")),
                n=F.count(F.lit(1)),
            )
            n_live = m["n"]
        else:
            # after a resume this is the vertex count, an overestimate that
            # only delays the n_live <= 1 shortcut — never wrong
            n_live = slices.count()
        accepted: list[tuple[int, int]] = []
        parts: list[DataFrame] = []
        g = start_group
        # one live component: NO cut edge can exist — converged without
        # paying a confirm pass
        converged = n_live <= 1
        while g < end and not converged:
            t0 = time.time()
            if n_live > collect_threshold or end - g <= math.ceil(
                math.log2(max(n_live, 2))
            ) + 1:
                j = 1
            else:
                j = FIRST_PASS_GROUPS if g == start_group else LATER_PASS_GROUPS
            gs = list(range(g, min(g + j, end)))
            j = len(gs)
            if identity and g == start_group:
                resolved = sample_vertex_groups(slices, [f"g{gg}" for gg in gs], sp).select(
                    "gi", "u", "v", F.col("u").alias("comp_u"), F.col("v").alias("comp_v")
                )
            else:
                stack = F.expr(
                    f"stack({j}, "
                    + ", ".join(f"{i}L, g{gg}" for i, gg in enumerate(gs))
                    + ") as (gi, sketch)"
                )
                keyed = (
                    slices.select(F.col("vid").alias("v"), stack)
                    .join(vmap, on="v")
                    .select((F.col("comp") * j + F.col("gi")).alias("ckey"), "sketch")
                )
                samples = fold_sample(partial_fold(keyed, "ckey"), "ckey", sp, num_partitions)
                u_map = vmap.select(F.col("v").alias("u"), F.col("comp").alias("comp_u"))
                v_map = vmap.select(F.col("v").alias("v2"), F.col("comp").alias("comp_v"))
                resolved = (
                    samples.join(u_map, on="u")
                    .join(v_map, samples.v == v_map.v2)
                    .select((F.col("ckey") % j).alias("gi"), "u", "v", "comp_u", "comp_v")
                    .where(F.col("comp_u") != F.col("comp_v"))
                )
            # materialize the (tiny: <= live components x j rows) sample set
            # ONCE, its row count riding the action; limit().collect() would
            # re-run the whole narrow sampling pipeline in incremental waves
            resolved, m = r.observe(resolved, n=F.count(F.lit(1)))
            n_samp = m["n"]
            if n_samp == 0:
                if on_round is not None:
                    on_round(g, 0, False)
                g += j  # sampling is one-shot: the empty pass used its groups
                converged = True  # no live component holds a cut edge
                break
            if n_samp <= collect_threshold:
                dsu = DSU()
                touched: set[int] = set()
                n_merged = 0
                # numpy columns over Arrow: per-row Row attribute access
                # costs more than the whole DSU pass
                pdf = resolved.toPandas()
                gi, cu, cv = (pdf[c].to_numpy() for c in ("gi", "comp_u", "comp_v"))
                lo = np.minimum(pdf["u"].to_numpy(), pdf["v"].to_numpy())
                hi = np.maximum(pdf["u"].to_numpy(), pdf["v"].to_numpy())
                order = np.lexsort((hi, lo, gi))
                for a, b, x, y in zip(*(c[order].tolist() for c in (lo, hi, cu, cv))):
                    if dsu.union(x, y):
                        touched.update((x, y))
                        accepted.append((a, b))
                        n_merged += 1
                old = [c for c in sorted(touched) if dsu.find(c) != c]
                remap_df = F.broadcast(
                    _long_frame(spark, old_comp=old, new_comp=[dsu.find(c) for c in old])
                )
            else:
                # min-edge rule: each component keeps its smallest sampled
                # edge; star contraction then merges along the kept edges
                ek = resolved.select(
                    F.least("u", "v").alias("a"),
                    F.greatest("u", "v").alias("b"),
                    "comp_u",
                    "comp_v",
                )
                sym = ek.select(
                    F.col("comp_u").alias("c"), "a", "b", "comp_u", "comp_v"
                ).unionAll(ek.select(F.col("comp_v").alias("c"), "a", "b", "comp_u", "comp_v"))
                kept, m = r.observe(
                    sym.groupBy("c")
                    .agg(
                        F.min_by(
                            F.struct("a", "b", "comp_u", "comp_v"), F.struct("a", "b")
                        ).alias("e")
                    )
                    .select("e.a", "e.b", "e.comp_u", "e.comp_v")
                    .distinct(),
                    n=F.count(F.lit(1)),
                )
                n_merged = m["n"]
                parts.append(kept.select("a", "b"))
                remap_df = _star_contraction(
                    kept.select(F.col("comp_u").alias("x"), F.col("comp_v").alias("y")), r
                )
            r.release(resolved)
            if n_merged:
                vmap = r.checkpoint(
                    vmap.join(remap_df, vmap.comp == remap_df.old_comp, "left").select(
                        "v", F.coalesce("new_comp", "comp").alias("comp")
                    ),
                    replaces=vmap,
                )
            r.release(remap_df)
            if on_round is not None:
                on_round(g, n_samp, n_merged > 0)
            g += j
            n_live -= n_merged
            converged = n_live <= 1
            if ckpt is not None:
                slices_path = slices_path or f"{ckpt.round_dir(gs[0])}/slices.parquet"
                dfs = {"vmap": vmap}
                if ckpt.latest_round() is None:
                    dfs["slices"] = slices
                ckpt.save_round(
                    gs[0],
                    dfs,
                    {
                        "next_group": g,
                        "slices_path": slices_path,
                        "params": {
                            k: getattr(params, k) for k in ("n", "rounds", "cols", "depths", "seed")
                        },
                    },
                    {"samples": n_samp, "round_sec": round(time.time() - t0, 3)},
                )
        # n_live is an upper bound (after a resume it starts from the vertex
        # count), so confirm with the exact distinct-component count before
        # alarming — a connected graph that finished on the last budgeted
        # group is NOT under-merged
        if not converged and vmap.select("comp").distinct().count() > 1:
            warnings.warn(
                f"sketch group budget exhausted at group {g} with components "
                "live and no group left for an empty-sample confirm pass — the "
                "returned map and forest are UNCONFIRMED (complete if the graph "
                "is disconnected, else under-merged); raise SketchParams.rounds "
                "(extra_rounds) or check the sampling-failure census calibration",
                RuntimeWarning,
                stacklevel=3,
            )
        r.result(vmap)
        for p in parts:
            r.result(p)
        return vmap, accepted, parts, g - start_group


def _forest_frame(
    spark: SparkSession, accepted: list[tuple[int, int]], parts: list[DataFrame]
) -> DataFrame:
    """One (a, b) frame of a pass loop's forest edges."""
    frames = list(parts)
    if accepted:
        frames.append(_long_frame(spark, a=[e[0] for e in accepted], b=[e[1] for e in accepted]))
    if not frames:
        return spark.createDataFrame([], "a long, b long")
    return reduce(DataFrame.unionAll, frames)


def _cc_rounds(
    spark: SparkSession,
    slices: DataFrame,
    vmap: DataFrame | None,
    params: SketchParams,
    start_group: int,
    num_partitions: int,
    on_round=None,
    ckpt=None,
    collect_threshold: int = COLLECT_THRESHOLD,
    slices_path: str | None = None,
) -> DataFrame:
    """Sketch CC: one run of the Boruvka pass loop (``_boruvka_passes``)
    over the rest of the group budget; returns the vid->comp map. ``vmap``
    None starts from the identity map; a caller's vmap is never released."""
    with Rounds() as r:
        vmap = _boruvka_passes(
            spark, slices, vmap, params, start_group, params.rounds, num_partitions,
            on_round=on_round, ckpt=ckpt, collect_threshold=collect_threshold,
            slices_path=slices_path, parent=r,
        )[0]
        return r.result(vmap)


def _forest_pass_slices(
    spark: SparkSession,
    slices: DataFrame,
    params: SketchParams,
    start_group: int,
    max_groups: int,
    num_partitions: int,
    collect_threshold: int = COLLECT_THRESHOLD,
) -> tuple[DataFrame, DataFrame, int]:
    """One k-forest pass: a Boruvka run from the identity map over at most
    ``max_groups`` groups. Returns (vid->comp map, forest edges (a, b),
    groups consumed)."""
    with Rounds() as r:
        vmap, accepted, parts, used = _boruvka_passes(
            spark, slices, None, params, start_group,
            min(start_group + max_groups, params.rounds), num_partitions,
            collect_threshold=collect_threshold, parent=r,
        )
        return r.result(vmap), r.result(_forest_frame(spark, accepted, parts)), used


def connected_components_sketch(
    spark: SparkSession,
    und_edges: DataFrame,
    n: int,
    params: SketchParams | None = None,
    num_partitions: int = 32,
    on_round=None,
    checkpoint_dir: str | None = None,
    collect_threshold: int = COLLECT_THRESHOLD,
) -> DataFrame:
    """Return (v, comp), comp = min vertex id of v's component. Isolated
    vertices never enter the sketch table; extend with components_with_isolated.
    With checkpoint_dir, every round persists state + lineage (resumable via
    resume_connected_components)."""
    params = params or SketchParams.for_graph(n)
    ckpt = None
    if checkpoint_dir is not None:
        from landscape_spark.checkpoint import RoundCheckpointer

        ckpt = RoundCheckpointer(spark, checkpoint_dir, "boruvka_cc")
        if ckpt.latest_round() is not None:
            # a fresh run on a dir holding a previous run would skip saving
            # its slice table (the first-save-only rule) while pointing new
            # rounds at a slices_path that was never written — resume would
            # then fail or silently mix two runs' state
            raise ValueError(
                f"{checkpoint_dir} already holds a boruvka_cc run; resume it "
                "with resume_connected_components or use a fresh directory"
            )
    with Rounds() as r:
        # persist() (in-memory COLUMNAR cache), not a checkpoint (row
        # blocks): every pass projects only its groups' columns, and the
        # columnar cache actually prunes them. The identity map's
        # checkpoint action fills it; the returned map never reads it.
        slices = r.cache(build_group_slices(und_edges, params, num_partitions))
        return r.result(
            _cc_rounds(
                spark, slices, None, params, 0, num_partitions,
                on_round=on_round, ckpt=ckpt, collect_threshold=collect_threshold,
            )
        )


def resume_connected_components(
    spark: SparkSession,
    checkpoint_dir: str,
    num_partitions: int = 32,
    on_round=None,
) -> DataFrame:
    """Resume a checkpointed Boruvka CC mid-iteration: load the latest round's
    (vmap, next group) plus the once-written slice table and continue to
    convergence."""
    from landscape_spark.checkpoint import RoundCheckpointer

    ckpt = RoundCheckpointer(spark, checkpoint_dir, "boruvka_cc")
    latest = ckpt.latest_round()
    if latest is None:
        raise ValueError(f"no completed rounds under {checkpoint_dir}")
    dfs, lineage = ckpt.load_round(latest)
    p = lineage["state"]["params"]
    params = SketchParams(
        n=p["n"], rounds=p["rounds"], cols=p["cols"], depths=p["depths"], seed=p["seed"]
    )
    slices_path = lineage["state"]["slices_path"]
    with Rounds() as r:
        slices = r.checkpoint(spark.read.parquet(slices_path))
        vmap = r.checkpoint(dfs["vmap"])
        return r.result(
            _cc_rounds(
                spark,
                slices,
                vmap,
                params,
                start_group=lineage["state"]["next_group"],
                num_partitions=num_partitions,
                on_round=on_round,
                ckpt=ckpt,
                slices_path=slices_path,
            )
        )


def k_spanning_forests(
    spark: SparkSession,
    und_edges: DataFrame,
    n: int,
    k: int,
    seed: int = 42,
    num_partitions: int = 32,
) -> DataFrame:
    """k edge-disjoint spanning forests (k-edge-connectivity certificate).

    Returns DataFrame (forest_id int, a long, b long). Forest t is a spanning
    forest of the graph minus forests 0..t-1 (XOR re-insertion deletes used
    edges from the linear sketches, graph_distrib_update.cpp:180-183), found
    by one run of the Boruvka pass loop on the identity map.
    Sketch-space budget scales with k, mirroring sketches_factor(k)
    (graph_distrib_update.cpp:11-14,25).
    """
    from landscape_spark.sketch.build import xor_merge_slices

    lg = max(1, int(np.ceil(np.log2(max(n, 2)))))
    # per-pass budget = the census-calibrated CC budget (log2(n) + retry
    # slack; BENCH/CENSUS.md) — each forest pass is one CC run on the
    # remaining graph. cols=3 is the calibrated geometry. The earlier
    # 2*log2(n)+4 / cols=4 sizing doubled sketch bytes (and build + merge +
    # checkpoint traffic) for slack the census shows is never used; the
    # reserve schedule + exhaustion warning guard the tail.
    per_pass = lg + 6
    params = SketchParams(n=n, rounds=k * per_pass, cols=3, depths=lg + 4, seed=seed)
    forests: list[DataFrame] = []
    group_cursor = 0
    with Rounds() as r:
        # columnar slice layout, like the flagship CC path: built once,
        # persisted (the in-memory columnar cache prunes to the consumed
        # groups' columns per pass), never rematerialized per round; the
        # first pass's identity map fills the cache
        slices = r.cache(build_group_slices(und_edges, params, num_partitions))
        for t in range(k):
            vmap, accepted, parts, used = _boruvka_passes(
                spark, slices, None, params, group_cursor,
                min(group_cursor + per_pass, params.rounds), num_partitions, parent=r,
            )
            group_cursor += used
            forest, m = r.observe(_forest_frame(spark, accepted, parts), n=F.count(F.lit(1)))
            r.release(vmap, *parts)
            if m["n"] == 0:
                break
            forests.append(forest.select(F.lit(t).cast("int").alias("forest_id"), "a", "b"))
            if t == k - 1:
                break
            # delete forest edges: XOR their codes back into BOTH endpoint
            # supernodes (self-inverse). Re-INSERTING an edge IS its deletion
            # in a linear sketch, so the delta table is just another
            # distributed slice build over the forest edges — O(forest)
            # stays on executors (the reference XORs them on rank 0,
            # graph_distrib_update.cpp:180-183).
            delta = build_group_slices(forest, params, num_partitions)
            # persist (MEMORY_AND_DISK), not a checkpoint: the columnar cache
            # prunes to each pass's consumed group columns, which
            # checkpointed row blocks cannot. The lineage chains at most k-1
            # merges — under memory pressure partitions SPILL rather than
            # recompute, and only executor loss pays the O(k)-deep
            # recompute (k <= 8 here; a cluster run wanting durability swaps
            # this persist for the streaming path's parquet state swap).
            new_slices = r.cache(
                xor_merge_slices(slices.unionAll(delta), "vid", params, num_partitions)
            )
            new_slices.count()
            r.release(slices)
            slices = new_slices
        if not forests:
            return spark.createDataFrame([], "forest_id int, a long, b long")
        return r.result(reduce(DataFrame.unionAll, forests))


def components_with_isolated(
    spark: SparkSession, vmap: DataFrame, vertices: DataFrame
) -> DataFrame:
    """Extend the edge-incident vid->comp map to all vertices (isolated
    vertices are singleton components)."""
    return vertices.join(vmap, on="v", how="left").select(
        "v", F.coalesce("comp", F.col("v")).alias("comp")
    )


def point_to_point_query(cc_result: DataFrame, a: int, b: int) -> bool:
    """Connectivity of two vertices from a cached CC result (the reference's
    DSU fast path, graph_distrib_update.cpp:211-226). Vertices absent from
    the map (isolated — CC maps may cover edge-incident vertices only) are
    their own singleton components, same fallback as batched_reachability:
    (present, absent) is disconnected and (v, v) is always connected."""
    if a == b:
        return True
    rows = {r.v: r.comp for r in cc_result.where(F.col("v").isin([a, b])).collect()}
    return rows.get(a, a) == rows.get(b, b)


def batched_reachability(cc_result: DataFrame, pairs: DataFrame) -> DataFrame:
    """(a, b, connected): semi-join style batched point queries against a
    cached CC result ('Batched Reachability',
    /root/reference/plotting/R_scripts/dsu_query_plot.R:20)."""
    ca = cc_result.select(F.col("v").alias("a"), F.col("comp").alias("comp_a"))
    cb = cc_result.select(F.col("v").alias("b"), F.col("comp").alias("comp_b"))
    return (
        pairs.join(ca, on="a", how="left")
        .join(cb, on="b", how="left")
        .select(
            "a",
            "b",
            (
                F.coalesce("comp_a", F.col("a")) == F.coalesce("comp_b", F.col("b"))
            ).alias("connected"),
        )
    )
