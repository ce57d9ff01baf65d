"""Synchronous label propagation (community detection) — deterministic.

North-rule addition. Tie-break is fully deterministic so results are
reproducible and SQL-oracle-checkable: each round a vertex adopts the label
with the HIGHEST count among its neighbors' labels, ties broken by SMALLEST
label; isolated vertices keep their own label. Fixed iteration count
(synchronous rounds), labels init to vertex id.

Scale: one shuffle per round (groupBy (v,label) count) plus a window over v —
the window partitions by vertex so it rides the same hash partitioning; AQE
coalesces. Deterministic by construction (no hash-order dependence).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from landscape_spark.graph.cc import symmetrize
from landscape_spark.rounds import Rounds


def label_propagation(
    und_edges: DataFrame,
    vertices: DataFrame,
    iters: int = 5,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 5,
    start_labels: DataFrame | None = None,
    start_iter: int = 0,
) -> DataFrame:
    """Return (v, label) after ``iters`` synchronous LPA rounds.

    checkpoint_dir enables the same durable per-iteration checkpoints as
    pagerank/Boruvka (north rule: resumable with per-partition lineage);
    resume_label_propagation continues from the latest saved round — the
    label table is the loop's entire cross-iteration state, so a resumed
    run equals an uninterrupted one exactly (labels are integers)."""
    spark = und_edges.sparkSession
    ckpt = None
    if checkpoint_dir is not None:
        from landscape_spark.checkpoint import RoundCheckpointer

        ckpt = RoundCheckpointer(spark, checkpoint_dir, "lpa")
    w = Window.partitionBy("v").orderBy(F.desc("cnt"), F.asc("label"))
    with Rounds() as r:
        # cached (no repartition — labels broadcast while small, fan-out is
        # linear): rounds re-read the adjacency without re-deriving the
        # caller's edge plan (see connected_components_exact)
        sym = r.cache(symmetrize(und_edges))
        if start_labels is not None:
            labels = r.checkpoint(start_labels.select("v", "label"))
        else:
            labels = r.checkpoint(vertices.select("v", F.col("v").alias("label")))
        for _it in range(start_iter, iters):
            nbr_labels = sym.join(labels, sym.w == labels.v).select(
                sym.v.alias("v"), "label"
            )
            best = (
                nbr_labels.groupBy("v", "label")
                .agg(F.count(F.lit(1)).alias("cnt"))
                .withColumn("rn", F.row_number().over(w))
                .where(F.col("rn") == 1)
                .select("v", F.col("label").alias("new_label"))
            )
            labels = r.checkpoint(
                labels.join(best, on="v", how="left").select(
                    "v", F.coalesce("new_label", "label").alias("label")
                ),
                replaces=labels,
            )
            if ckpt is not None and (_it + 1) % checkpoint_every == 0:
                ckpt.save_round(
                    _it + 1,
                    {"labels": labels},
                    state={"iteration": _it + 1, "iters_total": iters},
                    metrics={},
                )
        return r.result(labels)


def seeded_label_propagation(
    und_edges: DataFrame,
    vertices: DataFrame,
    seed_labels: DataFrame,
    iters: int = 5,
) -> DataFrame:
    """Semi-supervised label spreading from a labeled seed set — the
    TrustRank-shaped "propagate topic/trust labels from hand-labeled seed
    pages" primitive (Gyöngyi et al. VLDB'04 motivation, majority-vote
    propagation instead of rank mass).

    ``seed_labels``: (v, label) for the seed pages. Semantics per
    synchronous round: seeds are CLAMPED to their seed label forever;
    every other vertex adopts the majority label among its LABELED
    neighbors (count desc, label asc tie-break — deterministic), keeps
    its previous label if no neighbor is labeled yet, and stays NULL
    until the wave reaches it. Returns (v, label) with label NULL for
    vertices no seed can reach. Same per-round plan shape as
    label_propagation (one count shuffle + a per-vertex window)."""
    w = Window.partitionBy("v").orderBy(F.desc("cnt"), F.asc("label"))
    with Rounds() as r:
        seeds = r.checkpoint(seed_labels.select("v", F.col("label").alias("seed_label")))
        sym = r.cache(symmetrize(und_edges))
        labels = r.checkpoint(
            vertices.join(seeds, on="v", how="left").select(
                "v", F.col("seed_label").alias("label")
            )
        )
        for _ in range(iters):
            nbr_labels = (
                sym.join(labels, sym.w == labels.v)
                .where(F.col("label").isNotNull())
                .select(sym.v.alias("v"), "label")
            )
            best = (
                nbr_labels.groupBy("v", "label")
                .agg(F.count(F.lit(1)).alias("cnt"))
                .withColumn("rn", F.row_number().over(w))
                .where(F.col("rn") == 1)
                .select("v", F.col("label").alias("new_label"))
            )
            labels = r.checkpoint(
                labels.join(best, on="v", how="left")
                .join(seeds, on="v", how="left")
                .select("v", F.coalesce("seed_label", "new_label", "label").alias("label")),
                replaces=labels,
            )
        return r.result(labels)


def resume_label_propagation(
    und_edges: DataFrame,
    vertices: DataFrame,
    checkpoint_dir: str,
    iters: int = 5,
    checkpoint_every: int = 5,
) -> DataFrame:
    """Continue LPA from the latest durable checkpoint (written by
    label_propagation(..., checkpoint_dir=...)). Raises if none exists."""
    from landscape_spark.checkpoint import RoundCheckpointer

    spark = und_edges.sparkSession
    ckpt = RoundCheckpointer(spark, checkpoint_dir, "lpa")
    latest = ckpt.latest_round()
    if latest is None:
        raise ValueError(f"no lpa checkpoint under {checkpoint_dir}")
    dfs, lineage = ckpt.load_round(latest)
    return label_propagation(
        und_edges,
        vertices,
        iters=iters,
        checkpoint_dir=checkpoint_dir,
        checkpoint_every=checkpoint_every,
        start_labels=dfs["labels"],
        start_iter=int(lineage["state"]["iteration"]),
    )
