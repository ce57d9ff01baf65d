"""Link prediction: common-neighbor / Adamic–Adar top-k on the link graph.

Link-graph analysis operator (webtext/link-graph axes; the reference
engine is connectivity-only). On a web corpus this is the "suggest
missing links / related pages" primitive: score non-adjacent page pairs
by shared-neighborhood evidence. Adamic–Adar (public measure, Adamic &
Adar 2003) down-weights shared neighbors by 1/ln(degree) so that a
shared low-degree neighbor is stronger evidence than a shared hub.

Plan shape: one wedge self-join through the shared neighbor z (the same
join the triangle counters use), an aggregate on the candidate pair, an
anti-join against the existing edge set, then a TakeOrderedAndProject
top-k (per-partition heaps; never a global single-partition window).

Ranking is on the ROUNDED score (6 decimals) with (a, b) as tie-break,
so the sort key IS the published value — float-summation order across
engines cannot reorder the cut (the tfidf_topk precedent).

Scale: the wedge join through a degree-D hub admits C(D, 2) candidate
pairs; on web graphs that is the dominant cost and the standard
mitigation is a neighbor-degree cap (``max_wedge_degree``) — hubs above
the cap contribute near-zero Adamic–Adar weight anyway (1/ln(D) → 0),
so the recall loss is confined to the lowest-signal evidence. The cap
changes the published scores, so the gate query runs UNCAPPED (exact)
at sf scale and the cap is the documented 100TB knob, property-tested
for the containment relation it guarantees.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from landscape_spark.graph.cc import symmetrize
from landscape_spark.rounds import Rounds


def adamic_adar_topk(
    und_edges: DataFrame,
    k: int = 20,
    max_wedge_degree: int | None = None,
) -> DataFrame:
    """Top-k NON-adjacent pairs (a, b, common_cnt, aa_score) by Adamic–Adar
    score over canonical undirected edges (a, b), a < b.

    common_cnt = |N(a) ∩ N(b)|; aa_score = Σ_{z ∈ N(a)∩N(b)} 1/ln(deg z)
    (deg z >= 2 always holds for a shared neighbor, so ln(deg z) > 0).
    max_wedge_degree drops wedges whose CENTER degree exceeds the cap
    (the 100TB hub knob; None = exact).

    NOTE deliberately NOT co-partitioned on the center v: the wedge join's
    fan-out is QUADRATIC through a hub (C(D,2) rows), so pinning the join
    to hashpartitioning(v) would serialize each hub's entire wedge set into
    one task (measured 2x slower at sf0.1) — the broadcast/AQE-planned join
    keeps hub wedges spread across the probe side's even partitions.
    """
    sym = symmetrize(und_edges)
    deg = sym.groupBy("v").agg(F.count(F.lit(1)).alias("deg"))
    centers = sym.join(deg, on="v")
    if max_wedge_degree is not None:
        centers = centers.where(F.col("deg") <= F.lit(int(max_wedge_degree)))
    # 1/ln(deg) evaluated once per WEDGE SIDE, not once per wedge row —
    # the sum over candidate pairs adds the identical IEEE values
    left = centers.select(
        "v", F.col("w").alias("a"), (1.0 / F.log("deg")).alias("_il")
    )
    # the equi-join on the center v already restricts the right side to
    # centers surviving the cap — no second degree decoration needed
    right = sym.select("v", F.col("w").alias("b"))
    pairs = (
        left.join(right, on="v")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(
            F.count(F.lit(1)).alias("common_cnt"),
            F.round(F.sum("_il"), 6).alias("aa_score"),
        )
    )
    cand = pairs.join(und_edges, on=["a", "b"], how="left_anti")
    return (
        cand.orderBy(F.desc("aa_score"), F.asc("a"), F.asc("b"))
        .limit(int(k))
        .select("a", "b", "common_cnt", "aa_score")
    )


def jaccard_topk(
    und_edges: DataFrame,
    k: int = 20,
    max_wedge_degree: int | None = None,
) -> DataFrame:
    """Top-k NON-adjacent pairs (a, b, common_cnt, jaccard) by neighborhood
    Jaccard similarity |N(a) ∩ N(b)| / |N(a) ∪ N(b)| — the size-normalized
    companion to Adamic–Adar (two pages sharing most of their neighborhoods
    are near-duplicates of the link structure, the graph-side analogue of
    the text near-dup detectors).

    Same wedge plan as adamic_adar_topk plus two degree-decoration joins on
    the surviving candidate pairs (|N(a) ∪ N(b)| = deg a + deg b − common).
    Ranking is on the ROUNDED score with (a, b) tie-break — the sort key IS
    the published value. ``max_wedge_degree`` caps the wedge CENTER degree
    (100TB hub knob; None = exact). Like adamic_adar_topk, deliberately not
    co-partitioned on v (hub wedge fan-out is quadratic)."""
    sym = symmetrize(und_edges)
    deg = sym.groupBy("v").agg(F.count(F.lit(1)).alias("deg"))
    centers = sym
    if max_wedge_degree is not None:
        centers = sym.join(
            deg.where(F.col("deg") <= F.lit(int(max_wedge_degree))).select("v"),
            on="v",
            how="left_semi",
        )
    left = centers.select("v", F.col("w").alias("a"))
    # cap (if any) already enforced through the equi-join on v by the left side
    right = sym.select("v", F.col("w").alias("b"))
    pairs = (
        left.join(right, on="v")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("common_cnt"))
    )
    cand = (
        pairs.join(und_edges, on=["a", "b"], how="left_anti")
        .join(deg.select(F.col("v").alias("a"), F.col("deg").alias("da")), on="a")
        .join(deg.select(F.col("v").alias("b"), F.col("deg").alias("db")), on="b")
        .select(
            "a",
            "b",
            "common_cnt",
            F.round(
                F.col("common_cnt")
                / (F.col("da") + F.col("db") - F.col("common_cnt")),
                6,
            ).alias("jaccard"),
        )
    )
    return (
        cand.orderBy(F.desc("jaccard"), F.asc("a"), F.asc("b"))
        .limit(int(k))
        .select("a", "b", "common_cnt", "jaccard")
    )


def neighborhood_minhash(und_edges: DataFrame, num_hashes: int = 32) -> DataFrame:
    """(v, h0..h{k-1}): MinHash signature of each vertex's neighbor SET —
    k independent min-aggregates of xxhash64(i, neighbor) over the
    symmetrized adjacency. ONE shuffle total (map-side partial mins), all
    JVM-side; Pr[h_i(a) = h_i(b)] = Jaccard(N(a), N(b)), the classic
    Broder estimator applied to adjacency instead of shingles."""
    sym = symmetrize(und_edges)
    aggs = [
        F.min(F.xxhash64(F.lit(i), F.col("w"))).alias(f"h{i}")
        for i in range(int(num_hashes))
    ]
    return sym.groupBy("v").agg(*aggs)


def jaccard_lsh_topk(
    und_edges: DataFrame,
    k: int = 20,
    num_hashes: int = 32,
    bands: int = 16,
) -> DataFrame:
    """The 100TB path for ``jaccard_topk``: LSH-banded candidate
    generation over neighborhood-MinHash signatures, exact verification
    of candidates only. The exact wedge join admits sum-over-pairs
    |N(a)∩N(b)| rows — fine at gate scale, quadratic through hubs at
    warehouse N; this path replaces it with

      1. one signature build (one shuffle, see neighborhood_minhash),
      2. one projection exploding each signature into its ``bands`` band
         keys (NO extra scan — the multi-table one-scan discipline of
         sim/ann.py),
      3. one self-join on (band, bucket) — candidate volume is tuned by
         the (bands, rows) banding curve exactly as in text MinHash-LSH,
      4. exact |N(a)∩N(b)| + degrees for CANDIDATE pairs only (one join
         against the adjacency per side), the same rounded-score ranking
         as the exact path.

    Scores of returned pairs are EXACTLY the exact path's scores; only
    recall is approximate (a pair with no shared band is missed — the
    planted-pair recall property is tested). Output schema matches
    jaccard_topk."""
    num_hashes, bands = int(num_hashes), int(bands)
    assert num_hashes % bands == 0
    r = num_hashes // bands
    # one checkpoint, read by the (lazy) result: a scope with nothing to release
    sig = Rounds().checkpoint(neighborhood_minhash(und_edges, num_hashes))
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(*[F.col(f"h{b * r + j}") for j in range(r)]).alias(
                "bucket"
            ),
        )
        for b in range(bands)
    ]
    buckets = sig.select(
        "v", F.explode(F.array(*band_structs)).alias("bb")
    ).select("v", "bb.band", "bb.bucket")
    left = buckets.select(F.col("v").alias("a"), "band", "bucket")
    right = buckets.select(F.col("v").alias("b"), "band", "bucket")
    cand = (
        left.join(right, on=["band", "bucket"])
        .where(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
        .join(und_edges, on=["a", "b"], how="left_anti")
    )
    sym = symmetrize(und_edges)
    deg = sym.groupBy("v").agg(F.count(F.lit(1)).alias("deg"))
    # exact common-neighbor count for candidates only: explode side a's
    # adjacency, semi-match side b's
    na = cand.join(sym.select(F.col("v").alias("a"), "w"), on="a")
    common = (
        na.join(
            sym.select(F.col("v").alias("b"), "w"),
            on=["b", "w"],
            how="left_semi",
        )
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("common_cnt"))
    )
    scored = (
        common.join(deg.select(F.col("v").alias("a"), F.col("deg").alias("da")), on="a")
        .join(deg.select(F.col("v").alias("b"), F.col("deg").alias("db")), on="b")
        .select(
            "a",
            "b",
            "common_cnt",
            F.round(
                F.col("common_cnt")
                / (F.col("da") + F.col("db") - F.col("common_cnt")),
                6,
            ).alias("jaccard"),
        )
    )
    return (
        scored.orderBy(F.desc("jaccard"), F.asc("a"), F.asc("b"))
        .limit(int(k))
        .select("a", "b", "common_cnt", "jaccard")
    )


def _directed_wedge_topk(
    centers: DataFrame, k: int, max_center_degree: int | None
) -> DataFrame:
    """Shared-endpoint counts through directed wedges: ``centers`` is
    (c, x) meaning center c touches endpoint x; returns top-k endpoint
    pairs (a, b, shared_cnt) by the number of distinct shared centers."""
    if max_center_degree is not None:
        deg = centers.groupBy("c").agg(F.count(F.lit(1)).alias("deg"))
        centers = centers.join(
            deg.where(F.col("deg") <= F.lit(int(max_center_degree))).select("c"),
            on="c",
            how="left_semi",
        )
    left = centers.select("c", F.col("x").alias("a"))
    right = centers.select("c", F.col("x").alias("b"))
    pairs = (
        left.join(right, on="c")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("shared_cnt"))
    )
    return (
        pairs.orderBy(F.desc("shared_cnt"), F.asc("a"), F.asc("b"))
        .limit(int(k))
        .select("a", "b", "shared_cnt")
    )


def cocitation_topk(
    edges: DataFrame, k: int = 20, max_center_degree: int | None = None
) -> DataFrame:
    """Top-k page pairs by CO-CITATION count (Small 1973): the number of
    pages linking to BOTH — shared in-neighbors through a directed wedge
    (citing page = wedge center). THE related-page signal of the
    HITS/SALSA era; on a web graph, co-cited pages are topically close.
    ``max_center_degree`` caps the citing page's OUT-degree (a center
    with out-degree D emits C(D,2) pairs — the 100TB hub knob)."""
    return _directed_wedge_topk(
        edges.select(F.col("src").alias("c"), F.col("dst").alias("x")),
        k,
        max_center_degree,
    )


def coupling_topk(
    edges: DataFrame, k: int = 20, max_center_degree: int | None = None
) -> DataFrame:
    """Top-k page pairs by BIBLIOGRAPHIC COUPLING (Kessler 1963): the
    number of pages BOTH link to — shared out-neighbors (cited page =
    wedge center). The dual of co-citation; ``max_center_degree`` caps
    the cited page's IN-degree (hub authorities emit C(D,2) pairs)."""
    return _directed_wedge_topk(
        edges.select(F.col("dst").alias("c"), F.col("src").alias("x")),
        k,
        max_center_degree,
    )
