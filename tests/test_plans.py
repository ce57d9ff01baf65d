"""Physical-plan shape assertions for the headline paths.

Correctness tests prove WHAT is computed; these pin HOW — the properties
that decide whether a plan survives a 100x scale-up: no cartesian products
anywhere, broadcasts only on provably-small sides, single-shuffle sketch
builds, filter/column pushdown reaching the parquet scan, and no
single-partition global windows. A regression here is invisible to value
checks (the answer stays right, the 100TB run dies)."""

from __future__ import annotations

from pyspark.sql import functions as F

from landscape_spark import linkgraph
from landscape_spark.sketch.build import build_group_slices
from landscape_spark.sketch.l0 import SketchParams


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_sketch_build_is_single_shuffle(spark, sf_small):
    """The sketch build's only exchange is the guttering repartition by vid
    (SURVEY I2) — a second exchange would double the dominant ingest cost."""
    # materialize the edge table first: the claim is about the BUILD on a
    # given edge relation (the sf link-graph derivation has its own distinct)
    und = linkgraph.undirected_edges(spark, sf_small).localCheckpoint(eager=True)
    n = linkgraph.num_vertices(spark, sf_small)
    params = SketchParams.for_graph(n, seed=1)
    plan = _plan(build_group_slices(und, params, 8))
    assert plan.count("Exchange") == 1, plan


def test_no_cartesian_in_similarity_paths(spark, sf_small):
    """kNN/ANN/near-dup must never fall back to CartesianProduct or a
    broadcast nested-loop join (the round-1 kNN bug class)."""
    from landscape_spark.sim import ann, embdup
    from landscape_spark.sim.knn import knn_label_majority

    emb = spark.read.parquet(f"{sf_small}/embeddings.parquet")
    qvec = [float(x) for x in emb.where("vec_id = 0").first()["embedding"]]
    for df in (
        ann.brute_force_topk(emb, qvec, k=5),
        ann.lsh_topk(emb, qvec, k=5, n_planes=8, n_tables=2),
        embdup.embedding_near_dup_exact(emb, threshold=0.5),
        knn_label_majority(emb, k=3),
    ):
        plan = _plan(df)
        assert "CartesianProduct" not in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan


def test_topk_has_no_global_single_partition_window(spark, sf_small):
    """Top-k paths must compile to TakeOrderedAndProject (or a bounded sort),
    never a Window over an empty partition spec (single-partition collapse —
    the round-1 top-k bug class)."""
    from landscape_spark.entry_queries import q_top_in_degree

    plan = _plan(q_top_in_degree(spark, sf_small))
    assert "TakeOrderedAndProject" in plan, plan
    assert "Window" not in plan, plan


def test_documents_scan_prunes_columns(spark, sf_small):
    """Token stats read (doc_id, text)-ish subsets — the parquet ReadSchema
    must not ship every column of the documents table."""
    from landscape_spark.entry_queries import q_token_stats

    plan = _plan(q_token_stats(spark, sf_small))
    scan = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scan, plan
    assert "source" not in scan[0], scan[0]  # unused column stays unread


def test_filter_pushdown_reaches_parquet(spark, sf_small):
    """A predicate on a scanned column lands in PushedFilters, not a
    post-scan Filter-only plan."""
    df = (
        spark.read.parquet(f"{sf_small}/documents.parquet")
        .where(F.col("doc_id") == 7)
        .select("doc_id", "n_chars")
    )
    plan = _plan(df)
    assert "PushedFilters: [" in plan and "doc_id" in plan.split("PushedFilters")[1].split("]")[0], plan


def test_simhash_signature_plan_is_exchange_free(spark, sf_small):
    """The fused simhash kernel (tokenize + xxhash64 + bit-vote in one
    mapInArrow) must add NO shuffle — the round-3 plan shuffled the entire
    exploded token-hash stream by doc_id just to regroup rows that were
    never apart. With enough input splits the whole signature sub-plan is
    exchange-free (the only permitted Exchange is the adaptive local
    repartition of raw doc rows when the corpus arrives as 1-2 splits)."""
    from landscape_spark.text.dedup import simhash

    docs = (
        spark.read.parquet(f"{sf_small}/documents.parquet")
        .repartition(16)
        .localCheckpoint(eager=True)
    )
    plan = _plan(simhash(docs))
    assert "Exchange" not in plan, plan


def test_minhash_signature_plan_is_exchange_free(spark, sf_small):
    """Same pin for the MinHash signature kernel (zero-shuffle since r3)."""
    from landscape_spark.text.dedup import minhash_signatures

    docs = (
        spark.read.parquet(f"{sf_small}/documents.parquet")
        .repartition(16)
        .localCheckpoint(eager=True)
    )
    plan = _plan(minhash_signatures(docs))
    assert "Exchange" not in plan, plan


def test_substring_fingerprint_plan_is_exchange_free(spark, sf_small):
    """Same pin for the rolling-hash window fingerprint kernel."""
    from landscape_spark.text.substring import substring_fingerprints

    docs = (
        spark.read.parquet(f"{sf_small}/documents.parquet")
        .repartition(16)
        .localCheckpoint(eager=True)
    )
    plan = _plan(substring_fingerprints(docs, window=50, select_mod=8))
    assert "Exchange" not in plan, plan


def test_sample_predicate_is_pushdown_friendly(spark, sf_small):
    """deterministic_sample must stay a pure predicate over the scan — a
    Filter directly on the file source, no shuffle, no join, no window."""
    from landscape_spark.text.corpus import deterministic_sample

    docs = spark.read.parquet(f"{sf_small}/documents.parquet")
    plan = _plan(deterministic_sample(docs, 0.3).select("doc_id"))
    for bad in ("Exchange", "Join", "Window"):
        assert bad not in plan, plan


def test_pagerank_iteration_has_no_vertex_sized_broadcast(spark, sf_small):
    """The round-2 scale defect: a per-iteration broadcast of an O(n) table.
    The only broadcast inside the rank update must be the 1-row dangling
    aggregate (its plan contains the aggregate, not a vertex-table scan)."""
    from landscape_spark.graph.pagerank import pagerank

    e = linkgraph.directed_edges(spark, sf_small)
    n = linkgraph.num_vertices(spark, sf_small)
    verts = linkgraph.vertices(spark, sf_small)
    # one symbolic iteration: build the new_ranks plan without executing
    ranks = pagerank(e, verts, n, iters=1)
    plan = _plan(ranks)
    # every BroadcastExchange in the final iteration plan must hash-join a
    # 1-row side (the dangling scalar); IdentityBroadcastMode marks the
    # nested-loop variant and must be absent
    assert "IdentityBroadcastMode" not in plan, plan


def test_hits_and_ppr_no_vertex_sized_broadcast(spark, sf_small):
    """HITS and personalized PageRank reuse the pagerank join-path shape:
    the only broadcast per half-step/iteration is the 1-row norm/dangling
    aggregate — never an O(n) identity broadcast. Since r6 the final HITS
    half-steps stay LAZY (their L1-norm folds are visible in the returned
    plan as 1-row nested-loop crossJoins — the tfidf_topk-pinned scalar
    fold pattern), so the pin asserts the nested-loop joins are exactly
    the two norm folds and each builds from a 1-row aggregate, not a
    vertex-table scan."""
    from landscape_spark.graph.hits import hits
    from landscape_spark.graph.pagerank import personalized_pagerank

    e = linkgraph.directed_edges(spark, sf_small)
    n = linkgraph.num_vertices(spark, sf_small)
    verts = linkgraph.vertices(spark, sf_small)
    plan = _plan(hits(e, verts, n, iters=1))
    assert "CartesianProduct" not in plan, plan
    # one lazy norm fold per side (authority + hub) and nothing else
    assert plan.count("BroadcastNestedLoopJoin") <= 2, plan
    # every broadcast side in the plan is an aggregate (the 1-row norm),
    # never a bare vertex-table scan: a BroadcastExchange whose immediate
    # child is a Scan/Range would be the round-2 O(n)-broadcast bug class
    import re

    # children may carry a whole-stage-codegen prefix ("+- *(3) HashAggregate");
    # at least one broadcast must match, so the guard can never pass vacuously
    children = re.findall(r"BroadcastExchange[^\n]*\n\s+\+- (?:\*\(\d+\) )?(\w+)", plan)
    assert children, plan
    for child in children:
        assert child in {"HashAggregate", "SortAggregate"}, plan
    ppr = _plan(personalized_pagerank(e, verts, n, seeds=[0, 1], iters=1))
    assert "IdentityBroadcastMode" not in ppr, ppr
    assert "CartesianProduct" not in ppr, ppr


def test_tfidf_window_is_per_document(spark, sf_small):
    """tfidf_topk's ranking window partitions by doc_id — a global
    single-partition window would funnel the whole corpus through one task."""
    from landscape_spark.text.tfidf import tfidf_topk

    docs = spark.read.parquet(f"{sf_small}/documents.parquet")
    plan = _plan(tfidf_topk(docs, k=5))
    # ranking window hash-partitions on doc_id, and Spark 4's
    # WindowGroupLimit pushes the k-limit below the exchange (partial+final)
    assert "hashpartitioning(doc_id" in plan, plan
    assert "WindowGroupLimit" in plan, plan
    assert "CartesianProduct" not in plan, plan
    # the only nested-loop join is the 1-row corpus-count scalar fold —
    # same pattern as pagerank's dangling aggregate; a vertex/doc-sized
    # identity broadcast would show as a join with a non-aggregate side
    assert plan.count("BroadcastNestedLoopJoin") <= 1, plan


def test_linkpred_topk_plan_shape(spark, sf_small):
    """Adamic-Adar top-k: the wedge self-join must be a hash join on the
    center vertex (never CartesianProduct / nested-loop), and the final
    top-k must compile to TakeOrderedAndProject — a global window here
    would funnel every candidate pair through one task."""
    from landscape_spark.graph.linkpred import adamic_adar_topk

    und = linkgraph.undirected_edges(spark, sf_small)
    plan = _plan(adamic_adar_topk(und, k=20))
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_coreness_round_is_one_join_one_window_exchange(spark, sf_small):
    """One H-operator round = state join on the neighbor key + per-vertex
    window ranking; the following aggregate must ride the window's hash
    partitioning (no third exchange), and the neighbor-value window must
    partition by vertex — a global window would collapse to one task."""
    from landscape_spark.graph.cc import symmetrize
    from landscape_spark.graph.kcore import h_round

    und = linkgraph.undirected_edges(spark, sf_small).localCheckpoint(eager=True)
    verts = linkgraph.vertices(spark, sf_small).localCheckpoint(eager=True)
    sym = symmetrize(und).localCheckpoint(eager=True)
    state = verts.select("v", F.lit(1).cast("long").alias("h")).localCheckpoint(
        eager=True
    )
    plan = _plan(h_round(sym, state, verts))
    assert "hashpartitioning(v" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "IdentityBroadcastMode" not in plan, plan
    # the H-index aggregate reuses the window's hash partitioning: at most
    # one exchange on v (the window's), plus the join-side exchanges on w
    win_and_agg = plan.count("hashpartitioning(v#")
    assert win_and_agg >= 1, plan


def test_bfs_frontier_join_no_full_graph_rescan_per_round(spark, sf_small):
    """BFS rounds join edges to the FRONTIER (checkpointed, frontier-sized)
    and anti-join the checkpointed dist table — the plan for a round must
    reference localCheckpoint scans (ExistingRDD), not re-derive the
    previous rounds' lineage, or round r costs O(r) re-computation."""
    from landscape_spark.graph.traversal import bfs_distances

    e = linkgraph.directed_edges(spark, sf_small)
    out = bfs_distances(e, seeds=[0, 1], max_iter=2)
    plan = _plan(out)
    assert "Scan ExistingRDD" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_anf_round_is_jvm_side_no_cartesian(spark, sf_small):
    """One HyperANF hop: the element-wise register max must compile to m
    plain hash aggregates over the edge join — no CartesianProduct, no
    python UDF (BatchEvalPython), no explode (Generate) of the register
    array."""
    from landscape_spark.graph.anf import _init_registers

    e = linkgraph.directed_edges(spark, sf_small).localCheckpoint(eager=True)
    verts = linkgraph.vertices(spark, sf_small)
    state = _init_registers(verts, log2m=6, seed=42).localCheckpoint(eager=True)
    m = 64
    nbr = (
        e.join(state.withColumnRenamed("v", "dst"), on="dst")
        .groupBy(F.col("src").alias("v"))
        .agg(*[F.max(F.element_at(F.col("regs"), i + 1)).alias(f"_m{i}")
               for i in range(m)])
    )
    plan = _plan(nbr)
    assert "CartesianProduct" not in plan, plan
    assert "BatchEvalPython" not in plan, plan
    assert "Generate" not in plan, plan
    assert "HashAggregate" in plan, plan


def test_katz_iteration_has_no_vertex_sized_broadcast(spark, sf_small):
    """Katz reuses the pagerank join-path discipline: the rank update is a
    hash join + aggregate, never an O(n) identity broadcast inside the
    loop (no broadcast at all is required — there is no dangling scalar)."""
    from landscape_spark.graph.katz import katz_centrality

    e = linkgraph.directed_edges(spark, sf_small)
    verts = linkgraph.vertices(spark, sf_small)
    plan = _plan(katz_centrality(e, verts, iters=1))
    assert "IdentityBroadcastMode" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_motif_and_jaccard_paths_no_cartesian(spark, sf_small):
    """Rectangle counting and Jaccard link prediction ride the wedge
    self-join: must stay hash joins (no cartesian / nested-loop fallback),
    and the Jaccard top-k must compile to TakeOrderedAndProject, not a
    global single-partition window."""
    from landscape_spark.graph.linkpred import jaccard_topk
    from landscape_spark.graph.motifs import rectangle_count

    und = linkgraph.undirected_edges(spark, sf_small)
    for df in (rectangle_count(und), jaccard_topk(und, k=10)):
        plan = _plan(df)
        assert "CartesianProduct" not in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "TakeOrderedAndProject" in _plan(jaccard_topk(und, k=10))


def test_salsa_and_sssp_no_vertex_broadcast_no_cartesian(spark, sf_small):
    """SALSA's walk steps and the SSSP frontier rounds must stay hash
    joins: no O(n) identity broadcast, no cartesian fallback."""
    from landscape_spark.graph.salsa import salsa
    from landscape_spark.graph.traversal import sssp_weighted

    e = linkgraph.directed_edges(spark, sf_small)
    verts = linkgraph.vertices(spark, sf_small)
    plan = _plan(salsa(e, verts, iters=1))
    assert "IdentityBroadcastMode" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    ew = linkgraph.weighted_directed_edges(spark, sf_small)
    plan2 = _plan(sssp_weighted(ew, seeds=[0, 1], max_iter=2))
    assert "CartesianProduct" not in plan2, plan2


def test_ngram_counts_is_jvm_topk(spark, sf_small):
    """Corpus n-gram counting: per-doc arrays stay JVM-side (no Python
    UDF), and the top-k compiles to TakeOrderedAndProject — never a
    global single-partition sort."""
    from landscape_spark.text.tfidf import ngram_counts

    docs = spark.read.parquet(f"{sf_small}/documents.parquet")
    plan = _plan(ngram_counts(docs, n=2, k=10))
    assert "BatchEvalPython" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_anchor_index_window_partitions_by_target(spark):
    """The anchor-text argmax window must partition by the target url —
    a global window would funnel the whole index through one task."""
    from landscape_spark import pages as P

    pg = P.synthesize_pages(spark, 50, seed=42)
    plan = _plan(P.anchor_text_index(P.extract_anchors(pg)))
    assert "hashpartitioning(out_url" in plan, plan
