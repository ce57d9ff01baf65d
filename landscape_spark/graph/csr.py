"""CSR PageRank: one block packer and one numpy SpMV, two engines.

A CSR block (the analog of the reference's per-vertex batches,
include/worker_cluster.h:8) is flat indptr/indices arrays in binary
cells. ``pack_block`` makes local-index CSR plus each source's
FULL out-degree ``degs``; ``spmv`` is
``bincount(indices, repeat(r[vids] / degs, diff(indptr)))``. The packing
stage (``_pack``) gets each source's whole row in one task, so full
out-degrees are local counts; it also lists each shard's sources (the rest
of the shard is dangling). Both engines drive ``_pack`` and ``spmv``:

* ``pagerank_csr`` (dense-vector regime, n up to ~1e8) is the one-shard
  case: blocks partitioned by src are packed and broadcast once; each
  iteration is one Python job whose partial vectors the driver sums.
* ``pagerank_csr_blocked`` (rank vector sharded like the matrix) packs S x S
  blocks (i = source shard, j = destination shard) in one Python stage
  partitioned by i. Each iteration is TWO Python stages in one pipeline:
  cached blocks join rank shards -> SpMV partials -> shuffle on j -> fold +
  damping + dangling -> checkpoint. Each update task emits its shard's
  dangling mass; the driver reads the S values off the checkpoint action
  (``observe``) and sums them in shard order, so no value depends on task
  order. Init and emit run in the JVM (rank shards are ``array<double>``).

The join-based landscape_spark.graph.pagerank is the arbitrary-scale
reference; all three are tested equal.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from landscape_spark.rounds import Rounds

# rows with j = NULL list one shard's sources in ``vids`` (no CSR arrays)
BLOCKED_CSR_SCHEMA = "i int, j int, vids binary, indptr binary, indices binary, degs binary"
_CSR = ("vids", "indptr", "indices", "degs")


def pack_block(src: np.ndarray, dst: np.ndarray, deg: np.ndarray):
    """One block's (local) edges -> (vids, indptr, indices, degs), rows
    sorted by (src, dst) so every float sum over them has a fixed order;
    ``deg`` is each edge's source full out-degree."""
    order = np.lexsort((dst, src))
    src, dst = src[order], dst[order]
    vids, first, counts = np.unique(src, return_index=True, return_counts=True)
    indptr = np.zeros(len(vids) + 1, dtype=np.int64)
    np.cumsum(counts, out=indptr[1:])
    return vids, indptr, dst, deg[order][first].astype(np.float64)


def spmv(r, vids, indptr, indices, degs, size: int) -> np.ndarray:
    """One block's partial: each source's rank split over its full
    out-degree, scattered onto the block's local destination slots."""
    w = np.repeat(r[vids] / degs, np.diff(indptr))
    return np.bincount(indices, weights=w, minlength=size)


def _pack(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """mapInArrow packer over local (i, j, src, dst) edges whose sources'
    whole rows are in this task: one CSR row per (i, j) plus one
    source-list row (j = NULL) per source shard i."""
    nonempty = [b for b in batches if b.num_rows]
    if not nonempty:
        return
    t = pa.Table.from_batches(nonempty)
    ii, jj, src, dst = (t.column(c).to_numpy().astype(np.int64) for c in ("i", "j", "src", "dst"))
    order = np.lexsort((jj, ii))
    ii, jj, src, dst = ii[order], jj[order], src[order], dst[order]
    # whole rows are here, so a (shard, source)'s count is its out-degree
    srcs, inv, deg = np.unique(
        np.column_stack((ii, src)), axis=0, return_inverse=True, return_counts=True
    )
    deg = deg[inv.ravel()]
    out: dict[str, list] = {c: [] for c in ("i", "j", *_CSR)}
    starts = np.flatnonzero(np.r_[True, (ii[1:] != ii[:-1]) | (jj[1:] != jj[:-1])])
    for s, e in zip(starts, np.r_[starts[1:], len(ii)]):
        block = pack_block(src[s:e], dst[s:e], deg[s:e])
        for name, v in zip(out, (ii[s], jj[s], *(a.tobytes() for a in block))):
            out[name].append(v)
    for i in np.unique(srcs[:, 0]):
        for name, v in zip(out, (i, None, srcs[srcs[:, 0] == i, 1].tobytes(), None, None, None)):
            out[name].append(v)
    yield pa.RecordBatch.from_pydict(
        {c: pa.array(v, pa.int32() if c in ("i", "j") else pa.binary()) for c, v in out.items()}
    )


def _arr(cell, dtype=np.int64) -> np.ndarray:
    """Zero-copy numpy view of one binary or list cell."""
    if isinstance(cell, pa.ListScalar):
        return cell.values.to_numpy()
    return np.frombuffer(cell.as_buffer(), dtype=dtype)


def build_csr_blocks(edges: DataFrame, num_partitions: int = 32) -> DataFrame:
    """Directed (src, dst) -> one whole-row CSR block per partition
    (part, vids, indptr, indices), global vertex ids: the one-shard case of
    the packer. Binary cells, never array<long>: a list cell read on the RDD
    path materializes millions of boxed Python ints (~10x slower)."""
    # repartition on the RAW src column: repartitioning on pmod(src, P)
    # hash-partitions the pmod VALUE, leaving ~37% of partitions empty with
    # ~3x row skew (recorded pitfall)
    part = edges.repartition(num_partitions, F.col("src")).select(
        F.spark_partition_id().alias("i"), F.lit(0).alias("j"), "src", "dst"
    )
    return (
        part.mapInArrow(_pack, BLOCKED_CSR_SCHEMA)
        .where(F.col("j").isNotNull())
        .select(F.col("i").alias("part"), "vids", "indptr", "indices")
    )


def build_csr_index(
    spark: SparkSession,
    edges: DataFrame,
    n_vertices: int,
    num_partitions: int = 32,
    dense_threshold: int = 100_000_000,
):
    """Build the reusable dense-regime CSR index: (broadcast handle, blocks,
    out_deg). Pass to pagerank_csr(..., index=...) so repeated runs on a
    static graph pay the shuffle + pack + broadcast ONCE — the reference
    likewise INITs workers with static graph state once
    (src/worker_cluster.cpp:39-47). Call .destroy() on the returned
    broadcast when done."""
    n = n_vertices
    if n > dense_threshold:
        raise ValueError("the CSR index is the dense-vector-regime path; above "
                         "dense_threshold use landscape_spark.graph.pagerank")
    # guard the edge count via an agg over the <= P packed rows (cached so
    # the guard and the collect share one shuffle+pack execution)
    csr = build_csr_blocks(edges, num_partitions).persist()
    try:
        m = (csr.agg(F.sum(F.octet_length("indices"))).first()[0] or 0) // 8
        if m > dense_threshold:
            raise ValueError(f"{m} edges > dense_threshold={dense_threshold}; use "
                             "landscape_spark.graph.pagerank, the fully-distributed join path")
        rows = csr.collect()
    finally:
        csr.unpersist()
    blocks = [
        tuple(np.frombuffer(c, dtype=np.int64) for c in (r.vids, r.indptr, r.indices))
        for r in rows
    ]
    out_deg = np.zeros(n, dtype=np.int64)
    for vids, indptr, _ in blocks:
        out_deg[vids] = np.diff(indptr)
    return spark.sparkContext.broadcast(blocks), blocks, out_deg


def pagerank_csr(
    spark: SparkSession,
    edges: DataFrame,
    n_vertices: int,
    iters: int = 20,
    damping: float = 0.85,
    num_partitions: int = 32,
    tree_depth: int = 2,
    dense_threshold: int = 100_000_000,
    index=None,
) -> DataFrame:
    """PageRank over whole-row CSR blocks with a driver-resident rank
    vector. Returns (v, pr_score) for ALL n vertices.

    The packed blocks ship ONCE as a torrent broadcast; a per-iteration task
    moves only the fresh rank broadcast in and one partial vector out (a
    cached python-RDD partition would re-stream its pickled bytes on EVERY
    task: ~1 s/iter at 4M edges, 10x the SpMV). Partials merge through
    treeReduce above 64 task slices, else a collect + sum in partition order.
    ``index=build_csr_index(...)`` reuses the one-time shuffle + pack +
    broadcast across runs on a static graph; without it the index is built
    and destroyed internally."""
    n = n_vertices
    sc = spark.sparkContext
    owns_index = index is None
    if owns_index:
        index = build_csr_index(spark, edges, n, num_partitions, dense_threshold)
    csr_b, blocks, out_deg = index
    dangling_mask = out_deg == 0
    # GROUP blocks into ~2 waves of tasks over the available parallelism:
    # one task per block paid a python-worker roundtrip per block per
    # iteration, which dominated the SpMV itself
    master = sc.master or ""
    if master.startswith("local[") and master[6:-1].isdigit():
        par = int(master[6:-1])
    else:
        par = sc.defaultParallelism
    n_slices = max(1, min(len(blocks), 2 * par))
    ids = sc.parallelize(range(len(blocks)), n_slices)
    ranks = np.full(n, 1.0 / n)
    for _ in range(iters):
        rb = sc.broadcast(ranks)

        def spmv_fold(pids, _rb=rb, _csr=csr_b, _n=n):
            acc = None
            for pid in pids:
                vids, indptr, indices = _csr.value[pid]
                c = spmv(_rb.value, vids, indptr, indices, np.diff(indptr), _n)
                acc = c if acc is None else acc + c
            return iter(()) if acc is None else iter([acc])

        partials = ids.mapPartitions(spmv_fold)
        if n_slices > 64:
            contrib = partials.treeReduce(lambda a, b: a + b, depth=tree_depth)
        else:
            parts = partials.collect()
            contrib = np.sum(parts, axis=0) if parts else np.zeros(n)
        dangling = ranks[dangling_mask].sum()
        ranks = (1.0 - damping) / n + damping * (contrib + dangling / n)
        rb.destroy()
    if owns_index:
        csr_b.destroy()  # caller-provided indexes outlive the call
    # emit DISTRIBUTED: broadcast the final dense vector and index it from a
    # spark.range scan — no n-row Python list on the driver
    final_b = sc.broadcast(ranks)

    def emit(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            ids = b.column("id").to_numpy(zero_copy_only=False)
            yield pa.RecordBatch.from_pydict({"v": ids, "pr_score": final_b.value[ids]})

    return spark.range(n).repartition(num_partitions).mapInArrow(emit, "v long, pr_score double")


def build_blocked_csr(
    edges: DataFrame, n_vertices: int, shards: int, num_partitions: int = 32
) -> tuple[DataFrame, DataFrame]:
    """2-D partitioned CSR, lazily: vertex space cut into ``shards``
    contiguous ranges of width ceil(n/S). Returns (blocks, start):

    * blocks (BLOCKED_CSR_SCHEMA): block (i, j) holds the edges
      src-shard-i -> dst-shard-j as local-index CSR with full out-degrees,
      plus one source-list row per source shard — one Python pack over one
      shuffle by i;
    * start (i, r array<double>): the uniform start ranks, EVERY shard."""
    S, n = int(shards), int(n_vertices)
    width = -(-n // S)  # ceil
    local = edges.select(
        F.expr(f"int(src div {width})").alias("i"),
        F.expr(f"int(dst div {width})").alias("j"),
        (F.col("src") % width).alias("src"),
        (F.col("dst") % width).alias("dst"),
    )
    blocks = local.repartition(min(num_partitions, S), "i").mapInArrow(_pack, BLOCKED_CSR_SCHEMA)
    size = F.greatest(F.lit(0), F.least(F.lit(width), F.lit(n) - F.col("id") * width))
    start = edges.sparkSession.range(S).select(
        F.col("id").cast("int").alias("i"),
        F.array_repeat(F.lit(1.0 / n), size.cast("int")).alias("r"),
    )
    return blocks, start


def pagerank_csr_blocked(
    spark: SparkSession,
    edges: DataFrame,
    n_vertices: int,
    iters: int = 20,
    damping: float = 0.85,
    shards: int = 32,
    num_partitions: int = 32,
    blocks: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """PageRank with the rank vector SHARDED like the matrix — the
    fully-distributed CSR path for n beyond the dense-vector regime.

    Per iteration: rank shards (i, r) join the cached blocks on i (only
    the S rank rows shuffle); each task SpMVs its blocks, folded per
    destination shard in source-shard order into (j, k = first source
    shard, p); partials shuffle on j with the shard's source lists; the
    update folds them in k order, applies damping and the dangling mass and
    emits (i, r, d), d being the new shard's dangling mass; the new state
    is one landscape_spark.rounds checkpoint, releasing the one it replaces.

    ``blocks`` takes a build_blocked_csr result so static-graph reruns skip
    the pack; the caller keeps ownership (nothing it passed is
    unpersisted). Semantics are those of landscape_spark.graph.pagerank, to
    float-sum reordering (~1e-13, tested)."""
    S, n = int(shards), int(n_vertices)
    width = -(-n // S)
    p = min(num_partitions, S)
    blk, start = blocks if blocks is not None else build_blocked_csr(edges, n, S, num_partitions)

    def size_of(shard: int) -> int:
        return max(0, min(width, n - shard * width))

    def spmv_fold(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        nonempty = [b for b in batches if b.num_rows]
        if not nonempty:
            return
        t = pa.Table.from_batches(nonempty)
        c = {name: t.column(name) for name in t.column_names}
        keys = list(zip(c["j"].to_pylist(), c["i"].to_pylist(), range(t.num_rows)))
        # (j, k, p, srcs) out; a shard's source list, or its bare start-row
        # marker (both j = NULL here), passes through to the shard's update
        out = [(i, None, None, c["vids"][row].as_py()) for j, i, row in keys if j is None]
        acc: dict[int, tuple[int, np.ndarray]] = {}
        for j, i, row in sorted(k for k in keys if k[0] is not None):
            csr = [_arr(c[name][row]) for name in _CSR[:3]]
            part = spmv(_arr(c["r"][row]), *csr, _arr(c["degs"][row], np.float64), size_of(j))
            first, cur = acc.get(j, (i, None))
            acc[j] = (first, part if cur is None else cur + part)
        js, ks, ps, srcs = zip(*out, *((j, k, q, None) for j, (k, q) in acc.items()))
        yield pa.RecordBatch.from_pydict({
            "j": pa.array(js, pa.int32()),
            "k": pa.array(ks, pa.int32()),
            "p": pa.array(ps, pa.list_(pa.float64())),
            "srcs": pa.array(srcs, pa.binary()),
        })

    def update(batches: Iterator[pa.RecordBatch], dang: float) -> Iterator[pa.RecordBatch]:
        parts: dict[int, list] = {}
        has_src: dict[int, np.ndarray] = {}
        for b in batches:
            c = {name: b.column(name) for name in b.schema.names}
            for row, j in enumerate(c["j"].to_pylist()):
                if j not in has_src:
                    has_src[j] = np.zeros(size_of(j), dtype=bool)
                if c["p"][row].is_valid:
                    parts.setdefault(j, []).append((c["k"][row].as_py(), _arr(c["p"][row])))
                elif c["srcs"][row].is_valid:
                    has_src[j][_arr(c["srcs"][row])] = True
        js, rs = sorted(has_src), []
        for j in js:
            acc = np.zeros(size_of(j))
            for _, q in sorted(parts.get(j, []), key=lambda kq: kq[0]):
                acc += q
            rs.append((1.0 - damping) / n + damping * (acc + dang / n))
        yield pa.RecordBatch.from_pydict({
            "i": pa.array(js, pa.int32()),
            "r": pa.array(rs, pa.list_(pa.float64())),
            "d": [float(r[~has_src[j]].sum()) for j, r in zip(js, rs)],
        })

    with Rounds() as r:
        # ONE action caches the static side partitioned on the source shard
        # (a checkpoint forgets that under AQE) with the start ranks, so the
        # first join shuffles nothing and every shard gets an update row;
        # the integer source count for the first dangling mass rides along
        # (a noop write: no count exchange).
        static = r.cache(blk.unionByName(start, allowMissingColumns=True).repartition(p, "i"))
        m = r.materialize(
            static, b=F.sum(F.when(F.col("j").isNull(), F.octet_length("vids")))
        )
        dang = (n - (m["b"] or 0) // 8) / n
        cached = static.drop("r")
        ranks = static.where(F.col("r").isNotNull())
        held = None  # the rank checkpoint this call owns
        for _ in range(iters):
            # hash the S rank rows, stream the cached blocks: never
            # broadcast-collect the packed graph
            partials = cached.join(ranks.select("i", "r").hint("shuffle_hash"), "i").mapInArrow(
                spmv_fold, "j int, k int, p array<double>, srcs binary"
            )
            held, m = r.observe(
                partials.repartition(p, "j").mapInArrow(
                    lambda it, d=dang: update(it, d), "i int, r array<double>, d double"
                ),
                replaces=held,
                d=F.collect_list(F.struct("i", "d")),
            )
            ranks = held
            dang = sum(d for _, d in sorted(m["d"]))  # shard order

        # iters=0 reads the JVM start ranks, never the released static side
        return r.result(
            (held if held is not None else start).select("i", F.posexplode("r")).select(
                (F.col("i").cast("long") * width + F.col("pos")).alias("v"),
                F.col("col").alias("pr_score"),
            )
        )
