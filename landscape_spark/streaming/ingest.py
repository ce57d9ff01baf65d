"""Structured-Streaming ingest of edge updates into persistent sketch state.

The reference's stream is a replayable file of INSERT/DELETE updates with
breakpointed in-stream queries: inserter threads rendezvous at a registered
stream index, one runs the query (global CC or point-query bursts), ingest
resumes (/root/reference/experiment/cluster_query_expr.cpp:197-332,
pause/unpause machinery src/work_distributor.cpp:136-191).

In Spark the natural rendition is micro-batching: readStream over the edge
source -> foreachBatch -> per-batch sketch DELTA build -> linear XOR merge
into the persistent sketch table. Linearity makes the merge exact regardless
of how the stream is chopped into batches — the sketch after batch k equals
the sketch of the first k batches' union. INSERT and DELETE are the SAME
operation (XOR toggles presence), exactly the reference's linear-sketch
deletion semantics. A "breakpoint query" is simply a Boruvka run on the
committed state after any micro-batch — the batch boundary IS the pause.

State lives as VERSIONED parquet directories behind an atomically-renamed
CURRENT pointer file, so ingest is resumable and queries read a consistent
snapshot (the analog of the reference's flush barrier before queries,
graph_distrib_update.cpp:122-124). Three failure modes drove the design:

* foreachBatch is AT-LEAST-ONCE: a crash after the state commit but before
  the stream's offset commit re-delivers the same batch, and under XOR
  semantics re-merging an identical delta would DELETE that batch's edges.
  CURRENT therefore records the last applied batch_id; replays of an
  already-applied id are skipped (idempotent commit).
* A delete-then-rename swap has a crash window that loses ALL state. The
  pointer flip (os.replace of CURRENT) is the single atomic commit point:
  a crash before it leaves the previous version intact (the uncommitted
  batch is re-delivered), after it the new version is live.
* An in-stream query scans its version's parquet across multiple Boruvka
  passes; the PREVIOUS version is retained one commit before cleanup so a
  query racing one concurrent commit keeps its snapshot (queries racing
  more than one commit should run between batches — availableNow mode —
  or pin the DataFrame first).
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from landscape_spark.sketch.build import build_group_slices, xor_merge_slices
from landscape_spark.sketch.l0 import SketchParams


class SketchStreamIngestor:
    """Maintains a persistent per-vertex sketch table under micro-batched
    edge updates; supports in-stream CC queries on the committed state."""

    def __init__(
        self,
        spark: SparkSession,
        params: SketchParams,
        state_dir: str,
        num_partitions: int = 32,
        resume: bool = False,
    ) -> None:
        self.spark = spark
        self.params = params
        self.state_dir = state_dir
        self.num_partitions = num_partitions
        self.batches_seen = 0
        # Reusing a state_dir that already holds committed state with a FRESH
        # stream is silent data loss: the new stream's batch ids restart at 0
        # and the idempotency skip (absorb_batch) drops every batch until they
        # surpass the committed batch_id. Resuming the SAME stream is the one
        # legitimate reuse — callers opt in explicitly.
        existing = None
        try:
            with open(os.path.join(state_dir, "CURRENT")) as f:
                existing = json.load(f)
        except (OSError, ValueError):
            pass
        if existing is not None and not resume:
            raise ValueError(
                f"state_dir {state_dir!r} already holds committed sketch state "
                f"(version {existing.get('version')}, batch_id "
                f"{existing.get('batch_id')}). Pass resume=True to continue "
                "that stream, or use a fresh directory — attaching a NEW "
                "stream here would silently skip every batch whose id is <= "
                "the committed batch_id."
            )
        # GreedyCC-style result cache: the CC labels stay valid until the
        # next absorbed batch (the reference's dsu_valid fast path,
        # /root/reference/src/graph_distrib_update.cpp:107-120) — repeated
        # point queries between updates reuse them
        self._cc_cache_version: int | None = None
        self._cc_cache_vmap: DataFrame | None = None
        self.cc_cache_hits = 0
        self.cc_cache_misses = 0
        os.makedirs(state_dir, exist_ok=True)

    @property
    def _pointer(self) -> str:
        return os.path.join(self.state_dir, "CURRENT")

    def _meta(self) -> dict | None:
        """{"version": int, "batch_id": int|None} from CURRENT, or None."""
        try:
            with open(self._pointer) as f:
                return json.load(f)
        except (OSError, ValueError):
            return None

    def _version_dir(self, version: int) -> str:
        return os.path.join(self.state_dir, f"sketches_v{version}")

    @property
    def _cur(self) -> str:
        meta = self._meta()
        return self._version_dir(meta["version"]) if meta else self._version_dir(0)

    def _has_state(self) -> bool:
        meta = self._meta()
        return meta is not None and os.path.exists(
            os.path.join(self._version_dir(meta["version"]), "_SUCCESS")
        )

    def current_sketches(self) -> DataFrame | None:
        if not self._has_state():
            return None
        return self.spark.read.parquet(self._cur)

    def absorb_batch(self, batch_df: DataFrame, batch_id: int | None = None) -> None:
        """foreachBatch sink: XOR-merge this batch's sketch delta into state.
        batch_df: columns (a, b) — canonical or not; both endpoints update.
        State uses the COLUMNAR per-group slice layout (one binary column per
        sketch group), so the parquet state file is column-prunable: each
        in-stream Boruvka pass reads only the groups it consumes.

        IDEMPOTENT per batch_id: at-least-once foreachBatch replay of an
        already-applied id is a no-op (re-merging an identical delta would
        XOR-DELETE the batch's edges). The commit point is the atomic
        CURRENT-pointer rename; a crash before it leaves the previous
        version live and the stream re-delivers the batch."""
        meta = self._meta()
        if (
            batch_id is not None
            and meta is not None
            and meta.get("batch_id") is not None
            and batch_id <= meta["batch_id"]
        ):
            return  # at-least-once replay of a committed batch
        edges = batch_df.select(
            F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
        ).where(F.col("a") != F.col("b"))
        delta = build_group_slices(edges, self.params, self.num_partitions)
        cur = self.current_sketches()
        merged = delta if cur is None else xor_merge_slices(
            cur.unionAll(delta), "vid", self.params, self.num_partitions
        )
        new_version = (meta["version"] + 1) if meta else 0
        new_dir = self._version_dir(new_version)
        merged.write.mode("overwrite").parquet(new_dir)
        # atomic commit: tmp-write + rename of the pointer file
        committed_bid = batch_id if batch_id is not None else (
            meta.get("batch_id") if meta else None
        )
        tmp = self._pointer + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"version": new_version, "batch_id": committed_bid}, f)
        os.replace(tmp, self._pointer)
        # retain the PREVIOUS version (a query racing this commit keeps its
        # snapshot); garbage-collect anything older
        for name in os.listdir(self.state_dir):
            if name.startswith("sketches_v"):
                try:
                    v = int(name[len("sketches_v"):])
                except ValueError:
                    continue
                if v < new_version - 1:
                    shutil.rmtree(os.path.join(self.state_dir, name), ignore_errors=True)
        self.batches_seen += 1
        # appended updates invalidate the cached CC result
        self._cc_cache_version = None
        self._cc_cache_vmap = None

    def start(self, stream_df: DataFrame, trigger_available_now: bool = True):
        """Attach to a streaming DataFrame with columns (a, b). Returns the
        StreamingQuery. Use trigger(availableNow) for replayable file streams
        (the reference's streams are files too, cluster_speed_expr.cpp:46)."""
        writer = stream_df.writeStream.foreachBatch(
            lambda df, bid: self.absorb_batch(df, bid)
        ).option(
            "checkpointLocation", os.path.join(self.state_dir, "_stream_ckpt")
        )
        if trigger_available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def query_components(self, n_vertices: int = 0) -> DataFrame:
        """In-stream CC query on the committed sketch state (v, comp): the
        SAME _cc_rounds machinery as the flagship batch query (column-pruned
        passes straight off the parquet state, no supernode
        rematerialization, driver DSU under threshold / star contraction
        above). With n_vertices > 0 the result covers ALL of 0..n-1
        (never-seen vertices as their own singleton components); with 0 it
        covers edge-incident vertices only. The micro-batch boundary is the
        flush barrier; each query starts at group 0 — the state changed
        since the last query, which is the reference's query-state reset
        (Q5). The raw Boruvka result is cached until the next absorbed batch
        (GreedyCC); the isolated-vertex padding is a cheap per-call join on
        top of the cache."""
        from landscape_spark.sketch.boruvka import _cc_rounds, components_with_isolated

        # the cache holds the RAW edge-incident map (the expensive Boruvka
        # result); isolated-vertex padding is a cheap join applied per call,
        # so q(0) and q(n) share one cache entry
        if self._cc_cache_version == self.batches_seen and self._cc_cache_vmap is not None:
            self.cc_cache_hits += 1
            vmap = self._cc_cache_vmap
        else:
            self.cc_cache_misses += 1
            slices = self.current_sketches()
            if slices is None:
                vmap = self.spark.createDataFrame([], "v long, comp long")
            else:
                # the pass loop builds the identity map and returns a
                # checkpoint: nothing here needs re-materializing
                vmap = _cc_rounds(
                    self.spark,
                    slices,
                    None,
                    self.params,
                    start_group=0,
                    num_partitions=self.num_partitions,
                )
            self._cc_cache_version = self.batches_seen
            self._cc_cache_vmap = vmap
        if n_vertices > 0:
            verts = self.spark.range(n_vertices).select(F.col("id").alias("v"))
            vmap = components_with_isolated(self.spark, vmap, verts)
        return vmap

    def burst_point_queries(self, pairs: DataFrame) -> DataFrame:
        """A burst of point-to-point queries on the committed state — the
        reference fires 100-query bursts at registered breakpoints
        (/root/reference/experiment/cluster_query_expr.cpp:197-332). The
        first query of a burst pays the Boruvka run; the rest hit the cache
        (its dsu_valid / GreedyCC behavior)."""
        from landscape_spark.sketch.boruvka import batched_reachability

        cc = self.query_components(0)
        return batched_reachability(cc, pairs)


def replay_with_breakpoints(
    spark: SparkSession,
    updates: DataFrame,
    breakpoints: list[int],
    ingestor: SketchStreamIngestor,
    burst_pairs: DataFrame | None = None,
) -> list[dict]:
    """Replay a static (upd_idx, a, b) update table as a breakpointed stream:
    ingest each inter-breakpoint chunk as one micro-batch, then run an
    in-stream query burst at the breakpoint — reporting the reference's
    latency split: flush (committing in-flight updates into sketch state,
    its gutter force_flush + pause barrier) vs algorithm (Boruvka + burst
    lookups on committed state), cluster_query_expr.cpp:286-294.

    Returns one dict per breakpoint: {breakpoint, flush_sec, alg_sec,
    n_components, burst_connected} (burst fields when burst_pairs given).
    """
    import time

    out: list[dict] = []
    prev = 0
    for q in breakpoints:
        chunk = updates.where(
            (F.col("upd_idx") >= prev) & (F.col("upd_idx") < q)
        ).select("a", "b")
        t0 = time.time()
        ingestor.absorb_batch(chunk)
        flush_sec = time.time() - t0
        t0 = time.time()
        cc = ingestor.query_components(0)
        n_comp = cc.select("comp").distinct().count()
        rec = {
            "breakpoint": q,
            "flush_sec": round(flush_sec, 3),
            "n_components": n_comp,
        }
        if burst_pairs is not None:
            res = ingestor.burst_point_queries(burst_pairs)
            rec["burst_connected"] = res.where(F.col("connected")).count()
        rec["alg_sec"] = round(time.time() - t0, 3)
        out.append(rec)
        prev = q
    return out
