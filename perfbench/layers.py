"""Per-layer metrics of the traced run: spans + event-log ledger + op counts.

Times and counts are means per call of the named spans (so they do not
depend on how many ops fit in a run); a layer the workload does not call
reports 0. Which end-to-end metric each one should move, on which workload,
is listed in perfbench/README.md.
"""

from __future__ import annotations

from perfbench.eventlog import GroupLedger, task_skew
from perfbench.trace import Tracer

GRAPH_OPS = ["cc", "csr", "csr_blocked", "traversal"]
UPDATE_BYTES = 17  # one stream update on the wire, as the reference's parser.py counts it

S, N, B, R, RATE = "s", "count", "B", "ratio", "1/s"
PER_LAYER: list[tuple[str, str, str]] = [
    ("sketch.l0.kernel_updates_per_s", RATE, "higher"),
    ("sketch.l0.hash_s", S, "lower"),
    ("sketch.l0.level_s", S, "lower"),
    ("sketch.l0.checksum_s", S, "lower"),
    ("sketch.l0.scatter_s", S, "lower"),
    ("sketch.l0.bucket_xors", N, "lower"),
    ("sketch.l0.state_bytes", B, "lower"),
    ("sketch.l0.sample_s", S, "lower"),
    ("sketch.build.call_s", S, "lower"),
    ("sketch.build.jobs", N, "lower"),
    ("sketch.build.tasks", N, "lower"),
    ("sketch.build.executor_run_s", S, "lower"),
    ("sketch.build.executor_cpu_s", S, "lower"),
    ("sketch.build.gc_s", S, "lower"),
    ("sketch.build.driver_gap_s", S, "lower"),
    ("sketch.build.shuffle_write_bytes", B, "lower"),
    ("sketch.build.spill_bytes", B, "lower"),
    ("sketch.build.python_bytes_sent", B, "lower"),
    ("sketch.build.python_bytes_received", B, "lower"),
    ("sketch.build.comm_factor", R, "lower"),
    ("sketch.build.kernel_efficiency", R, "higher"),
    ("sketch.build.task_skew", R, "lower"),
    ("sketch.boruvka.cc_call_s", S, "lower"),
    ("sketch.boruvka.passes", N, "lower"),
    ("sketch.boruvka.groups_used", N, "lower"),
    ("sketch.boruvka.samples", N, "lower"),
    ("sketch.boruvka.merges", N, "higher"),
    ("sketch.boruvka.merge_yield", R, "higher"),
    ("sketch.boruvka.jobs", N, "lower"),
    ("sketch.boruvka.reachability_call_s", S, "lower"),
    ("sketch.boruvka.budget_exhausted", N, "lower"),
    ("streaming.ingest.absorb_jobs", N, "lower"),
    ("streaming.ingest.absorb_executor_run_s", S, "lower"),
    ("streaming.ingest.absorb_driver_gap_s", S, "lower"),
    ("streaming.ingest.absorb_shuffle_write_bytes", B, "lower"),
    ("streaming.ingest.absorb_task_skew", R, "lower"),
    ("streaming.ingest.state_bytes", B, "lower"),
    ("streaming.ingest.query_jobs", N, "lower"),
    ("streaming.ingest.query_input_bytes", B, "lower"),
    ("streaming.ingest.cc_cache_hit_ratio", R, "higher"),
]
for _op in GRAPH_OPS:
    PER_LAYER += [
        (f"graph.{_op}.call_s", S, "lower"),
        (f"graph.{_op}.jobs", N, "lower"),
        (f"graph.{_op}.driver_gap_s", S, "lower"),
        (f"graph.{_op}.shuffle_bytes", B, "lower"),
    ]
PER_LAYER += [
    ("graph.rdds_cached_after", N, "lower"),
    ("graph.tail_drag_ratio", R, "lower"),
    ("graph.suite_gap_s", S, "lower"),
    ("spark.jobs", N, "lower"),
    ("spark.stages", N, "lower"),
    ("spark.tasks", N, "lower"),
    ("spark.executor_run_s", S, "lower"),
    ("spark.gc_s", S, "lower"),
    ("spark.shuffle_write_bytes", B, "lower"),
    ("spark.driver_gap_s", S, "lower"),
    ("spark.trace_overhead", R, "lower"),
]
UNITS = {name: unit for name, unit, _ in PER_LAYER}


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


class _Calls:
    """The spans of one name (prefix) with their inclusive ledgers."""

    def __init__(self, tracer: Tracer, ledgers: dict[str, GroupLedger], prefix: str, cores: int):
        self.spans = tracer.named(prefix)
        self.cores = cores
        self.ledgers = []
        for s in self.spans:
            agg = GroupLedger()
            for sid in tracer.descendants(s.id):
                if str(sid) in ledgers:
                    agg.add(ledgers[str(sid)])
            self.ledgers.append(agg)

    def call_s(self) -> float:
        return _mean(s.duration for s in self.spans)

    def mean(self, attr: str) -> float:
        return _mean(getattr(g, attr) if attr != "stages" else len(g.stages) for g in self.ledgers)

    def driver_gap_s(self) -> float:
        return _mean(
            s.duration - g.executor_run_s / self.cores for s, g in zip(self.spans, self.ledgers)
        )

    def skew(self) -> float:
        """Mean over calls of the task skew of each call's longest stage."""
        return _mean(task_skew(g.task_run_s) for g in self.ledgers if g.task_run_s)


def compute(tracer, ledgers, ops, micro, cores, trace_overhead) -> dict[str, float]:
    """All PER_LAYER metrics. ``ops`` are the workload's op records, ``micro``
    the sketch.l0 microbench result."""
    m: dict[str, float] = {f"sketch.l0.{k}": float(v) for k, v in micro.items()}
    calls = lambda prefix: _Calls(tracer, ledgers, prefix, cores)  # noqa: E731

    build = calls("sketch.build.")
    updates = _mean(o["updates"] for o in ops)
    m["sketch.build.call_s"] = build.call_s()
    for attr in ("jobs", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
                 "shuffle_write_bytes", "spill_bytes", "python_bytes_sent", "python_bytes_received"):
        m[f"sketch.build.{attr}"] = build.mean(attr)
    m["sketch.build.driver_gap_s"] = build.driver_gap_s()
    m["sketch.build.task_skew"] = build.skew()
    built = bool(build.spans)
    m["sketch.build.comm_factor"] = (
        build.mean("shuffle_write_bytes") / (UPDATE_BYTES * updates) if built else 0.0
    )
    m["sketch.build.kernel_efficiency"] = (
        updates / build.call_s() / (cores * micro["kernel_updates_per_s"]) if built else 0.0
    )

    cc = [calls(p) for p in ("sketch.boruvka.cc_rounds", "streaming.ingest.query_components")]
    cc_spans = [s for c in cc for s in c.spans]
    m["sketch.boruvka.cc_call_s"] = _mean(s.duration for s in cc_spans)
    m["sketch.boruvka.jobs"] = _mean(g.jobs for c in cc for g in c.ledgers)
    for key in ("passes", "groups_used", "samples", "merges"):
        m[f"sketch.boruvka.{key}"] = _mean(o.get(key, 0) for o in ops)
    m["sketch.boruvka.merge_yield"] = (
        m["sketch.boruvka.merges"] / m["sketch.boruvka.samples"] if m["sketch.boruvka.samples"] else 0.0
    )
    m["sketch.boruvka.reachability_call_s"] = calls("streaming.ingest.burst_point_queries").call_s()
    m["sketch.boruvka.budget_exhausted"] = float(sum(o.get("budget_exhausted", 0) for o in ops))

    absorb = calls("streaming.ingest.absorb_batch")
    m["streaming.ingest.absorb_jobs"] = absorb.mean("jobs")
    m["streaming.ingest.absorb_executor_run_s"] = absorb.mean("executor_run_s")
    m["streaming.ingest.absorb_driver_gap_s"] = absorb.driver_gap_s()
    m["streaming.ingest.absorb_shuffle_write_bytes"] = absorb.mean("shuffle_write_bytes")
    m["streaming.ingest.absorb_task_skew"] = absorb.skew()
    m["streaming.ingest.state_bytes"] = _mean(o.get("state_bytes", 0) for o in ops)
    query = calls("streaming.ingest.query_components")
    m["streaming.ingest.query_jobs"] = query.mean("jobs")
    m["streaming.ingest.query_input_bytes"] = query.mean("input_bytes")
    m["streaming.ingest.cc_cache_hit_ratio"] = _mean(o.get("cache_hit_ratio", 0) for o in ops)

    for op in GRAPH_OPS:
        c = calls(f"graph.{op}.")
        m[f"graph.{op}.call_s"] = c.call_s()
        m[f"graph.{op}.jobs"] = c.mean("jobs")
        m[f"graph.{op}.driver_gap_s"] = c.driver_gap_s()
        m[f"graph.{op}.shuffle_bytes"] = c.mean("shuffle_write_bytes")
    suite_ops = [o for o in ops if "calls" in o]
    m["graph.rdds_cached_after"] = _mean(o["rdds_cached_after"] for o in suite_ops)
    m["graph.tail_drag_ratio"] = _mean(
        o["calls"]["probe_last"] / o["calls"]["probe_first"] for o in suite_ops
    )
    m["graph.suite_gap_s"] = _mean(o["suite_s"] - sum(o["calls"].values()) for o in suite_ops)

    whole = calls("op.")
    for attr in ("jobs", "stages", "tasks", "executor_run_s", "gc_s", "shuffle_write_bytes"):
        m[f"spark.{attr}"] = whole.mean(attr)
    m["spark.driver_gap_s"] = whole.driver_gap_s()
    m["spark.trace_overhead"] = trace_overhead
    assert set(m) == set(UNITS), set(m) ^ set(UNITS)
    return m
