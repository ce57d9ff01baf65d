#!/usr/bin/env python3
"""landscape-spark benchmark: one workload, one run, one JSON line.

    python3 perfbench/run.py --workload ingest_simple --seed 1 --seconds 5 --trace 0

Run from the repository root. It pins its own Spark environment (local[4],
4 shuffle partitions, a 3g driver, spark.local.dir and temp files under
``.perfbench_work/``, the repository on the Python workers' PYTHONPATH, UI
off), sets the workload up SETUP_REPS times (inputs from ``--seed``,
materialized, with their oracle), warms it up, then runs its closed loop of
ops for ``--seconds`` of op time, checking every op's output against the
oracle. The lines before the last print the environment and every metric by
name, unit and sample count; the last line is the JSON result. With
``--trace 1`` the run also writes Spark's event log and the spans
(``.perfbench_work/<workload>/spans.jsonl``) and reports the per-layer
metrics of ``perfbench/layers.py`` instead of the end-to-end ones.
perfbench/README.md says why the gated times are CPU seconds.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4
SHUFFLE_PARTITIONS = 4
DRIVER_MEM = "3g"
SETUP_REPS = 3

END_TO_END = [
    ("setup_s", "s"), ("write_cpu_s.p50", "s"), ("read_cpu_s.p50", "s"), ("peak_rss_mib", "MiB"),
]


def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


def pin_environment(work: str) -> dict[str, str]:
    """Everything the session and its Python workers depend on, fixed here
    rather than inherited from the caller's shell."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_NO_SHM": "1",  # shuffle goes to spark.local.dir below, never /dev/shm
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
    }
    os.environ.update(env)
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    return env


def start_spark(work: str, traced: bool):
    from landscape_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "true" if traced else "false",
    }
    if traced:
        ev = os.path.join(work, "eventlog")
        shutil.rmtree(ev, ignore_errors=True)
        os.makedirs(ev)
        conf.update({
            "spark.eventLog.dir": "file://" + ev,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(
        app_name="perfbench", master=f"local[{CORES}]",
        shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and every process under this one, and
    wait for each to end."""
    from pyspark import SparkContext

    from perfbench.trace import descendants

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.terminate()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 20
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while descendants(os.getpid()) and time.time() < deadline + 10:
        time.sleep(0.2)


def measure(spark, workload, seconds: float, tracer) -> dict:
    """Set up SETUP_REPS times, warm up, then the closed loop."""
    from landscape_spark.metrics import PeakRssSampler

    from perfbench.trace import tree_cpu_s

    setups, setup_walls = [], []
    for _ in range(SETUP_REPS):
        t0, c0 = time.perf_counter(), tree_cpu_s()
        inp = workload.setup(spark)
        setups.append(tree_cpu_s() - c0)
        setup_walls.append(time.perf_counter() - t0)
    log("[perfbench] setups (cpu s) " + " ".join(f"{s:.2f}" for s in setups)
        + "  (wall s) " + " ".join(f"{s:.2f}" for s in setup_walls))
    t0 = time.perf_counter()
    workload.warmup(spark, inp)
    warmup_s = time.perf_counter() - t0
    ops, op_time, k = [], 0.0, 0
    with PeakRssSampler(interval=0.2) as rss:
        while k == 0 or op_time < seconds:
            t0 = time.perf_counter()
            try:
                rec = workload.op(spark, inp, k, tracer)
            except Exception:  # an op that raises counts as failed; the loop goes on
                log(traceback.format_exc())
                rec = {"errors": ["exception: " + traceback.format_exc().strip().splitlines()[-1]]}
            op_time += time.perf_counter() - t0
            ops.append(rec)
            log(f"[perfbench] op {k}: " + " ".join(
                f"{key}={val:.4g}" for key, val in rec.items() if isinstance(val, (int, float))))
            for e in rec["errors"]:
                log(f"[perfbench] op {k} FAILED: {e}")
            k += 1
    return {"setups": setups, "warmup_s": warmup_s, "ops": ops, "peak_rss_mib": rss.peak_mib}


def run_once(work: str, workload, seconds: float, traced: bool):
    """One Spark session: start, measure, stop. Returns (result, tracer)."""
    from perfbench.trace import Tracer

    spark = start_spark(work, traced)
    try:
        tracer = Tracer(spark.sparkContext if traced else None)
        return measure(spark, workload, seconds, tracer), tracer
    finally:
        stop_spark(spark)


def end_to_end(res: dict) -> dict[str, float]:
    good = [o for o in res["ops"] if "write_s" in o]
    return {
        "setup_s": statistics.median(res["setups"]),
        "write_cpu_s.p50": statistics.median(o["write_cpu_s"] for o in good),
        "read_cpu_s.p50": statistics.median(o["read_cpu_s"] for o in good),
        "peak_rss_mib": res["peak_rss_mib"],
    }


def report(workload_name: str, env: dict, res: dict, e2e: dict, traced: bool) -> None:
    """Human-readable lines: environment, then every metric with its sample
    count (the workload-specific names map onto write/read as listed)."""
    ops = [o for o in res["ops"] if "write_s" in o]
    n_ops, n_failed = len(res["ops"]), sum(1 for o in res["ops"] if o["errors"])
    print(f"[perfbench] env master=local[{CORES}] shuffle_partitions={SHUFFLE_PARTITIONS} "
          f"driver_memory={DRIVER_MEM} local_dir={env['SPARK_LOCAL_DIRS']} ui=off "
          f"eventlog={'on' if traced else 'off'} pythonpath={env['PYTHONPATH']}")
    print(f"[perfbench] workload={workload_name} closed loop, 1 client, ops={n_ops}")

    def row(name, value, unit, n):
        print(f"  {name:28s} {value:14.6g} {unit:6s} n={n}")

    def dist(name, xs, unit):
        xs = sorted(xs)
        if xs:
            row(name + ".p50", statistics.median(xs), unit, len(xs))
            row(name + ".max", xs[-1], unit, len(xs))

    row("setup_s", e2e["setup_s"], "s", len(res["setups"]))
    row("warmup_s", res["warmup_s"], "s", 1)
    dist("write_s", [o["write_s"] for o in ops], "s")
    dist("read_s", [o["read_s"] for o in ops], "s")
    dist("write_cpu_s", [o["write_cpu_s"] for o in ops], "s")
    dist("read_cpu_s", [o["read_cpu_s"] for o in ops], "s")
    if workload_name == "ingest_simple":
        dist("ingest_updates_per_s", [o["updates"] / o["write_s"] for o in ops], "1/s")
        dist("cc_query_s", [o["cc_query_s"] for o in ops], "s")
    else:
        dist("suite_s", [o["suite_s"] for o in ops], "s")
        dist("flush_s", [o["write_s"] for o in ops], "s")
        dist("stream_updates_per_s", [2 * o["updates"] / o["write_s"] for o in ops], "1/s")
        for key in ops[0]["calls"] if ops else ():
            dist(f"call.{key}_s", [o["calls"][key] for o in ops], "s")
    row("peak_rss_mib", e2e["peak_rss_mib"], "MiB", 1)
    row("failed_ops_ratio", n_failed / max(1, n_ops), "ratio", n_ops)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "landscape_spark", "__init__.py")):
        log(f"[perfbench] no landscape_spark package under {ROOT}: nothing to benchmark")
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import l0_micro, layers
    from perfbench.eventlog import read_ledger
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"[perfbench] unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
        return 2
    work = os.path.join(ROOT, ".perfbench_work", args.workload)
    history = os.path.join(work, "untraced.jsonl")
    if os.path.isdir(work):  # what an earlier run left, except the history
        for name in os.listdir(work):
            path = os.path.join(work, name)
            if path != history:
                shutil.rmtree(path) if os.path.isdir(path) else os.remove(path)
    env = pin_environment(work)
    make = lambda: WORKLOADS[args.workload](args.seed, work)  # noqa: E731

    if not args.trace:
        res, _ = run_once(work, make(), args.seconds, traced=False)
        metrics = end_to_end(res)
        with open(history, "a", encoding="utf-8") as fh:
            fh.write(json.dumps(metrics) + "\n")
        report(args.workload, env, res, metrics, traced=False)
        units = dict(END_TO_END)
    else:
        # the overhead base: earlier untraced runs of this workload here, or
        # an untraced run in a session of its own when there are none
        base = []
        if os.path.exists(history):
            with open(history, encoding="utf-8") as fh:
                base = [json.loads(line) for line in fh if line.strip()]
        if not base:
            base = [end_to_end(run_once(work, make(), args.seconds, traced=False)[0])]
        base_op = statistics.median(b["write_cpu_s.p50"] + b["read_cpu_s.p50"] for b in base)
        workload = make()
        res, tracer = run_once(work, workload, args.seconds, traced=True)
        e2e = end_to_end(res)
        micro = l0_micro.run(workload.kernel_params(), args.seed)
        ledger = read_ledger(os.path.join(work, "eventlog"))
        metrics = layers.compute(
            tracer, ledger, [o for o in res["ops"] if "write_s" in o], micro, CORES,
            (e2e["write_cpu_s.p50"] + e2e["read_cpu_s.p50"]) / base_op,
        )
        tracer.write(os.path.join(work, "spans.jsonl"))
        report(args.workload, env, res, e2e, traced=True)
        for name, unit, _ in layers.PER_LAYER:
            print(f"  {name:44s} {metrics[name]:14.6g} {unit}")
        print(f"[perfbench] spans: {os.path.join(work, 'spans.jsonl')}  "
              f"event log: {os.path.join(work, 'eventlog')}")
        units = layers.UNITS

    attempted = len(res["ops"])
    failed = sum(1 for o in res["ops"] if o["errors"])
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
