"""Benchmark of record for naru_spark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Reads the sf0.1 ``lineitem`` and
``documents`` tables from ``perfbench/data/``, starts Spark at
``local[<usable cores>]``, sets up the workload, runs a fixed number of
operations sized to ``--seconds``, checks the outputs, and prints one JSON
object as the last line of standard output::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are BENCHMARK.json's ``end_to_end`` list;
with ``--trace 1`` spans are recorded around calls into each naru_spark
layer and the metrics are its ``per_layer`` list (0 where a workload does
not use a layer). The line before it, prefixed ``# detail``, carries
sample counts, correctness checks, the box probe and the environment.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")
DATA = os.path.join(ROOT, "perfbench", "data")


def configure_env() -> dict:
    """The run environment, set before numpy or Spark load. The two
    fixed values are also spelled out in BENCHMARK.json's command."""
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.setdefault("OPENBLAS_NUM_THREADS", "1")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_LOCAL_DIRS": os.path.join(BUILD, "spark-local"),
        # Spark's Python workers import naru_spark by module path
        "PYTHONPATH": ROOT,
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": (
            "--conf spark.ui.showConsoleProgress=false "
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell"
        ),
    })
    keys = ("OPENBLAS_NUM_THREADS", "SPARK_DRIVER_MEMORY", "SPARK_GRAFT_CPUS", "SPARK_LOCAL_DIRS", "PYTHONPATH")
    return {k: os.environ[k] for k in keys}


def box_probe_ms() -> float:
    """Time to write two fresh 128 MB arrays (the repo's bench.py probe):
    ~100-200 ms on a healthy box, far more while the host is degraded."""
    import numpy as np

    t0 = time.perf_counter()
    a = np.full(16 * 1024 * 1024, 1.0)
    b = a * 1.0000001
    ms = (time.perf_counter() - t0) * 1e3
    del a, b
    return ms


def vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set of a process, from /proc."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def stop_spark(spark) -> None:
    """Stop Spark and wait for its JVM (and with it the Python workers)
    to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:  # a hung JVM is killed, never left behind
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=names)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "naru_spark")):
        print("run.py: no naru_spark package beside perfbench/; run from a full checkout", file=sys.stderr)
        return 2

    env = configure_env()
    sys.path[0] = ROOT  # import perfbench as a package, never its modules bare
    from perfbench import stats, workloads
    from perfbench.spans import Tracer

    probe_before = box_probe_ms()
    tracer = None
    if args.trace:
        tracer = Tracer()
        workloads.install_spans(tracer)

    from naru_spark.session import get_spark

    t = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}")
    spark_start_s = time.perf_counter() - t
    jvm_pid = spark.sparkContext._gateway.proc.pid
    try:
        ctx = workloads.Ctx(spark, DATA, args.seed, args.seconds, int(env["SPARK_GRAFT_CPUS"]), tracer)
        t_run = time.perf_counter()
        res = workloads.WORKLOADS[args.workload](ctx)
        run_wall_s = time.perf_counter() - t_run
        peak_rss_mb = vm_hwm_mb("self") + vm_hwm_mb(jvm_pid)
    finally:
        if tracer is not None:
            tracer.restore()
        stop_spark(spark)
    probe_after = box_probe_ms()

    ok = [x for x in res.latencies_s if math.isfinite(x)]
    lat_ms = [x * 1e3 for x in res.latencies_s]
    tail = stats.tail(lat_ms)
    p50_ms = stats.median(lat_ms)
    values = {
        "setup_s": res.setup_s,
        "op_p50_ms": p50_ms,
    }
    if tracer is not None:
        spans = sum(1 for s in tracer.spans if s is not None)
        values = {m["name"]: 0.0 for m in spec["per_layer"]}
        values.update(res.layers)
        values.update({
            "latency.tail_ms": tail[1] if tail else 0.0,
            "trace.op_p50_ms": p50_ms,
            "trace.overhead_share": tracer.per_span_cost_s() * spans / run_wall_s,
            "spark.start_s": spark_start_s,
            "process.peak_rss_mb": peak_rss_mb,
            "box.probe_before_ms": probe_before,
            "box.probe_after_ms": probe_after,
        })
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        raise KeyError(f"metrics not produced: {missing}")
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "ops_ok": len(ok),
        "op_s": res.latencies_s if len(res.latencies_s) <= 64 else None,
        "run_wall_s": run_wall_s,
        "op_tail_ms": tail,
        "checks": res.checks,
        "spark_start_s": spark_start_s,
        "peak_rss_mb": peak_rss_mb,
        "box_probe_ms": [probe_before, probe_after],
        "env": env,
        **res.detail,
    }
    print("# detail " + json.dumps(detail, default=str))
    metrics = {}
    for m in wanted:
        v = float(values[m["name"]])
        metrics[m["name"]] = {"value": v if math.isfinite(v) else None, "unit": m["unit"]}
    print(json.dumps({
        "correct": res.correct and all(x["value"] is not None for x in metrics.values()),
        "attempted": len(res.latencies_s),
        "failed": res.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
