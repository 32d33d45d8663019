#!/usr/bin/env python3
"""tokenlake benchmark: one command, two workloads, checked outputs.

    python3 perfbench/run.py --workload ingest|serve|all \
        --seed N --seconds S --trace 0|1 [--scale F]

Run from the repository root. The launcher pins the environment before
Spark starts (local[<cpu count>], local dirs and temp files inside
perfbench/.work, the repository on the workers' PYTHONPATH, a driver heap
sized for a small host and touched at launch, C1-only JIT, one Arrow
thread per worker, no console progress bars), runs the workload(s) in one
process and prints, per workload, one JSON line with the named metrics,
counts, reference-job and host-noise burn times and (with --trace 1)
per-layer metrics, the tracing overhead and each layer's self time. Spans
of a traced run are written to perfbench/.out/. The LAST line is the
summary:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

whose metrics are the end-to-end set (--trace 0) or the per-layer set
(--trace 1) that BENCHMARK.json names. With --workload all the metric keys
are prefixed `<workload>.`.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
NAMES = ("ingest", "serve")
DRIVER_MEM = "1g"


def pin_env(work: str) -> dict:
    """Environment for Spark and its Python workers; returns what was set."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java_opts = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"
        " -XX:TieredStopAtLevel=1"
    )
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
        ),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "TOKENLAKE_DRIVER_MEM": DRIVER_MEM,
        "OMP_NUM_THREADS": "1",
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": (
            "--conf spark.ui.showConsoleProgress=false "
            f"--conf spark.driver.extraJavaOptions='{java_opts}' pyspark-shell"
        ),
    }
    os.environ.update(env)
    import tempfile

    tempfile.tempdir = tmp
    return env


def contract_metrics(res: dict, trace: bool, layer_names: list[str], e2e_names: list[str]) -> dict:
    if trace:
        return {k: {"value": res["layers"][k], "unit": u} for k, u in layer_names}
    return {k: {"value": res["e2e"][k][0], "unit": res["e2e"][k][1]} for k, _ in e2e_names}


def jsonable(x):
    if isinstance(x, float) and not math.isfinite(x):
        return None
    if isinstance(x, dict):
        return {k: jsonable(v) for k, v in x.items()}
    if isinstance(x, (list, tuple)):
        return [jsonable(v) for v in x]
    if hasattr(x, "item"):  # numpy scalars
        return x.item()
    return x


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=(*NAMES, "all"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="multiplies every corpus size (the smoke test runs tiny)")
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "tokenlake")) or not os.path.isfile(spec_path):
        print(f"no tokenlake package or BENCHMARK.json under {ROOT}", file=sys.stderr)
        return 2
    with open(spec_path) as f:
        spec = json.load(f)
    e2e_names = [(m["name"], m["unit"]) for m in spec["end_to_end"]]
    layer_names = [(m["name"], m["unit"]) for m in spec["per_layer"]]

    work = os.path.join(HERE, ".work", str(os.getpid()))
    env = pin_env(work)
    sys.path[:0] = [ROOT, HERE]
    from tracing import PeakRss, Tracer
    from workloads import Bench

    names = NAMES if args.workload == "all" else (args.workload,)
    results = []
    bench = None
    try:
        with PeakRss() as rss:
            for name in names:
                if bench is not None:
                    # each workload starts its own session, as in a run of
                    # that workload alone (the JVM stays up)
                    bench.spark.stop()
                bench = Bench(work, args.seed, args.seconds, bool(args.trace), args.scale, rss, Tracer())
                res = bench.run(name)
                if args.trace:
                    spans = os.path.join(HERE, ".out", f"spans_{name}_seed{args.seed}.jsonl")
                    bench.tr.write(spans)
                    res["spans_file"] = os.path.relpath(spans, ROOT)
                res["seed"], res["env"] = args.seed, env
                results.append(res)
                print(json.dumps(jsonable(res)), flush=True)
    finally:
        stop_spark(bench.spark if bench is not None else None)
        shutil.rmtree(work, ignore_errors=True)

    metrics = {}
    for res in results:
        m = contract_metrics(res, bool(args.trace), layer_names, e2e_names)
        prefix = f"{res['workload']}." if args.workload == "all" else ""
        metrics.update({prefix + k: v for k, v in m.items()})
    attempted = sum(r["attempted"] for r in results)
    failed = sum(r["failed"] for r in results)
    summary = {
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }
    print(json.dumps(jsonable(summary)), flush=True)
    return 0


def stop_spark(spark) -> None:
    """Stop the SparkContext and the JVM it launched, and wait for the JVM
    (its Python workers exit with it)."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


if __name__ == "__main__":
    sys.exit(main())
